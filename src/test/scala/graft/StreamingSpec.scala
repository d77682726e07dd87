package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streams

/** Multi-batch streaming semantics that the single-batch verify queries
  * can't exercise: watermark lateness, cross-batch state, streaming dedup
  * across batches.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, uid: Long, minutes: Long): (Long, Long, java.sql.Timestamp) =
    (id, uid, new java.sql.Timestamp(minutes * 60000))

  test("watermark drops late rows in append mode across micro-batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val df = mem.toDF().toDF("event_id", "user_id", "ts")
    val agg = df.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(ev(1, 1, 5), ev(2, 1, 12))   // windows [0,10) and [10,20)
      q.processAllAvailable()
      mem.addData(ev(3, 1, 60))                 // advances watermark to 50min
      q.processAllAvailable()
      mem.addData(ev(4, 1, 7))                  // LATE: before watermark -> dropped
      q.processAllAvailable()
      mem.addData(ev(5, 1, 120))                // flush: closes [60,70)
      q.processAllAvailable()
      val rows = spark.table("wm_test").select("ws", "n")
        .as[(java.sql.Timestamp, Long)].collect().toMap
      // the late event 4 must NOT have re-opened/incremented window [0,10)
      assert(rows(new java.sql.Timestamp(0)) == 1L)
      assert(rows(new java.sql.Timestamp(10 * 60000)) == 1L)
    } finally q.stop()
  }

  test("stateful sessions carry GroupState across micro-batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val df = mem.toDF().toDF("event_id", "user_id", "ts")
    val q = Streams.userSessions(df).toDF()
      .writeStream.format("memory").queryName("sess_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(ev(1, 1, 0), ev(2, 1, 10))    // one session (10 < 30 gap)
      q.processAllAvailable()
      mem.addData(ev(3, 1, 15))                  // continues SAME session across batches
      q.processAllAvailable()
      mem.addData(ev(4, 1, 120))                 // new session (gap > 30)
      q.processAllAvailable()
      val last = spark.table("sess_test")
        .orderBy(col("last_ts_us").desc).select("n_sessions").as[Long].head()
      assert(last == 2L) // NOT 3: batch boundary must not split a session
    } finally q.stop()
  }

  test("streaming dedup suppresses duplicates arriving in later batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("user_id", "event_type")
    val q = df.dropDuplicates("user_id", "event_type")
      .writeStream.format("memory").queryName("dd_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, "view"), (1L, "view"), (2L, "click"))
      q.processAllAvailable()
      mem.addData((1L, "view"), (2L, "view"))   // (1,view) is a cross-batch dup
      q.processAllAvailable()
      assert(spark.table("dd_test").count() == 3)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark evicts dedup state past the watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val df = mem.toDF().toDF("event_id", "user_id", "ts")
    val q = graft.streaming.Streams.ingestDedup(df, "10 minutes")
      .writeStream.format("memory").queryName("ddw_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(ev(1, 1, 0), ev(1, 1, 1))      // in-watermark dup suppressed
      q.processAllAvailable()
      mem.addData(ev(2, 1, 60))                  // watermark -> 50min, evicts id 1
      q.processAllAvailable()
      mem.addData(ev(1, 1, 61))                  // same id AFTER eviction: re-emitted
      q.processAllAvailable()
      // 3 emissions: id1 (once), id2, id1 again after state eviction —
      // bounded-state dedup trades exactness beyond the watermark for
      // state that cannot grow without bound (the only viable contract
      // on an unbounded stream)
      assert(spark.table("ddw_test").count() == 3)
    } finally q.stop()
  }

  test("guardedBatch falls back to the original batch on runtime error") {
    val boom = udf((d: Double) => {
      if (d == 0.0) throw new IllegalStateException("runtime boom")
      d
    })
    val batch = Seq(("a", 1.0), ("b", 0.0)).toDF("k", "v")
    val out = Streams.guardedBatch { df =>
      df.withColumn("bad", boom(col("v")))
    }(batch)
    assert(out.columns.toSeq == Seq("k", "v")) // original, not the failed pipeline
    assert(out.count() == 2)
    // a non-local input fails in count(), after cache() registered the
    // attempt: the fallback must release that entry, since the caller
    // only ever sees the original batch
    val rangeBatch = spark.range(2).select(col("id").cast("double").as("v"))
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    var attempt: org.apache.spark.sql.DataFrame = null
    val out2 = Streams.guardedBatch { df =>
      attempt = df.withColumn("bad", boom(col("v")))
      attempt
    }(rangeBatch)
    assert(out2.columns.toSeq == Seq("v") && out2.count() == 2)
    assert(attempt.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "failed attempt is still registered in the cache")
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(rddsBefore),
      "failed attempt left a persisted RDD behind")
    // stopping a query interrupts its batch: that must propagate, not
    // deliver a passthrough batch
    intercept[InterruptedException] {
      Streams.guardedBatch(_ => throw new InterruptedException("stop"))(batch)
    }
  }

  test("O9 hot reconfigure: checkpointed state survives a config swap (vs reference losing globals)") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val mem = MemoryStream[(String, Double)]
    def pipeline(allow: Seq[String]) = mem.toDF().toDF("asset_code", "v")
      .filter(col("asset_code").isin(allow: _*))
      .groupBy("asset_code").agg(count(lit(1)).as("n"))
    // start with allowlist {a, b}
    var q = Streams.reconfigure(None, pipeline(Seq("a", "b")), ckpt, "recfg_test",
      OutputMode.Complete())
    try {
      mem.addData(("a", 1.0), ("a", 2.0), ("b", 3.0), ("c", 4.0))
      q.processAllAvailable()
      val before = spark.table("recfg_test").as[(String, Long)].collect().toMap
      assert(before == Map("a" -> 2L, "b" -> 1L)) // c filtered by config
      // hot swap: narrow the allowlist to {a}; same checkpoint
      q = Streams.reconfigure(Some(q), pipeline(Seq("a")), ckpt, "recfg_test",
        OutputMode.Complete())
      mem.addData(("a", 5.0), ("b", 6.0))
      q.processAllAvailable()
      val after = spark.table("recfg_test").as[(String, Long)].collect().toMap
      // b's count SURVIVES the reconfigure (checkpointed state), new b rows
      // are filtered by the new config; a keeps accumulating
      assert(after == Map("a" -> 3L, "b" -> 1L))
    } finally q.stop()
  }

  test("O9 zero-downtime reconfigure: param swap mid-stream, same query, no dropped or duplicated rows") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "event_type", "value")
    val cfg = new Streams.HotConfig(graft.ops.FilterConfig(
      scale = 2.0, offset = 0.0, assetAllowlist = Some(Seq("a", "b"))))
    // event_id -> (event_type, scaled); insert asserts exactly-once delivery
    val got = new scala.collection.concurrent.TrieMap[Long, (String, Double)]()
    val q = Streams.hotScaledStream(df, cfg) { (out, _) =>
      out.select("event_id", "event_type", "scaled").collect().foreach { r =>
        val prev = got.putIfAbsent(r.getLong(0), (r.getString(1), r.getDouble(2)))
        assert(prev.isEmpty, s"row ${r.getLong(0)} delivered twice")
      }
    }
    try {
      val runId = q.runId
      mem.addData((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      q.processAllAvailable()
      // swap BETWEEN batches: narrower allowlist, different affine params
      cfg.swap(graft.ops.FilterConfig(
        scale = 100.0, offset = 1.0, assetAllowlist = Some(Seq("a"))))
      mem.addData((4L, "a", 1.0), (5L, "b", 2.0))
      q.processAllAvailable()
      // the QUERY never restarted (vs Streams.reconfigure, which starts a
      // new run): zero downtime, offsets continuous across the swap
      assert(q.isActive && q.runId == runId)
      // batch 1 under the old config: a and b kept, scaled ×2
      assert(got(1L) == (("a", 20.0)) && got(2L) == (("b", 40.0)))
      assert(!got.contains(3L)) // c: filtered by allowlist, not dropped by the swap
      // batch 2 under the new config: only a survives, ×100 + 1
      assert(got(4L) == (("a", 101.0)))
      assert(!got.contains(5L)) // b now outside the allowlist
    } finally q.stop()
  }

  test("O1 source factory: rate source flows through the hot-config pipeline end-to-end") {
    val src = Streams.eventsSource(spark, "rate", options = Map("rowsPerSecond" -> "500"))
    assert(src.isStreaming)
    assert(src.columns.toSeq == Seq("event_id", "ts", "user_id", "event_type", "value"))
    val cfg = new Streams.HotConfig(graft.ops.FilterConfig(
      scale = 3.0, offset = 1.0, assetAllowlist = None))
    val got = new scala.collection.concurrent.TrieMap[Long, Double]()
    val q = Streams.hotScaledStream(src, cfg) { (out, _) =>
      out.select("event_id", "scaled").collect()
        .foreach(r => got(r.getLong(0)) = r.getDouble(1))
    }
    try {
      val deadline = System.currentTimeMillis + 15000
      while (got.isEmpty && System.currentTimeMillis < deadline) {
        Thread.sleep(300); q.processAllAvailable()
      }
      assert(got.nonEmpty, "rate source produced no rows in 15s")
      // the tick->event mapping is deterministic: scaled = (id % 1000) * 3 + 1
      got.foreach { case (id, scaled) =>
        assert(scaled == (id % 1000).toDouble * 3.0 + 1.0, s"event $id scaled $scaled")
      }
    } finally q.stop()
  }

  test("O1 source factory rejects unknown formats with the supported list") {
    val e = intercept[IllegalArgumentException] {
      Streams.eventsSource(spark, "socket")
    }
    assert(e.getMessage.contains("file | rate | kafka"))
  }

  test("streaming ewma continues each key's recurrence across micro-batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val df = mem.toDF().toDF("user_id", "event_id", "ts", "value")
    val q = Streams.ewmaStream(df, alpha = 0.25).toDF()
      .writeStream.format("memory").queryName("ewma_test")
      .outputMode(OutputMode.Append()).start()
    try {
      def t(m: Long) = new java.sql.Timestamp(m * 60000)
      mem.addData((1L, 1L, t(0), 10.0), (1L, 2L, t(1), 20.0))
      q.processAllAvailable()
      mem.addData((1L, 3L, t(2), 30.0)) // must fold onto batch-1 state
      q.processAllAvailable()
      val out = spark.table("ewma_test").orderBy("event_id")
        .select("ewma").as[Double].collect().toSeq
      val e2 = 0.25 * 20.0 + 0.75 * 10.0
      val e3 = 0.25 * 30.0 + 0.75 * e2   // continuation, NOT a restart at 30
      assert(out == Seq(10.0, e2, e3))
    } finally q.stop()
  }

  test("foreachBatch sink is idempotent per batchId (exactly-once on retry)") {
    // O2 sink surface: foreachBatch receives (df, batchId); writing to a
    // batchId-derived location with overwrite makes redelivery of the same
    // batch (Spark's at-least-once contract after failures) idempotent —
    // the exactly-once recipe for arbitrary sinks.
    implicit val sc = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_febatch").toString
    val mem = MemoryStream[(Long, Double)]
    def writeBatch(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
      df.write.mode("overwrite").parquet(s"$root/batch=$batchId")
    val q = mem.toDF().toDF("id", "v").writeStream
      .foreachBatch(writeBatch _).start()
    try {
      mem.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      mem.addData((3L, 3.0))
      q.processAllAvailable()
      // simulate redelivery of batch 1: same data, same batchId → overwrite
      writeBatch(Seq((3L, 3.0)).toDF("id", "v"), 1L)
      val all = spark.read.parquet(s"$root/batch=*").count()
      assert(all == 3) // no duplicates after the replay
    } finally q.stop()
  }

  test("transformWithState carries ValueState across micro-batches (RocksDB store)") {
    // isolated session so the RocksDB provider conf doesn't leak to the
    // other streaming tests on the shared session
    val s2 = spark.newSession()
    implicit val sc = s2.sqlContext
    import s2.implicits._
    val mem = MemoryStream[(String, Long, Double)]
    val df = mem.toDF().toDF("event_type", "user_id", "value")
    val q = Streams.runningStats(df).toDF()
      .writeStream.format("memory").queryName("tws_test")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(("a", 1L, 10.0), ("a", 2L, 5.0), ("b", 7L, 1.0))
      q.processAllAvailable()
      mem.addData(("a", 4L, 7.5))
      q.processAllAvailable()
      // update-mode memory sink appends each batch's updates; the LAST row
      // per key is the running total — batch 2's "a" must include batch 1
      val last = s2.table("tws_test")
        .as[(String, Long, Long, Double)].collect()
        .groupBy(_._1).map { case (k, rows) => k -> rows.last }
      assert(last("a") == (("a", 3L, 7L, 10.0)))   // 3 rows, uid sum 1+2+4, max 10
      assert(last("b") == (("b", 1L, 7L, 1.0)))
    } finally q.stop()
  }
}
