package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streams
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager => SparkCheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

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
    // a non-local input fails in the guard's pass, after cache()
    // registered the attempt: the fallback must release that entry, since
    // the caller only ever sees the original batch
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

  /** `f`'s result, the jobs it launched and the shuffle-map stages those
    * jobs hold, skipped ones included: every stage of a job but its
    * result stage.
    */
  private def withJobStages[T](f: => T): (T, Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val shuffleStages = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        shuffleStages.addAndGet(e.stageInfos.size - 1); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // withJobCount's closing marker is delivered after f's jobs, on the
    // same listener queue, so this listener has seen them all by then
    try {
      val (out, jobs) = withJobCount(f)
      (out, jobs, shuffleStages.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("guardedBatch checks a clean batch in one shuffle-free job that " +
      "fills the cache, and a failure in the last partition passes the " +
      "batch through leaving no cache entry, with AQE on and off") {
    val boom = udf((d: Double) => {
      if (d == 399.0) throw new IllegalStateException("runtime boom")
      d * 2
    })
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try Seq("true", "false").foreach { on =>
      spark.conf.set("spark.sql.adaptive.enabled", on)
      def batch(n: Long) = spark.range(0, n, 1, 4)
        .select(col("id"), col("id").cast("double").as("v"))
      val pipeline = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("w", boom(col("v")))
      val held = sc.getPersistentRDDs // strong refs: GC cannot shrink the set
      val before = held.keySet
      val (out, jobs, shuffles) = withJobStages(
        Streams.guardedBatch(pipeline)(batch(200)))
      assert(out.columns.toSeq == Seq("id", "v", "w"), s"AQE $on")
      assert(jobs == 1 && shuffles == 0, s"AQE $on: the guard launched " +
        s"$jobs jobs holding $shuffles shuffle stages")
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.size == 1, s"AQE $on: ${added.size} new cache entries")
      val info = sc.getRDDStorageInfo.find(i => added(i.id))
      assert(info.exists(i => i.numCachedPartitions == i.numPartitions),
        s"AQE $on: the guard left the cache partly filled: $info")
      val (rows, readJobs) = withJobCount(out.collect())
      assert(rows.length == 200 && readJobs == 1,
        s"AQE $on: reading the guarded frame launched $readJobs jobs")
      out.unpersist(blocking = true)
      // row 399 sits in the last of the four partitions
      val in = batch(400)
      val passed = Streams.guardedBatch(pipeline)(in)
      assert(passed.columns.toSeq == Seq("id", "v") &&
        sortedRows(passed) == sortedRows(in), s"AQE $on: no passthrough")
      assert(sc.getPersistentRDDs.keySet == before,
        s"AQE $on: the failed attempt's cache entry survived")
      java.lang.ref.Reference.reachabilityFence(held)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
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

  // ---- The streaming WAL's checkpoint file manager (graft.streaming.CheckpointFileManager) ----

  private val managerKey = graft.streaming.CheckpointFileManager.ClassKey

  /** The manager Spark builds for `path` under `s`'s Hadoop conf, as the
    * offset and commit logs get it.
    */
  private def walManager(s: org.apache.spark.sql.SparkSession, path: String,
                         extra: Map[String, String] = Map.empty) = {
    val conf = s.sessionState.newHadoopConf()
    extra.foreach { case (k, v) => conf.set(k, v) }
    SparkCheckpointFileManager.create(new Path(path), conf)
  }

  /** Runs one hotScaledStream trigger on `s`; returns `s`. */
  private def oneHotTrigger(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession = {
    implicit val sc = s.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val cfg = new Streams.HotConfig(graft.ops.FilterConfig(
      scale = 1.0, offset = 0.0, assetAllowlist = None))
    val q = Streams.hotScaledStream(mem.toDF().toDF("event_id", "event_type", "value"),
      cfg)((out, _) => { out.collect(); () })
    try { mem.addData((1L, "a", 1.0)); q.processAllAvailable() } finally q.stop()
    s
  }

  test("a graft stream start names the fork-free WAL manager: file: paths " +
      "get Spark's FileSystem-based manager, other schemes Spark's own choice") {
    val s2 = oneHotTrigger(spark.newSession())
    val dir = java.nio.file.Files.createTempDirectory("graft_wal").toString
    for (p <- Seq(dir, s"file:$dir")) walManager(s2, p) match {
      case g: graft.streaming.CheckpointFileManager =>
        assert(g.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager], p)
        assert(g.isLocal, p)
      case other => fail(s"$p: offset log would use ${other.getClass.getName}")
    }
    // a non-file scheme with a FileContext binding: the delegate is the
    // manager Spark picks when no class is named (FileContext-based)
    val fc = Map("fs.graftfc.impl" -> classOf[GraftFcLocalFileSystem].getName,
      "fs.AbstractFileSystem.graftfc.impl" -> classOf[GraftFcFs].getName)
    val remote = s"graftfc://$dir/ckpt"
    val sparkChoice = walManager(spark.newSession(), remote, fc).getClass
    assert(sparkChoice == classOf[FileContextBasedCheckpointFileManager])
    walManager(s2, remote, fc) match {
      case g: graft.streaming.CheckpointFileManager =>
        assert(g.delegate.getClass == sparkChoice)
      case other => fail(s"$remote: offset log would use ${other.getClass.getName}")
    }
    // the scheme decision itself, for schemes no FileContext can be built
    // for offline
    val conf = new org.apache.hadoop.conf.Configuration()
    for ((p, local) <- Seq("/tmp/c" -> true, "file:///tmp/c" -> true,
        "hdfs://nn:8020/c" -> false, "s3a://bucket/c" -> false, "graftfc:///c" -> false))
      assert(graft.streaming.CheckpointFileManager.isFileScheme(new Path(p), conf) == local, p)
  }

  test("a session that already names a checkpoint file manager keeps it; " +
      "the graft start writes no conf") {
    val s2 = spark.newSession()
    val named = classOf[FileContextBasedCheckpointFileManager].getName
    s2.conf.set(managerKey, named)
    val before = s2.conf.getAll
    oneHotTrigger(s2)
    assert(s2.conf.getAll == before)
    assert(walManager(s2, "/tmp/c").isInstanceOf[FileContextBasedCheckpointFileManager])
    // the same choice made in the SparkContext's Hadoop conf
    val hadoop = spark.sparkContext.hadoopConfiguration
    hadoop.set(managerKey, named)
    try {
      val s3 = oneHotTrigger(spark.newSession())
      assert(s3.conf.getOption(managerKey).isEmpty)
      assert(walManager(s3, "/tmp/c").isInstanceOf[FileContextBasedCheckpointFileManager])
    } finally hadoop.unset(managerKey)
  }

  test("a checkpoint written by Spark's default manager, state included, resumes " +
      "under graft's: every row counted exactly once, the same .crc files on both sides") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_wal_resume").toString
    val (in, ckpt) = (s"$root/in", s"$root/ckpt")
    def land(rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("event_id", "event_type", "value").coalesce(1)
        .write.mode("append").parquet(in)
    land(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    val schema = spark.read.parquet(in).schema
    // a stateful query, so the checkpoint holds state-store files and the
    // file source's metadata log besides the offset and commit logs
    def counts(s: org.apache.spark.sql.SparkSession) =
      s.readStream.schema(schema).parquet(in).groupBy("event_type").count()
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val deliver: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, id) =>
      b.as[(String, Long)].collect().foreach { case (t, n) => got.add((id, t, n)) }
    // leg 1: Spark's default manager (nothing named), one trigger, stop
    val s1 = spark.newSession()
    assert(s1.conf.getOption(managerKey).isEmpty)
    assert(walManager(s1, ckpt).isInstanceOf[FileContextBasedCheckpointFileManager])
    val q1 = counts(s1).writeStream.option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update).foreachBatch(deliver).start()
    try q1.processAllAvailable() finally q1.stop()
    def crcs(log: String) = new java.io.File(s"$ckpt/$log").list().filter(_.endsWith(".crc")).toSet
    val statePart = new java.io.File(s"$ckpt/state/0/0")
    def stateFiles = statePart.listFiles().filter(_.isFile).map(_.getName).toSet
    assert(crcs("offsets") == Set(".0.crc") && crcs("commits") == Set(".0.crc"))
    // Hadoop's `.crc` beside each file, and beside Spark's own state
    // checksum file when that is on
    val leg1State = stateFiles
    assert(leg1State("1.delta") && leg1State(".1.delta.crc"), leg1State)
    // leg 2: new rows, the same query resumed through Streams.start on a
    // fresh session
    land(Seq((4L, "a", 4.0), (5L, "b", 5.0)))
    val s2 = spark.newSession()
    val q2 = Streams.start(counts(s2))(_.option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update).foreachBatch(deliver))
    try q2.processAllAvailable() finally q2.stop()
    assert(walManager(s2, ckpt).isInstanceOf[graft.streaming.CheckpointFileManager])
    assert(walManager(s2, statePart.toString).isInstanceOf[graft.streaming.CheckpointFileManager])
    // leg 2 counts on from leg 1's state: a and b reach 2, batch 0 is not
    // replayed
    assert(got.asScala.toSet == Set((0L, "a", 1L), (0L, "b", 1L), (0L, "c", 1L),
      (1L, "a", 2L), (1L, "b", 2L)))
    assert(got.size == 5)
    assert(crcs("offsets") == Set(".0.crc", ".1.crc") &&
      crcs("commits") == Set(".0.crc", ".1.crc"))
    assert(stateFiles == leg1State ++ leg1State.map(_.replace("1.delta", "2.delta")))
    // each side's files verify against their checksums when read by the
    // other side's API (ChecksumFileSystem vs ChecksumFs)
    val conf = s2.sessionState.newHadoopConf()
    val fsRead = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val fcRead = org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    def read(open: Path => java.io.InputStream, p: String) = {
      val is = open(new Path(p))
      try is.readAllBytes() finally is.close()
    }
    for (log <- Seq("offsets", "commits")) {
      assert(new String(read(fsRead.open(_), s"$ckpt/$log/0"), "UTF-8").startsWith("v"), log)
      assert(new String(read(fcRead.open(_), s"$ckpt/$log/1"), "UTF-8").startsWith("v"), log)
    }
    assert(read(fsRead.open(_), s"$statePart/1.delta").nonEmpty)
    assert(read(fcRead.open(_), s"$statePart/2.delta").nonEmpty)
  }
}

/** A local disk under the `graftfc:` scheme, for a FileContext binding
  * that is not `file:` (StreamingSpec's WAL manager choice).
  */
class GraftFcLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfc:///")
}

/** The FileContext side of [[GraftFcLocalFileSystem]]. */
class GraftFcFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new GraftFcLocalFileSystem,
      conf, "graftfc", false)
