package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.ops.CoreOps
import graft.ext.Dedup
import graft.streaming.Streams

/** Property-based checks (SURVEY.md §5.4): algebraic laws of the operator
  * library under randomized inputs (plain ScalaCheck generators; seeds vary
  * per run, shrinking not needed at this size).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int = 15): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  private val smallDouble = Gen.choose(-1e6, 1e6)

  test("affine composition law holds for random params and data") {
    val cases = samples(for {
      xs <- Gen.nonEmptyListOf(smallDouble)
      a1 <- smallDouble; b1 <- smallDouble
      a2 <- smallDouble; b2 <- smallDouble
    } yield (xs.take(6), a1, b1, a2, b2))
    cases.foreach { case (xs, a1, b1, a2, b2) =>
      val composed = xs.toDF("v")
        .transform(CoreOps.scaleOffset(Seq("v"), a1, b1))
        .transform(CoreOps.scaleOffset(Seq("v"), a2, b2))
        .as[Double].collect().toSeq
      val manual = xs.map(x => (x * a1 + b1) * a2 + b2)
      assert(composed == manual)
    }
  }

  test("assetFilter is idempotent") {
    samples(Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d"))).foreach { as =>
      val df = as.zipWithIndex.map { case (a, i) => (a, i.toLong) }.toDF("asset_code", "v")
      val once = df.transform(CoreOps.assetFilter("asset_code", Seq("a", "b")))
      val twice = once.transform(CoreOps.assetFilter("asset_code", Seq("a", "b")))
      assert(once.collect().toSeq == twice.collect().toSeq)
    }
  }

  test("exact dedup conserves row count and is idempotent") {
    samples(Gen.nonEmptyListOf(Gen.oneOf("x", "y", "z", "w"))).foreach { ts =>
      val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val d1 = Dedup.exactKeepMin(df, col("text"), col("doc_id"))
      assert(d1.agg(sum("n_copies")).as[Long].head() == ts.length.toLong)
      val survivors = df.join(d1, df("doc_id") === d1("keep_id")).select("doc_id", "text")
      val d2 = Dedup.exactKeepMin(survivors, col("text"), col("doc_id"))
      assert(d2.filter(col("n_copies") =!= 1).count() == 0)
    }
  }

  test("jaccard pairs are canonical (i < j) and within [0, 1]") {
    val docGen = Gen.listOfN(6, Gen.listOfN(10, Gen.oneOf("p", "q", "r", "s", "t")))
    samples(docGen, 5).foreach { docs =>
      val df = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.0)
        .as[(Long, Long, Double)].collect()
        .foreach { case (i, j, jac) => assert(i < j && jac >= 0.0 && jac <= 1.0) }
    }
  }

  test("jaccard pairs leave no cache entry behind and equal the pairwise " +
      "set-intersection reference") {
    val docGen = Gen.listOfN(6, Gen.listOfN(10, Gen.oneOf("p", "q", "r", "s", "t")))
    val sc = spark.sparkContext
    samples(docGen, 5).foreach { docs =>
      val df = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      // held: the registry keeps entries by weak reference (see the
      // guardedBatch property below)
      val held = sc.getPersistentRDDs
      val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.2)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      // ...and neither do the other pair finders
      Dedup.crossCorpusJaccardPairs(df.filter(col("doc_id") < 3),
        df.filter(col("doc_id") >= 3), "doc_id", "text", 3, 0.2).collect()
      Dedup.minhashLshPairs(df, "doc_id", "text", 3, 0.2).collect()
      Dedup.simhashPairs(df, "doc_id", "text", 3).collect()
      assert(sc.getPersistentRDDs.keySet == held.keySet,
        "a call left a cache entry behind")
      java.lang.ref.Reference.reachabilityFence(held)
      val sets = Dedup.shingleSets(df, "doc_id", "text", 3)
      val want = sets.as("a").join(sets.as("b"), col("a.sid") < col("b.sid"))
        .select(col("a.sid"), col("b.sid"),
          size(array_intersect(col("a.sh"), col("b.sh"))).as("inter"),
          col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
        .filter(col("inter") > 0)
        .select(col("a.sid"), col("b.sid"),
          col("inter") / (col("na") + col("nb") - col("inter")))
        .as[(Long, Long, Double)].collect().filter(_._3 >= 0.2).sorted.toSeq
      assert(got == want)
    }
  }

  test("connected components match a union-find reference on random graphs") {
    val graphGen = for {
      n <- Gen.choose(2, 14)
      edges <- Gen.listOfN(n, for {
        i <- Gen.choose(0L, 11L); j <- Gen.choose(0L, 11L) if i != j
      } yield (math.min(i, j), math.max(i, j)))
    } yield edges.distinct
    samples(graphGen, 6).filter(_.nonEmpty).foreach { edges =>
      // union-find ground truth
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (i, j) => parent(find(i)) = find(j) }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val truth = nodes.groupBy(find).values
        .map(g => g.min -> g.toSet).toMap
      val got = Dedup.connectedComponents(edges.toDF("i", "j"))
        .as[(Long, Long)].collect().groupBy(_._2)
        .map { case (lbl, xs) => lbl -> xs.map(_._1).toSet }
      assert(got == truth)
    }
  }

  test("salted join returns exactly the plain join's rows on random data") {
    val gen = for {
      left <- Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 5L), Gen.choose(-100, 100)))
      right <- Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 5L), Gen.alphaStr.map(_.take(4))))
    } yield (left.take(30), right.take(8))
    samples(gen, 5).foreach { case (l, r) =>
      val left = l.toDF("k", "v")
      val right = r.toDF("rk", "w")
      val plain = left.join(right, col("k") === col("rk"))
        .select("k", "v", "rk", "w").collect().toSeq.sortBy(_.toString)
      val salted = graft.ops.Salt.saltedJoin(left, right, col("k"), col("rk"), buckets = 4)
        .select("k", "v", "rk", "w").collect().toSeq.sortBy(_.toString)
      assert(salted == plain)
    }
  }

  test("IVF nprobe=2 top-k scores dominate nprobe=1 (superset candidate space)") {
    val vecs = (0L until 20L).map { i =>
      (i, Array.tabulate(4)(d => math.sin(i * 3 + d).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val pred = col("vec_id") % 5 === 0
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.groupBy("qid").agg(sum("cos").as("s")).as[(Long, Double)].collect().toMap
    val one = scores(graft.ext.Similarity.ivfTopK(vecs, 3, 2, pred))
    val two = scores(graft.ext.Similarity.ivfProbeTopK(vecs, 3, 2, pred, nprobe = 2))
    one.foreach { case (qid, s1) =>
      assert(two(qid) >= s1 - 1e-12, s"nprobe=2 must not lose recall for q$qid")
    }
  }

  test("minhash signature is permutation-invariant in the shingle set") {
    val fams = Seq((1664525L, 1013904223L), (22695477L, 1L))
    def sig(ss: Seq[String]): Seq[Long] =
      Seq(Tuple1(ss)).toDF("sh")
        .select(graft.functions.HashExpressions
          .minhashSignature(col("sh"), fams.map(_._1), fams.map(_._2)).as("sig"))
        .as[Seq[Long]].head()
    samples(Gen.nonEmptyListOf(Gen.oneOf("aa", "bb", "cc", "dd")), 8).foreach { sh =>
      assert(sig(sh) == sig(scala.util.Random.shuffle(sh)))
    }
  }

  private def tsDf(vals: Seq[Double]) =
    vals.zipWithIndex.map { case (v, i) =>
      (1L, i.toLong, new java.sql.Timestamp(i * 1000L), v)
    }.toDF("k", "id", "ts", "v")

  test("ewma stays within the running min/max envelope of its inputs") {
    samples(Gen.nonEmptyListOf(smallDouble), 8).foreach { vs0 =>
      val vs = vs0.take(12)
      val out = graft.ops.TimeSeriesOps.ewma(tsDf(vs), "k", "id", "ts", "v", 0.25)
        .orderBy("id").select("ewma").as[Double].collect()
      out.zipWithIndex.foreach { case (e, i) =>
        val seen = vs.take(i + 1)
        assert(e >= seen.min - 1e-9 && e <= seen.max + 1e-9,
          s"ewma $e escaped [${seen.min}, ${seen.max}]")
      }
    }
  }

  test("deadband output is a subset, keeps the first row, and consecutive kept values differ > tol") {
    samples(for {
      vs <- Gen.nonEmptyListOf(Gen.choose(-100.0, 100.0))
      tol <- Gen.choose(1.0, 50.0)
    } yield (vs.take(12), tol), 8).foreach { case (vs, tol) =>
      val kept = graft.ops.TimeSeriesOps.deadband(tsDf(vs), "k", "id", "ts", "v", tol)
        .orderBy("id").collect().map(r => (r.getLong(1), r.getDouble(2)))
      assert(kept.head._1 == 0L)
      assert(kept.forall { case (id, v) => vs(id.toInt) == v }) // subset of input
      kept.sliding(2).foreach {
        case Array((_, a), (_, b)) => assert(math.abs(b - a) > tol)
        case _ =>
      }
    }
  }

  test("gap-fill emits a complete contiguous 15-minute grid per key") {
    samples(Gen.nonEmptyListOf(Gen.choose(0, 40)), 8).foreach { slots =>
      val df = slots.distinct.zipWithIndex.map { case (slot, i) =>
        (1L, i.toLong, new java.sql.Timestamp(slot * 900000L), 1.0)
      }.toDF("k", "id", "ts", "v")
      val out = graft.ops.TimeSeriesOps.gapFillForward(df, "k", "ts", "v")
        .orderBy("slot").select("slot").as[java.sql.Timestamp].collect()
      val expected = (slots.min to slots.max).map(s => new java.sql.Timestamp(s * 900000L))
      assert(out.toSeq == expected)
    }
  }

  test("lttb keeps exactly min(n, m) points including both endpoints") {
    samples(Gen.nonEmptyListOf(smallDouble), 8).foreach { vs =>
      val df = vs.zipWithIndex.map { case (v, i) =>
        (1L, i.toLong, new java.sql.Timestamp(i * 60000L), v)
      }.toDF("k", "id", "ts", "v")
      val kept = graft.ops.TimeSeriesOps.lttb(df, "k", "id", "ts", "v", m = 6)
        .orderBy("id").select("id").as[Long].collect().toSeq
      assert(kept.length == math.min(vs.length, 6))
      assert(kept.head == 0L && kept.last == (vs.length - 1).toLong)
      assert(kept == kept.distinct)
    }
  }

  test("lttb selection is invariant to input partitioning") {
    val vs = samples(smallDouble, 40)
    val rows = vs.zipWithIndex.map { case (v, i) =>
      (1L, i.toLong, new java.sql.Timestamp(i * 60000L), v)
    }
    val a = graft.ops.TimeSeriesOps
      .lttb(rows.toDF("k", "id", "ts", "v"), "k", "id", "ts", "v", 8)
      .orderBy("id").select("id").as[Long].collect().toSeq
    val b = graft.ops.TimeSeriesOps
      .lttb(rows.toDF("k", "id", "ts", "v").repartition(7), "k", "id", "ts", "v", 8)
      .orderBy("id").select("id").as[Long].collect().toSeq
    assert(a == b)
  }

  test("cusum fires only above threshold and is partitioning-invariant") {
    val vs = samples(Gen.choose(0.0, 120.0), 60)
    val rows = vs.zipWithIndex.map { case (v, i) =>
      (i % 3L, i.toLong, new java.sql.Timestamp(i * 60000L), v)
    }
    def run(df: org.apache.spark.sql.DataFrame) = graft.ops.TimeSeriesOps
      .cusum(df, "k", "id", "ts", "v", target = 50.0, slack = 10.0, threshold = 100.0)
      .orderBy("id").collect().toSeq.map(r => (r.getLong(1), r.getDouble(3)))
    val out = run(rows.toDF("k", "id", "ts", "v"))
    assert(out.forall(_._2 > 100.0))
    assert(out == run(rows.toDF("k", "id", "ts", "v").repartition(5)))
  }

  test("edit-distance pairs: ordered, banded, and id-relabel stable") {
    val docs = Seq(
      (1L, "prefix prefix prefix prefix AAAA tail one"),
      (2L, "prefix prefix prefix prefix AAAA tail two"),
      (3L, "prefix prefix prefix prefix AAAA tail one"),
      (9L, "other other other other other different")
    ).toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(docs, "doc_id", "text", 16, 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.forall { case (i, j, d) => i < j && d >= 0 && d <= 10 })
    // relabeling ids must relabel pairs, not change the pair structure
    val relabeled = Dedup.editDistancePairs(
        docs.withColumn("doc_id", col("doc_id") + 100), "doc_id", "text", 16, 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(relabeled.map { case (i, j, d) => (i - 100, j - 100, d) }.sorted ==
      out.sorted)
  }

  test("frames reassemble: frame lengths sum to payload length") {
    samples(Gen.choose(1, 300), 8).foreach { len =>
      val docs = Seq((1L, "x" * len)).toDF("doc_id", "text")
      val fr = graft.ext.Multimodal.frames(graft.ext.Multimodal.asMedia(docs), 64)
        .orderBy("frame_idx").collect()
      assert(fr.length == (len + 63) / 64)
      assert(fr.map(_.getInt(3)).sum == len)
      assert(fr.map(_.getInt(1)).toSeq == (0 until fr.length))
    }
  }

  test("pageRank is invariant to edge partitioning") {
    val edges = (1L to 30L).map(i => (i, i % 7 + 100L))
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Graph.pageRank(df, 3).as[(Long, Double)].collect().toMap
    assert(run(edges.toDF("src", "dst")) ==
      run(edges.toDF("src", "dst").repartition(11)))
  }

  test("Bollinger bands are invariant to input partitioning") {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(27, 6)
    val vs = samples(Gen.choose(0.0, 500.0), 60)
    val rows = vs.zipWithIndex.map { case (v, i) =>
      (i.toLong, "t" + (i % 2), new java.sql.Timestamp(i * 1000L),
        math.rint(v * 100) / 100)
    }
    def run(df: org.apache.spark.sql.DataFrame) = {
      val win = Window.partitionBy("event_type")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-19, 0)
      df.select(col("event_id"),
          sum(col("value").cast(dec)).over(win).as("s"),
          count(lit(1)).over(win).as("n20"))
        .filter(col("n20") === 20)
        .orderBy("event_id")
        .collect().toSeq.map(r => (r.getLong(0), r.getDecimal(1)))
    }
    val base = rows.toDF("event_id", "event_type", "ts", "value")
    assert(run(base) == run(base.repartition(7)))
  }

  test("time-weighted average is invariant to input partitioning") {
    import org.apache.spark.sql.expressions.Window
    val vs = samples(Gen.choose(0.0, 500.0), 50)
    val rows = vs.zipWithIndex.map { case (v, i) =>
      (i % 4L, new java.sql.Timestamp(i * 31000L), i.toLong,
        math.rint(v * 100) / 100)
    }
    def run(df: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      df.select(col("user_id"),
          floor(col("value") * 100d + 0.5d).cast("long").as("cents"),
          (unix_micros(lead(col("ts"), 1).over(w))
            - unix_micros(col("ts"))).as("dur_us"))
        .filter(col("dur_us").isNotNull)
        .groupBy("user_id")
        .agg(sum(col("cents") * col("dur_us")).as("wsum"),
          sum(col("dur_us")).as("wtot"))
        .orderBy("user_id")
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    val base = rows.toDF("user_id", "ts", "event_id", "value")
    assert(run(base) == run(base.repartition(9)))
  }

  test("run-length islands are invariant to input partitioning") {
    import org.apache.spark.sql.expressions.Window
    val ts = samples(Gen.oneOf("A", "B", "C"), 50)
    val rows = ts.zipWithIndex.map { case (t, i) =>
      (i % 3L, t, new java.sql.Timestamp(i * 1000L), i.toLong)
    }
    def run(df: org.apache.spark.sql.DataFrame) = {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val byUserType = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      df.select(col("user_id"), col("event_type"),
          (row_number().over(byUser) - row_number().over(byUserType))
            .as("grp"))
        .groupBy("user_id", "event_type", "grp")
        .agg(count(lit(1)).as("run_len"))
        .orderBy("user_id", "event_type", "grp")
        .collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    }
    val base = rows.toDF("user_id", "event_type", "ts", "event_id")
    assert(run(base) == run(base.repartition(6)))
  }

  test("guardedBatch passes clean reading batches through the pipeline and " +
      "malformed ones through untouched, leaving no cache entry behind") {
    import org.apache.spark.sql.DataFrame
    // the readings_stream benchmark's datapoint pipeline: an ANSI cast gate
    // on the integer datapoint `k`, the Reading model's map encoding of the
    // scaled value, and the promoted typed column back
    def pipeline(out: DataFrame): DataFrame = {
      val gated = out
        .transform(CoreOps.exprFilter(
          "cast(get_json_object(props, '$.k') as int) >= 0"))
        .withColumn("value", col("scaled"))
      graft.model.Reading.promote(graft.model.Reading.fromEvents(gated).toDF(),
          Seq("value", "user_id"))
        .transform(CoreOps.renameDatapoint("value", "scaled"))
        .transform(CoreOps.dropDatapoint("reading"))
    }
    // spark.range-derived, not local: the cast runs (and fails) inside the
    // guard's evaluation, never while planning; a malformed reading's `k`
    // is text the cast rejects
    def batch(n: Int, bad: Set[Long]): DataFrame = spark.range(n).select(
        col("id").as("event_id"),
        timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
        (col("id") % 7).as("user_id"),
        when(col("id") % 2 === 0, "pump-01").otherwise("valve-02")
          .as("event_type"),
        (col("id") * 0.25).as("value"),
        when(col("id").isin(bad.toSeq: _*),
            concat(lit("{\"k\": \""), col("id"), lit("x\"}")))
          .otherwise(concat(lit("{\"k\": "), col("id") % 100, lit("}")))
          .as("props"))
      .withColumn("scaled", col("value") * 2.0 + 1.0)
    // half the cases clean, half holding 1..3 malformed readings
    def gen(minBad: Int, maxBad: Int) = for {
      n <- Gen.choose(1, 40)
      nBad <- Gen.choose(minBad, maxBad)
      bad <- Gen.listOfN(nBad, Gen.choose(0L, n - 1L))
    } yield (n, bad.toSet)
    val cases = samples(gen(0, 0), 6) ++ samples(gen(1, 3), 6)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val sc = spark.sparkContext
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try cases.foreach { case (n, bad) =>
      val in = batch(n, bad)
      // SparkContext tracks persisted RDDs by weak reference, so a GC
      // during the case would drop unreachable entries left by earlier
      // tests and shrink the count; holding the map keeps them reachable
      // and the count exact
      val held = sc.getPersistentRDDs
      val before = held.size
      val out = Streams.guardedBatch(pipeline)(in)
      if (bad.nonEmpty) {
        assert(sc.getPersistentRDDs.size == before,
          "the failed attempt's cache entry survived the passthrough")
        assert(out.columns.toSeq == in.columns.toSeq && rows(out) == rows(in))
      } else {
        val want = pipeline(in)
        assert(out.columns.toSeq == want.columns.toSeq)
        assert(rows(out) == rows(want))
      }
      out.unpersist(blocking = true) // the caller releases what guard returns
      assert(sc.getPersistentRDDs.size == before)
      java.lang.ref.Reference.reachabilityFence(held)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }
}
