package graft

import org.apache.spark.sql.functions._

/** Round-15 invariants: the degenerate/non-finite contracts hardened this
  * round (empty-graph coreness, NearestInSetDot's NaN propagation) and the
  * production seams the r14 verdict called open (restart-resume for the
  * streaming CC maintenance loop, threshold-triggered index compaction).
  */
class Round15Spec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"

  test("coreness: EMPTY edge list returns the empty (id, coreness) frame, " +
      "not an NPE (a corpus with no near-dup pairs above threshold)") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = graft.ext.Graph.coreness(none)
    assert(out.columns.toSeq == Seq("id", "coreness"))
    assert(out.count() == 0L)
  }

  /** Force the expression-codegen factory mode (CODEGEN_ONLY throws on
    * compile failure instead of silently falling back; NO_CODEGEN forces
    * the interpreted path) — the PqExpressionsSpec discipline.
    */
  private def withFactoryMode[A](mode: String)(f: => A): A = {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.get(key, "FALLBACK")
    spark.conf.set(key, mode)
    try f finally spark.conf.set(key, prev)
  }

  test("NearestInSetDot: non-finite inputs follow the min(struct) " +
      "NaN-greatest ordering — all-NaN → (NaN, 0), all-Inf → (Inf, 0), " +
      "finite beats NaN — on BOTH eval paths") {
    val cands = Array(0.0, 0.0, 3.0, 4.0) // two 2-d candidates
    for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) withFactoryMode(mode) {
      import spark.implicits._
      val rows = Seq(
        (1L, Seq(Double.NaN, 1.0)), // NaN poisons every d2
        (2L, Seq(1e200, 0.0)),      // xx overflows: every d2 = +Inf
        (3L, Seq(1.0, 1.0))         // finite: nearest is cand 0
      ).toDF("id", "v")
        .select(col("id"), graft.functions.VectorExpressions
          .nearestInSetDot(col("v"), cands, 2).as("best"))
        .select(col("id"), col("best.d2"), col("best.cid"))
        .collect().sortBy(_.getLong(0))
      assert(rows(0).getDouble(1).isNaN && rows(0).getInt(2) == 0,
        s"[$mode] NaN vector: ${rows(0)}")
      // x=[1e200,0]: xx = 1e400 → +Inf; xc stays finite (0 and 3e200),
      // so every d2 = Inf − finite + cc = +Inf → (Inf, lowest cid)
      assert(rows(1).getDouble(1).isPosInfinity && rows(1).getInt(2) == 0,
        s"[$mode] Inf vector: ${rows(1)}")
      assert(rows(2).getDouble(1) == 2.0 && rows(2).getInt(2) == 0,
        s"[$mode] finite vector: ${rows(2)}")
    }
  }

  test("restart-resume: the disk-state maintenance loop killed mid-epoch-1 " +
      "and restarted from its checkpoint == the uninterrupted q242 run " +
      "(the r14 verdict's last unproven production-dedup leg)") {
    // EXPECTED LOG NOISE: the kill/fresh-session restart tests in this
    // region print CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND stack traces — the
    // killed session's localCheckpoint blocks are correctly unusable
    // after the injected death; recovery comes from disk, and the
    // assertions below are what prove it. A green run with those traces
    // is the intended outcome, not a flake to chase.
    //
    // q252 IS the killed+restarted run (it require()s the kill fired);
    // q242 is the same flat store loop, uninterrupted, over the same
    // staged epochs. Equality here + both queries' shared DuckDB oracle
    // closes the restart story: recovery from checkpoint + persisted generations
    // reaches exactly the state the crash never happened to.
    val resumed = SparkEntry.queries("q252_stream_cc_restart_resume")(
        spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val uninterrupted = SparkEntry.queries("q242_stream_cc_maintenance")(
        spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(resumed.nonEmpty, "fixture produced no labels")
    assert(resumed.sameElements(uninterrupted))
  }

  test("compaction policy: idles under the file threshold, fires over it, " +
      "shrinks the view, preserves content, and post-fold deltas rejoin " +
      "the view (the q253 store mechanics)") {
    import graft.ext.Similarity
    val emb = graft.sources.Tables.embeddings(spark, Dir)
    val base = Similarity.buildIvfPqIndexWith(emb,
      Similarity.ivfCentroids(emb, 8), 4)
    val root = java.nio.file.Files
      .createTempDirectory("graft_policy_spec").toString
    val store = s"$root/store"
    def contents() = Similarity.indexStoreView(spark, store)
      .select(col("vec_id"), col("pq_code"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    try {
      base.repartition(4).write.mode("overwrite").parquet(s"$store/gens/g=-1")
      base.filter(col("vec_id") % 2 === 0).repartition(3)
        .write.mode("overwrite").parquet(s"$store/deltas/epoch=0")
      val before = contents()
      // 7 files ≤ 8 → the policy must NOT fire
      assert(Similarity.storeViewFileCount(store) == 7L)
      assert(Similarity.compactStoreIfNeeded(spark, store, 8L, 2, 0L).isEmpty)
      // second delta crosses the threshold → fold into generation 1
      base.filter(col("vec_id") % 2 === 1).repartition(3)
        .write.mode("overwrite").parquet(s"$store/deltas/epoch=1")
      val all = contents()
      val fired = Similarity.compactStoreIfNeeded(spark, store, 8L, 2, 1L)
      assert(fired.contains((10L, 2L)), s"got $fired")
      assert(contents().sameElements(all)) // row-preserving fold
      // a post-fold delta rejoins the view; the folded ones do not double
      base.limit(0).write.mode("overwrite").parquet(s"$store/deltas/epoch=2")
      assert(contents().sameElements(all))
      assert(before.nonEmpty && all.length > before.length)
      // a CRASHED fold is invisible: a generation dir without _SUCCESS
      // (the partial write a killed compaction leaves) must not become
      // current — the view stays on g=1
      base.limit(3).write.mode("overwrite").parquet(s"$store/gens/g=7")
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$store/gens/g=7/_SUCCESS"))
      assert(contents().sameElements(all),
        "a _SUCCESS-less generation leaked into the view")
      // GC removes exactly the out-of-view dirs: superseded g=-1, the
      // crashed g=7 stub, folded deltas 0 and 1; the post-fold epoch=2
      // delta stays in the view
      val removed = Similarity.gcStore(store)
      assert(removed == 4, s"gc removed $removed dirs, want 4 " +
        "(g=-1, crashed g=7, deltas 0 and 1)")
      assert(contents().sameElements(all), "gc changed the view")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$store/gens/g=-1")))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$store/gens/g=7")))
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$store/deltas/epoch=2")))
    } finally {
      graft.util.Dirs.rmTree(root)
    }
  }

  test("q254: shards land one dir + one file per shard, a shard-filtered " +
      "read prunes to its dir at the scan, and read-back balance holds " +
      "(docs within 1, token spread <= largest doc)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // the q249 registry output IS the layout — write it exactly as q254
    // does and audit the disk side q254's oracle can't see
    val layout = SparkEntry.queries("q249_balanced_shards")(spark, Dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_shards_spec").toString
    try {
      layout.repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(s"$root/shards")
      val dirs = scala.util.Using.resource(java.nio.file.Files
          .list(java.nio.file.Paths.get(s"$root/shards"))) { w =>
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("shard=")).toSeq.sorted
      }
      assert(dirs == (0 until 8).map(i => s"shard=$i"),
        s"expected 8 shard dirs, got $dirs")
      for (d <- dirs) {
        val files = scala.util.Using.resource(java.nio.file.Files
            .list(java.nio.file.Paths.get(s"$root/shards/$d"))) { w =>
          import scala.jdk.CollectionConverters._
          w.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
        }
        assert(files == 1, s"$d carries $files data files, want 1 " +
          "(one reader, one file)")
      }
      val back = spark.read.parquet(s"$root/shards")
      assert(filesRead(back.filter(col("shard") === 3)) == 1L,
        "a one-shard read must open exactly its own dir's file")
      // the q249 balance audit, re-run on the READ-BACK
      val per = back.groupBy("shard")
        .agg(count(lit(1)).as("docs"), sum("n_tok").as("toks"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      val maxDoc = back.agg(max("n_tok")).head().getLong(0)
      assert(per.length == 8)
      assert(per.map(_._1).max - per.map(_._1).min <= 1L,
        s"doc counts unbalanced: ${per.map(_._1).toSeq}")
      assert(per.map(_._2).max - per.map(_._2).min <= maxDoc,
        s"token spread ${per.map(_._2).max - per.map(_._2).min} exceeds " +
          s"the largest doc ($maxDoc)")
    } finally {
      graft.util.Dirs.rmTree(root)
    }
  }
}
