package graft

import org.apache.spark.sql.functions._
import graft.ext.Graph

/** Round-18 invariants (the r17 verdict's #1/#2): the bucketed edge
  * layout that makes small-frontier coreness rounds delta-READ-sized,
  * and the adaptive schedule that picks sync vs delta by measurement.
  */
class Round18Spec extends SparkSpec {

  private def rmTree(root: String): Unit = graft.util.Dirs.rmTree(root)

  /** A path graph on n vertices: coreness 1 everywhere, and the h-index
    * fixpoint PEELS it one vertex per round from each end — many rounds
    * with a 2-4 vertex frontier, the exact shape bucket pruning exists
    * for (each late round hits ≤ 4 of the bucket dirs).
    */
  private def pathEdges(n: Int) = {
    import spark.implicits._
    (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("src", "dst")
  }

  /** Ring of 8-cliques: converges in ONE effective round with a
    * full-width changed set — the delta schedule's worst case and the
    * adaptive schedule's stay-sync case.
    */
  private def ringEdges(nCliques: Int) = {
    import spark.implicits._
    val intra = for {
      c <- 0L until nCliques.toLong
      i <- 0 until 8; j <- i + 1 until 8
    } yield (c * 8 + i, c * 8 + j)
    val ring = (0L until nCliques.toLong)
      .map(c => (c * 8, ((c + 1) % nCliques) * 8))
    (intra ++ ring).toDF("src", "dst")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  test("bucketed edge layout: corenessBucketed == coreness exactly, and " +
      "small-frontier rounds read ONLY hit-bucket files (numFiles via " +
      "onRoundScan — the Round14Spec:q244 pattern applied to edges)") {
    val n = 40
    val nBuckets = 16
    val edges = pathEdges(n).localCheckpoint(true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_r18_edges").toString
    try {
      Graph.writeBucketedEdges(edges, dir, nBuckets)
      // one file per bucket dir (the write contract the pruning math
      // assumes)
      val bucketDirs = scala.util.Using.resource(java.nio.file.Files
          .list(java.nio.file.Paths.get(dir))) { w =>
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("b=")).toSeq
      }
      assert(bucketDirs.size == nBuckets,
        s"expected $nBuckets bucket dirs, found ${bucketDirs.size}")
      val scans = scala.collection.mutable
        .ArrayBuffer.empty[(Int, Long, Long, Long)]
      val bucketed = rows(Graph.corenessBucketed(spark, dir,
        schedule = "delta",
        onRoundScan = (r, files, hit, rowsOut) => {
          scans += ((r, files, hit, rowsOut)); () }))
      val inMemory = rows(Graph.coreness(edges))
      assert(bucketed.nonEmpty && bucketed == inMemory,
        "bucketed-layout coreness diverged from the in-memory path")
      assert(bucketed.forall(_._2 == 1L), "a path graph is coreness-1")
      // the peel gives many frontier-local rounds; each must have read
      // at most its hit-bucket file count, and strictly fewer files
      // than the full layout holds — the delta-READ-sized claim
      assert(scans.size >= 3,
        s"fixture produced only ${scans.size} frontier-local rounds")
      for ((r, files, hit, _) <- scans) {
        assert(files <= hit,
          s"round $r read $files files for $hit hit buckets — partition " +
            "pruning did not reach the scan")
        assert(files < nBuckets,
          s"round $r read the full layout ($files of $nBuckets files)")
      }
      // the path's frontier is 2-4 vertices a round — late rounds must
      // prune HARD, not just below the total
      assert(scans.map(_._2).min <= 4,
        s"no round was delta-READ-sized: files=${scans.map(_._2)}")
    } finally rmTree(dir)
  }

  test("adaptive schedule: auto == both fixed schedules exactly on both " +
      "shapes; on the ring it stays sync (same eval vector), on the " +
      "path it flips and evaluates strictly less than sync") {
    def evalsOf(run: ((Int, Long) => Unit) => org.apache.spark.sql.DataFrame)
        : (Seq[(Long, Long)], Seq[Long]) = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      val out = rows(run((_, n) => { buf += n; () }))
      (out, buf.toSeq)
    }
    for ((name, edges) <- Seq(
        ("ring", ringEdges(6).localCheckpoint(true)),
        ("path", pathEdges(40).localCheckpoint(true)))) {
      val (autoOut, autoEvals) = evalsOf(h =>
        Graph.corenessAdaptive(edges, onRoundStats = h))
      val (deltaOut, deltaEvals) = evalsOf(h =>
        Graph.coreness(edges, schedule = "delta", onRoundStats = h))
      val (syncOut, syncEvals) = evalsOf(h =>
        Graph.coreness(edges, schedule = "sync", onRoundStats = h))
      assert(autoOut.nonEmpty && autoOut == deltaOut && autoOut == syncOut,
        s"[$name] adaptive output diverged from a fixed schedule")
      if (name == "ring") {
        // known values: every vertex sits in an 8-clique (coreness >= 7)
        // and no 8-core exists (intra degree 7) — coreness 7 everywhere
        assert(autoOut.forall(_._2 == 7L) && autoOut.size == 6 * 8,
          s"[$name] ring of 8-cliques must be coreness-7 everywhere")
        // ring of 8-cliques: round-1 changed set = the clique heads,
        // Σ deg(changed) = 9·nCliques ≥ |V|/2 = 4·nCliques → the flip
        // rule never fires; auto runs the sync schedule verbatim
        assert(autoEvals == syncEvals,
          s"[$name] auto should stay sync: auto=$autoEvals sync=$syncEvals")
      } else {
        // path: the peel's changed set collapses immediately
        // (Σ deg(changed)·2 < |V| after round 1) → auto flips and its
        // total evaluation work lands strictly under sync's
        assert(autoEvals.sum < syncEvals.sum,
          s"[$name] auto never flipped: auto=$autoEvals sync=$syncEvals")
        // pre-flip rounds are sync-width, post-flip rounds match the
        // delta schedule's frontier sizes from the same round index
        assert(autoEvals.head == syncEvals.head)
      }
      // the fixed delta schedule remains the lower envelope of work
      assert(deltaEvals.sum <= autoEvals.sum,
        s"[$name] delta did MORE work than auto: " +
          s"delta=$deltaEvals auto=$autoEvals")
    }
  }

  test("adaptive + bucketed compose: corenessBucketed(schedule=auto) " +
      "equals the fixed paths on the peeling fixture") {
    val edges = pathEdges(40).localCheckpoint(true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_r18_edges_auto").toString
    try {
      Graph.writeBucketedEdges(edges, dir, 16)
      val auto = rows(Graph.corenessBucketed(spark, dir,
        schedule = "auto"))
      val fixed = rows(Graph.coreness(edges))
      assert(auto.nonEmpty && auto == fixed)
    } finally rmTree(dir)
  }

  test("cross-process retainBases (r17 verdict #4): a separate serving " +
      "JVM that resolved its label view completes a consistent read " +
      "through a fold+GC sweep at retainBases=2 — while the sweep " +
      "really deletes the superseded generation") {
    import spark.implicits._
    import graft.streaming.Streams
    def exists(p: String) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    val root = java.nio.file.Files
      .createTempDirectory("graft_r18_serve").toString
    val state = s"$root/state"
    try {
      // small corpus + per-epoch quiet batches; maxLabelDeltas=0 folds
      // the label store at EVERY step, so each step supersedes a base
      val corpus = (0L until 6L)
        .map(i => (i, "alpha beta gamma delta")).toDF("doc_id", "text")
      Streams.ccStoreInit(corpus, state, k = 3, threshold = 0.3)
      val step: (org.apache.spark.sql.DataFrame, Long) => Unit =
        Streams.ccStoreStep(state, 3, 0.3, 0,
          maxLabelDeltas = 0, maxPostingGens = 0)
      step(Seq((100L, "omega psi chi phi")).toDF("doc_id", "text"), 0L)
      step(Seq((101L, "omega psi chi phi kappa")).toDF("doc_id", "text"), 1L)
      // state now: label bases {-1, 0}, live update delta {1}. The
      // expectation a serving reader must see, captured BEFORE the
      // concurrent fold+GC:
      val expected = Streams.ccStoreLabels(spark, state)
        .collect().map(r => s"${r.getLong(0)},${r.getLong(1)}")
        .sorted.toSeq
      // spawn the serving JVM; it resolves its view (base 0 ∪ delta 1)
      // and signals readiness BEFORE we fold
      val ready = s"$root/ready"; val go = s"$root/go"
      val out = s"$root/served"
      val opens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar"
      ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
      val cmd = (Seq(s"${System.getProperty("java.home")}/bin/java",
        "-cp", System.getProperty("java.class.path"), "-Xmx2g") ++ opens ++
        Seq("graft.CcServeDriver", state, ready, go, out)).toArray
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      // child output goes to a FILE, not a pipe: nobody drains a pipe
      // while this side sits in the ready-wait and fold/GC phases, and a
      // chatty child (>64KB of Spark logs before the ready marker) would
      // deadlock in write() against a full pipe buffer (r18 review)
      val childLog = java.nio.file.Paths.get(s"$root/child.log")
      pb.redirectOutput(childLog.toFile)
      val proc = pb.start()
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!exists(ready)) {
        assert(System.nanoTime() < deadline && proc.isAlive,
          "serving JVM died before resolving its view")
        Thread.sleep(50)
      }
      // maintenance side: one more epoch (folds labels to base g=1) +
      // the retention sweep — base -1 and delta 0 must actually LEAVE
      // disk (GC did real work), base 0 + delta 1 (the reader's
      // snapshot) must survive
      step(Seq((102L, "omega psi chi phi mu")).toDF("doc_id", "text"), 2L)
      assert(exists(s"$state/gens/label_base/g=1/_SUCCESS"),
        "the epoch-2 fold did not fire")
      assert(Streams.ccStoreGc(state, retainBases = 2) > 0,
        "the sweep deleted nothing — fixture stages no supersession")
      assert(!exists(s"$state/gens/label_base/g=-1") &&
        !exists(s"$state/updates/batch=0"),
        "the superseded generation survived the sweep")
      assert(exists(s"$state/gens/label_base/g=0/_SUCCESS") &&
        exists(s"$state/updates/batch=1"),
        "retainBases=2 failed to keep the serving reader's snapshot")
      // release the reader; its read must complete consistently
      java.nio.file.Files.write(java.nio.file.Paths.get(go),
        Array.emptyByteArray)
      val code = proc.waitFor()
      val outStr = new String(java.nio.file.Files.readAllBytes(childLog),
        "UTF-8")
      assert(code == 0, s"serving JVM exited $code:\n" +
        outStr.linesIterator.toSeq.takeRight(25).mkString("\n"))
      val served = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out)), "UTF-8").linesIterator.toSeq
      assert(served.nonEmpty && served == expected,
        "the concurrent serving read diverged from the pre-fold view")
    } finally rmTree(root)
  }

  test("shard snapshot on disk (r17 verdict #5): writeShardSnapshot " +
      "lands one dir + one file per shard, a shard-pruned read touches " +
      "exactly one file, and the round trip preserves content") {
    import spark.implicits._
    val snap = (0L until 64L)
      .map(i => (i, s"src${i % 3}", 10L + i % 7, i + 1, i % 8))
      .toDF("doc_id", "source", "n_tok", "r", "shard")
      .localCheckpoint(true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_r18_snapshot").toString
    try {
      val back = graft.queries.PipelineQueries
        .writeShardSnapshot(snap, s"$dir/snapshot")
      // one dir per shard, one data file per dir
      val shardDirs = scala.util.Using.resource(java.nio.file.Files
          .list(java.nio.file.Paths.get(s"$dir/snapshot"))) { w =>
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("shard=")).toSeq
      }
      assert(shardDirs.sorted == (0 until 8).map(s => s"shard=$s"),
        s"expected 8 shard dirs, found $shardDirs")
      for (d <- shardDirs) {
        val files = scala.util.Using.resource(java.nio.file.Files
            .list(java.nio.file.Paths.get(s"$dir/snapshot/$d"))) { w =>
          import scala.jdk.CollectionConverters._
          w.iterator().asScala
            .count(_.getFileName.toString.endsWith(".parquet"))
        }
        assert(files == 1, s"$d holds $files data files (want 1)")
      }
      // pruned consumer: one shard → one file at the scan
      assert(filesRead(back.filter(col("shard") === 3L)) == 1L,
        "a one-shard read did not prune to one file")
      // content round trip
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(_.mkString("|")).sorted.toSeq
      assert(canon(back) == canon(snap))
    } finally rmTree(dir)
  }

  test("bucketed pair store (q264's probe): the affected-bucket prune " +
      "reaches the scan (numFiles <= hit buckets) and cannot change the " +
      "component-closed subgraph") {
    import spark.implicits._
    val nB = 64
    // pairs spread over many i-buckets; the "affected" set is one small
    // component's ids (all i of its edges share its bucket residues)
    val pairs = (0L until 256L).map(i => (i, i + 1000L)).toDF("i", "j")
      .localCheckpoint(true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_r18_pairbuckets").toString
    try {
      graft.queries.PipelineQueries.bucketedPairs(pairs, nB)
        .repartition(col("pb"))
        .write.mode("overwrite").partitionBy("pb").parquet(s"$dir/pairs")
      val view = spark.read.parquet(s"$dir/pairs")
      val affected = Seq(3L, 7L, 67L).toDF("id") // buckets {3, 7}
      val hit = Seq(3, 7)
      def probe(v: org.apache.spark.sql.DataFrame) = v
        .join(broadcast(affected.select(col("id").as("i"))),
          Seq("i"), "left_semi")
      val pruned = probe(graft.queries.PipelineQueries
        .pruneToPairBuckets(view, hit))
      val full = probe(view.drop("pb"))
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(canon(pruned).nonEmpty && canon(pruned) == canon(full),
        "the bucket prune changed the probed edge set")
      val fullFiles = filesRead(view.drop("pb"))
      val prunedFiles = filesRead(graft.queries.PipelineQueries
        .pruneToPairBuckets(view, hit))
      assert(fullFiles > hit.size * 4,
        s"fixture too small to demonstrate pruning (full=$fullFiles)")
      assert(prunedFiles <= hit.size,
        s"scan read $prunedFiles files for ${hit.size} hit buckets — " +
          "partition pruning did not reach the scan")
    } finally rmTree(dir)
  }

  test("q264 reduced-demo depth is a measurement choice (the Round17Spec " +
      "pin extended to the new demo): one-trigger production cadence " +
      "serves the identical coreness table the 3-epoch aggressive-fold " +
      "depth serves") {
    // EXPECTED LOG NOISE: none here (no kill leg) — q264's restart story
    // is owned by q261/q262; this pins batch-boundary independence.
    val dir = "/root/testdata/sf0.001"
    def run(): Seq[(Long, Long)] =
      SparkEntry.queries("q264_stream_incremental_coreness")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(!graft.util.BenchMode.reducedDemos)
    val full = run()
    sys.props(graft.util.BenchMode.ReducedDemosProp) = "1"
    val reduced =
      try run()
      finally { sys.props.remove(graft.util.BenchMode.ReducedDemosProp); () }
    assert(reduced.nonEmpty && reduced == full,
      s"q264: reduced-demo coreness diverged from full depth " +
        s"(${reduced.size} vs ${full.size} rows)")
  }
}
