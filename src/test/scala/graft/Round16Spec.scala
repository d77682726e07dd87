package graft

import org.apache.spark.sql.functions._

/** Round-16 invariants: the v2 CC maintenance store (every state table
  * delta-sized + threshold-folded + GC'd — the r15 verdict's #1/#2), the
  * separate-PROCESS restart (verdict #3), and the delta-scheduled
  * coreness rewrite's exactness (verdict #4).
  */
class Round16Spec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"
  /** Jobs of one non-folding ccStoreStep on this fixture, by nBuckets. */
  private val StepJobBudget = Map(0 -> 20, 8 -> 23)
  /** Jobs of one serving read: the live deltas' probe broadcast and the
    * collect.
    */
  private val ReadJobBudget = 2

  /** Stage the shared 3-epoch CC ingest (the stageCcIngest layout: "new"
    * docs doc_id%5=0 split by doc_id%15 into one parquet file per epoch)
    * and init the v2 store from the remaining corpus. Returns the ingest
    * schema.
    */
  private def stage(root: String,
      nBuckets: Int): org.apache.spark.sql.types.StructType = {
    val docs = graft.sources.Tables.documents(spark, Dir)
    val isNew = col("doc_id") % 5 === 0
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/in"))
    for (e <- 0 until 3) {
      val scratch = s"$root/scratch$e"
      docs.filter(isNew && col("doc_id") % 15 === e * 5)
        .select("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(scratch)
      scala.util.Using.resource(java.nio.file.Files
          .list(java.nio.file.Paths.get(scratch))) { w =>
        val part = w.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        java.nio.file.Files.move(part,
          java.nio.file.Paths.get(s"$root/in/e$e.parquet"))
      }
    }
    graft.streaming.Streams.ccStoreInit(docs.filter(!isNew), s"$root/state",
      nBuckets = nBuckets)
    spark.read.parquet(s"$root/in/e0.parquet").schema
  }

  private def runStream(root: String, nBuckets: Int, maxLabelDeltas: Int,
      maxPostingGens: Int,
      killOnceAt: Option[(Long, java.util.concurrent.atomic.AtomicBoolean)],
      gcAfterFold: Boolean = false): Boolean = {
    val schema = spark.read.parquet(s"$root/in/e0.parquet").schema
    val step: (org.apache.spark.sql.DataFrame, Long) => Unit =
      graft.streaming.Streams.ccStoreStep(s"$root/state", 3, 0.5, nBuckets,
        maxLabelDeltas, maxPostingGens, gcAfterFold = gcAfterFold,
        killOnceAt = killOnceAt)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/in/*")
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(step).start()
    try { q.processAllAvailable(); false }
    catch { case _: Throwable => true }
    finally q.stop()
  }

  private def labelsOf(root: String): Seq[(Long, Long)] =
    graft.streaming.Streams.ccStoreLabels(spark, s"$root/state")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  import graft.util.Dirs.rmTree

  private def dirNames(p: String): Set[String] = {
    val path = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(path)) Set.empty
    else scala.util.Using.resource(java.nio.file.Files.list(path)) { w =>
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.map(_.getFileName.toString).toSet
    }
  }

  test("v2 store loop: merge-on-read labels (base ∪ latest-wins deltas) " +
      "with mid-stream folds == the full CC rebuild ∪ batch-singleton " +
      "self-labels, and the per-epoch label writes are DELTA-sized (no " +
      "full label table is ever written after init)") {
    val rootA = java.nio.file.Files
      .createTempDirectory("graft_r16_v2").toString
    try {
      // v2, folds firing mid-stream (labels at epoch 2, postings every
      // epoch)
      stage(rootA, nBuckets = 8)
      assert(!runStream(rootA, 8, maxLabelDeltas = 1, maxPostingGens = 0,
        killOnceAt = None))
      val docs = graft.sources.Tables.documents(spark, Dir)
      val truth = ccRebuildLabels(docs, docs.filter(col("doc_id") % 5 === 0))
      val v2 = labelsOf(rootA)
      assert(v2.nonEmpty && v2 == truth,
        s"merge-on-read labels diverged from the full rebuild " +
          s"(v2=${v2.size} rows, rebuild=${truth.size})")
      // delta-sized pin: the v2 layout has NO per-epoch label tables at
      // all, and every update delta is strictly smaller than the label
      // table it updates
      assert(dirNames(s"$rootA/state/gens").forall(d =>
        d != "labels"), "v2 layout must not carry full label generations")
      // "delta-sized" precisely: an update set carries ONLY batch docs,
      // real label changes, and fresh insertions — never a row restating
      // an unchanged (id, label) already in the pre-epoch view (at scale
      // that padding is exactly the corpus-sized rewrite v2 removes; row
      // counts are meaningless at 60-doc fixture scale)
      for (e <- 0 until 3) {
        val upd = spark.read.parquet(s"$rootA/state/updates/batch=$e")
        val prior = graft.streaming.Streams
          .ccStoreLabelsView(spark, s"$rootA/state", e)
        val batchIds = spark.read.parquet(s"$rootA/in/e$e.parquet")
          .select(col("doc_id").as("id"))
        val noop = upd.join(prior, Seq("id", "label"), "left_semi")
          .join(batchIds, Seq("id"), "left_anti").count()
        assert(noop == 0,
          s"epoch $e writes $noop no-op label rows — not delta-sized")
      }
      // folds fired mid-stream and are _SUCCESS-complete
      assert(java.nio.file.Files.exists(java.nio.file.Paths
        .get(s"$rootA/state/gens/label_base/g=1/_SUCCESS")))
      assert(java.nio.file.Files.exists(java.nio.file.Paths
        .get(s"$rootA/state/gens/posting_base/g=1/_SUCCESS")))
    } finally rmTree(rootA)
  }

  test("v2 store: fold thresholds change the LAYOUT only — fold-heavy == " +
      "fold-never labels; GC deletes exactly the superseded dirs and the " +
      "served view is unchanged; a _SUCCESS-less base stub (crashed fold) " +
      "is invisible to readers and swept by GC") {
    val rootA = java.nio.file.Files
      .createTempDirectory("graft_r16_foldy").toString
    val rootB = java.nio.file.Files
      .createTempDirectory("graft_r16_flat").toString
    try {
      stage(rootA, nBuckets = 8)
      assert(!runStream(rootA, 8, maxLabelDeltas = 1, maxPostingGens = 0,
        None))
      stage(rootB, nBuckets = 8)
      assert(!runStream(rootB, 8, maxLabelDeltas = 999,
        maxPostingGens = 999, None))
      val foldy = labelsOf(rootA)
      assert(foldy.nonEmpty && foldy == labelsOf(rootB),
        "fold cadence changed the served labels")
      // fold-never never folded; fold-heavy did
      assert(dirNames(s"$rootB/state/gens/label_base") == Set("g=-1"))
      assert(dirNames(s"$rootA/state/gens/label_base").contains("g=1"))
      // crashed-fold stub: a _SUCCESS-less base must be invisible...
      val stub = s"$rootA/state/gens/label_base/g=99"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stub))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$stub/part-garbage.parquet"), "torn")
      assert(labelsOf(rootA) == foldy, "a torn fold leaked into the view")
      // ...and GC sweeps it plus everything superseded, view unchanged
      val removed = graft.streaming.Streams.ccStoreGc(s"$rootA/state")
      assert(removed > 0)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(stub)),
        "GC left the crashed-fold stub")
      assert(dirNames(s"$rootA/state/gens/label_base") == Set("g=1"),
        "GC left a superseded label base")
      assert(dirNames(s"$rootA/state/updates") == Set("batch=2"),
        "GC left folded update deltas")
      assert(dirNames(s"$rootA/state/gens/posting_base") == Set("g=1"))
      assert(dirNames(s"$rootA/state/gens/postings") == Set("epoch=2"))
      assert(labelsOf(rootA) == foldy, "GC changed the served labels")
    } finally { rmTree(rootA); rmTree(rootB) }
  }

  test("gcAfterFold makes GC a mid-stream policy: labels == the " +
      "no-GC run's, and the state root ends already swept (the layout " +
      "the explicit post-stream GC would leave)") {
    val rootA = java.nio.file.Files
      .createTempDirectory("graft_r16_gcpol").toString
    val rootB = java.nio.file.Files
      .createTempDirectory("graft_r16_nogc").toString
    try {
      stage(rootA, nBuckets = 8)
      assert(!runStream(rootA, 8, maxLabelDeltas = 1, maxPostingGens = 0,
        killOnceAt = None, gcAfterFold = true))
      stage(rootB, nBuckets = 8)
      assert(!runStream(rootB, 8, maxLabelDeltas = 1, maxPostingGens = 0,
        killOnceAt = None))
      val gcd = labelsOf(rootA)
      assert(gcd.nonEmpty && gcd == labelsOf(rootB),
        "mid-stream GC changed the served labels")
      // the policy swept everything the epoch-2 folds retired, DURING the
      // stream: only the current bases and the one unfolded delta remain
      assert(dirNames(s"$rootA/state/gens/label_base") == Set("g=1"))
      assert(dirNames(s"$rootA/state/updates") == Set("batch=2"))
      assert(dirNames(s"$rootA/state/gens/posting_base") == Set("g=1"))
      assert(dirNames(s"$rootA/state/gens/postings") == Set("epoch=2"))
      // nothing superseded left for a post-stream GC to find
      assert(graft.streaming.Streams.ccStoreGc(s"$rootA/state") == 0,
        "the mid-stream policy left superseded state behind")
      assert(labelsOf(rootA) == gcd)
    } finally { rmTree(rootA); rmTree(rootB) }
  }

  test("every ccStoreStep update delta holds one row per id (the " +
      "latest-wins writers' contract) and the label view == the per-id " +
      "ranking merge at every epoch bound, flat and 8 buckets") {
    for (nBuckets <- Seq(0, 8)) {
      val root = java.nio.file.Files
        .createTempDirectory("graft_r16_onerow").toString
      try {
        stage(root, nBuckets)
        // no folds: all three update deltas stay live
        assert(!runStream(root, nBuckets, maxLabelDeltas = 999,
          maxPostingGens = 999, killOnceAt = None))
        val state = s"$root/state"
        for (e <- 0 until 3) {
          val upd = spark.read.parquet(s"$state/updates/batch=$e")
          val (rows, ids) = (upd.count(), upd.select("id").distinct().count())
          assert(rows > 0 && rows == ids, s"nBuckets=$nBuckets: update " +
            s"delta $e holds $rows rows for $ids ids")
        }
        val store = graft.util.GenStore(s"$state/gens/label_base",
          s"$state/updates", "g=", "batch=")
        for (bound <- 0L to 3L)
          assert(sortedRows(graft.streaming.Streams
              .ccStoreLabelsView(spark, state, bound)) ==
            sortedRows(latestWinsByWindow(store, bound, "id")),
            s"nBuckets=$nBuckets bound=$bound: the merge diverged")
      } finally rmTree(root)
    }
  }

  test("v2 store job budget: ccStoreStep epochs leave no cache entry " +
      "behind, resolving the three views launches no job, a serving read " +
      "launches at most 2, a non-folding step stays within its measured " +
      "count; the bucketed posting view still carries a prunable bucket " +
      "column") {
    for (nBuckets <- Seq(0, 8)) {
      val root = java.nio.file.Files
        .createTempDirectory("graft_r16_budget").toString
      try {
        stage(root, nBuckets)
        val state = s"$root/state"
        val sc = spark.sparkContext
        // the benchmark's fold policy: epochs 0 and 1 add deltas only,
        // epoch 2 folds and sweeps
        // each delta-sized write lands as one data file (the GenStore
        // write path); bucketed posting generations keep their bucket dirs
        def assertOneFile(dirs: String*): Unit = dirs.foreach { d =>
          val n = dataFiles(s"$state/$d")._1
          assert(n == 1, s"nBuckets=$nBuckets: $d holds $n data files")
        }
        def flatPostings(d: String) = if (nBuckets > 0) Nil else Seq(d)
        def step(e: Long): Unit = {
          graft.streaming.Streams.ccStoreStep(state,
            3, 0.5, nBuckets, maxLabelDeltas = 1, maxPostingGens = 1,
            gcAfterFold = true)(spark.read.parquet(s"$root/in/e$e.parquet"), e)
          assertOneFile(Seq(s"updates/batch=$e", s"gens/sizes/epoch=$e") ++
            flatPostings(s"gens/postings/epoch=$e"): _*)
        }
        val before = sc.getPersistentRDDs.size
        step(0)
        val (_, stepJobs) = withJobCount(step(1))
        step(2)
        assert(sc.getPersistentRDDs.size == before,
          s"nBuckets=$nBuckets: 3 epochs left " +
            s"${sc.getPersistentRDDs.size - before} cache entries behind")
        assert(java.nio.file.Files.exists(java.nio.file.Paths
          .get(s"$state/gens/label_base/g=1/_SUCCESS")), "no fold fired")
        assertOneFile(Seq("gens/label_base/g=1", "gens/size_base/g=1") ++
          flatPostings("gens/posting_base/g=1"): _*)
        val (views, viewJobs) = withJobCount(Seq(
          graft.streaming.Streams.ccStorePostingsView(spark, state, 3),
          graft.streaming.Streams.ccStoreSizesView(spark, state, 3),
          graft.streaming.Streams.ccStoreLabelsView(spark, state, 3)))
        assert(viewJobs == 0,
          s"nBuckets=$nBuckets: resolving the views launched $viewJobs jobs")
        val (labels, readJobs) = withJobCount(
          graft.streaming.Streams.ccStoreLabels(spark, state).collect())
        assert(labels.nonEmpty && readJobs <= ReadJobBudget,
          s"nBuckets=$nBuckets: a serving read launched $readJobs jobs")
        assert(stepJobs <= StepJobBudget(nBuckets),
          s"nBuckets=$nBuckets: a non-folding step launched $stepJobs jobs " +
            s"(budget ${StepJobBudget(nBuckets)})")
        // the declared-schema scan still discovers and prunes the layout's
        // partition column
        val postings = views.head
        assert(postings.columns.contains("bucket") == (nBuckets > 0))
        if (nBuckets > 0) {
          import spark.implicits._
          // a one-shingle batch: it hits exactly one bucket
          val bp = graft.ext.Dedup.ngramPostings(
              Seq((999999L, "alpha beta gamma")).toDF("doc_id", "text"),
              "doc_id", "text", 3)
            .localCheckpoint(true)
          assert(filesRead(graft.ext.Dedup
              .pruneToBatchBuckets(postings, bp, nBuckets)) <
            filesRead(postings), "bucket pruning did not reach the scan")
        }
      } finally rmTree(root)
    }
  }

  test("separate-PROCESS restart: the v2 loop killed mid-epoch-1 resumes " +
      "in a FRESH JVM (own SparkSession, shared state: the disk only) to " +
      "the uninterrupted answer — recovery provably holds nothing " +
      "in-memory") {
    val rootA = java.nio.file.Files
      .createTempDirectory("graft_r16_proc").toString
    val rootB = java.nio.file.Files
      .createTempDirectory("graft_r16_uninterrupted").toString
    try {
      stage(rootA, nBuckets = 8)
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      val died = runStream(rootA, 8, 1, 0, Some((1L, armed)))
      assert(died && !armed.get, "the injected epoch-1 kill did not fire")
      // restart in a child JVM with the production classpath (this forked
      // test JVM's classpath = spark jars + compiled classes) and the
      // JDK-17 opens spark needs outside spark-submit
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
        Seq("graft.CcRestartDriver", rootA, "8", "1", "0")).toArray
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      val code = proc.waitFor()
      assert(code == 0, s"child restart driver exited $code:\n" +
        out.linesIterator.toSeq.takeRight(30).mkString("\n"))
      stage(rootB, nBuckets = 8)
      assert(!runStream(rootB, 8, 1, 0, None))
      val resumed = labelsOf(rootA)
      assert(resumed.nonEmpty && resumed == labelsOf(rootB),
        "cross-process resume diverged from the uninterrupted run")
    } finally { rmTree(rootA); rmTree(rootB) }
  }

  test("r15 ADVICE hardening pins: a torn init re-runs instead of " +
      "serving the partial label table; a re-delivered epoch never " +
      "re-folds the store; a torn (un-committed) delta epoch is " +
      "invisible to the store view until its overwrite commits") {
    import graft.ext.Similarity
    // (1) torn ccStoreInit: label_base/g=-1 exists WITHOUT the _SUCCESS
    // marker (the crash-during-init leftover) — the idempotency gate must
    // RE-RUN init, not maintain labels on top of a partial table (r15
    // ADVICE #1)
    val rootA = java.nio.file.Files
      .createTempDirectory("graft_r16_torninit").toString
    val rootB = java.nio.file.Files
      .createTempDirectory("graft_r16_cleaninit").toString
    try {
      val docs = graft.sources.Tables.documents(spark, Dir)
        .filter(col("doc_id") % 5 =!= 0)
      val torn = s"$rootA/state/gens/label_base/g=-1"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(torn))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$torn/part-garbage.parquet"), "torn")
      graft.streaming.Streams.ccStoreInit(docs, s"$rootA/state")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$torn/_SUCCESS")),
        "init skipped on a torn (marker-less) label base")
      graft.streaming.Streams.ccStoreInit(docs, s"$rootB/state")
      def labs(r: String) = graft.streaming.Streams
        .ccStoreLabels(spark, s"$r/state")
        .collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      val a = labs(rootA)
      assert(a.nonEmpty && a == labs(rootB),
        "re-run init diverged from a clean init")
    } finally { rmTree(rootA); rmTree(rootB) }
    // (2) + (3) on the vector store
    val root = java.nio.file.Files
      .createTempDirectory("graft_r16_redeliver").toString
    try {
      val store = s"$root/store"
      val emb = graft.sources.Tables.embeddings(spark, Dir)
      val base = Similarity.buildIvfPqIndexWith(emb,
        Similarity.ivfCentroids(emb, 8), 4)
      def contents() = Similarity.indexStoreView(spark, store)
        .select(col("vec_id"), col("pq_code"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      base.repartition(6).write.mode("overwrite")
        .parquet(s"$store/gens/g=-1")
      base.filter(col("vec_id") % 2 === 0).repartition(6)
        .write.mode("overwrite").parquet(s"$store/deltas/epoch=1")
      assert(Similarity.compactStoreIfNeeded(spark, store, 8L, 2, 1L)
        .isDefined)
      val folded = contents()
      val gens = dirNames(s"$store/gens")
      // re-delivered epoch (== currentGen) with the view still over a
      // (doctored) threshold: the guard must SKIP — a second fold at the
      // same epoch would read gens/g=1 through the view while
      // overwriting the same path (r15 ADVICE #2)
      assert(Similarity.compactStoreIfNeeded(spark, store, 0L, 1, 1L)
        .isEmpty, "a re-delivered epoch re-folded the store")
      assert(dirNames(s"$store/gens") == gens && contents() == folded)
      // torn delta: a crashed delta write (no _SUCCESS) must be invisible
      // to a standalone reader (r15 ADVICE #4)...
      val d5 = s"$store/deltas/epoch=5"
      base.filter(col("vec_id") % 2 === 1).limit(7).repartition(1)
        .write.mode("overwrite").parquet(d5)
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$d5/_SUCCESS"))
      assert(contents() == folded, "a torn delta leaked into the view")
      // ...and the re-delivered epoch's idempotent overwrite heals it
      base.filter(col("vec_id") % 2 === 1).limit(7).repartition(1)
        .write.mode("overwrite").parquet(d5)
      assert(contents().size == folded.size + 7,
        "the healed delta did not rejoin the view")
    } finally rmTree(root)
  }

  test("filteredAnnSearchAuto with precomputed stats == the derived-stats " +
      "call (strategy AND rows), and doctored stats flip the route — the " +
      "cost rule consumes exactly the two integers, so a serving path can " +
      "cache them (r15 verdict #8)") {
    import graft.ext.Similarity
    val emb = graft.sources.Tables.embeddings(spark, Dir)
    val index = Similarity.buildIvfPqIndexWith(emb,
      Similarity.ivfCentroids(emb, 8), 2).localCheckpoint(true)
    try {
      val q = index.filter(col("vec_id") < 5)
      val xq = q.select((col("vec_id") + Similarity.ExternalQueryIdOffset)
        .as("qid"), col("v").as("qv"))
      val qc = q.select((col("vec_id") + Similarity.ExternalQueryIdOffset)
        .as("qid"), explode(col("cells")).as("cell"))
      val allowed = emb.filter(col("vec_id") % 2 === 0)
        .select("vec_id").localCheckpoint(true)
      val ids = index.select("vec_id").distinct()
      val nCorpus = ids.count()
      val nAllowed = ids.join(allowed, Seq("vec_id"), "left_semi").count()
      def run(stats: Option[(Long, Long)]) = {
        val (st, res) = Similarity.filteredAnnSearchAuto(index, xq, qc,
          allowed, 3, 12, 10, stats)
        (st, res.orderBy("qid", "rn").collect().toSeq)
      }
      val (stDerived, rowsDerived) = run(None)
      val (stCached, rowsCached) = run(Some((nCorpus, nAllowed)))
      assert(stCached == stDerived && rowsCached == rowsDerived,
        s"cached stats changed the answer: $stDerived -> $stCached")
      // the doctored legs prove the integers DRIVE the rule: a claimed
      // near-empty allowed set must route pre, a claimed tiny corpus post
      assert(run(Some((nCorpus, 0L)))._1 == "pre")
      assert(run(Some((1L, 1L)))._1 == "post")
    } finally { index.unpersist(blocking = false); () }
  }

  test("delta-scheduled coreness == brute-force peel on a graph whose " +
      "frontier actually shrinks (path + star + clique mix), on both " +
      "join paths") {
    import spark.implicits._
    // path 1-2-3-4-5 (coreness 1), star 10-(11..16) (coreness 1),
    // 4-clique 20-23 (coreness 3), bridge 5-20, spoke 16 into the clique
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (10L, 13L), (10L, 14L), (10L, 15L),
      (10L, 16L),
      (20L, 21L), (20L, 22L), (20L, 23L), (21L, 22L), (21L, 23L),
      (22L, 23L),
      (5L, 20L), (16L, 20L)).toDF("src", "dst")
    val expect = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 1L, 11L -> 1L, 12L -> 1L, 13L -> 1L, 14L -> 1L, 15L -> 1L,
      16L -> 1L,
      20L -> 3L, 21L -> 3L, 22L -> 3L, 23L -> 3L)
    for (ceiling <- Seq(10000000L, 0L);
         delta <- Seq(true, false)) {
      val evals = scala.collection.mutable.ArrayBuffer.empty[Long]
      val got = graft.ext.Graph.coreness(edges,
          broadcastVertexCeiling = ceiling,
          schedule = if (delta) "delta" else "sync",
          onRoundStats = (_, n) => { evals += n; () })
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"ceiling=$ceiling deltaSchedule=$delta")
      // the DETERMINISTIC work pin: the peel cascade runs 2→1 along the
      // path and into the star/hub over 5 rounds; the delta schedule
      // evaluates exactly the shrinking frontier (16 vertices, then the
      // value-aware survivors 2,2,1,1 = 22 vertex-evals) while sync
      // re-evaluates all 16 every round (80)
      val want = if (delta) Seq(16L, 2L, 2L, 1L, 1L)
        else Seq(16L, 16L, 16L, 16L, 16L)
      assert(evals.toSeq == want,
        s"ceiling=$ceiling deltaSchedule=$delta evals=${evals.toSeq}")
    }
  }
}
