package graft

import org.apache.spark.sql.functions._
import graft.ext.Dedup

/** Round-14 invariants: the bucket-pruned posting probe (the delta-sized
  * ingest fix for the r13-measured full-posting-scan floor) pinned
  * against the full-state probe, and the pruning proven to reach the
  * parquet scan (partition dirs actually skipped, not filtered post-read).
  */
class Round14Spec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"
  private def split() = {
    val docs = graft.sources.Tables.documents(spark, Dir)
    val isBatch = col("doc_id") % 5 === 0
    (docs.filter(!isBatch), docs.filter(isBatch))
  }

  test("bucket-pruned posting probe == full-state probe " +
      "(pruneToBatchBuckets feeding crossCorpusJaccardPairsIndexed)") {
    val (corpus, batch) = split()
    val postings = Dedup.ngramPostings(corpus, "doc_id", "text", 3)
      .localCheckpoint(true)
    val sizes = Dedup.ngramPostingSizes(postings).localCheckpoint(true)
    def pairs(post: org.apache.spark.sql.DataFrame) = Dedup
      .crossCorpusJaccardPairsIndexed(post, sizes, batch,
        "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val full = pairs(postings)
    val bucketed = postings
      .withColumn("bucket", Dedup.postingBucket(col("sk"), 64))
    val bPost = Dedup.ngramPostings(batch, "doc_id", "text", 3)
      .localCheckpoint(true)
    val pruned = pairs(Dedup.pruneToBatchBuckets(bucketed, bPost, 64))
    assert(full.nonEmpty, "fixture produced no cross-corpus pairs")
    assert(pruned.sameElements(full))
    // the bucketed layout probed WITHOUT pruning is the same state too
    assert(pairs(bucketed.drop("bucket")).sameElements(full))
  }

  test("bucket pruning reaches the parquet scan: only the batch's bucket " +
      "dirs are read (numFiles metric on the hive-partitioned state)") {
    val (corpus, batch) = split()
    val nBuckets = 512
    val state = java.nio.file.Files
      .createTempDirectory("graft_r14_buckets").toString
    try {
      Dedup.ngramPostingsBucketed(corpus, "doc_id", "text", 3, nBuckets)
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$state/postings_bucketed")
      val bucketed = spark.read.parquet(s"$state/postings_bucketed")
      // a one-doc ingest batch: ~30 distinct shingle keys, so far fewer
      // hit buckets than the corpus's dir count
      val oneDoc = batch.orderBy("doc_id").limit(1).localCheckpoint(true)
      val bPost = Dedup.ngramPostings(oneDoc, "doc_id", "text", 3)
        .localCheckpoint(true)
      val hit = bPost.select(Dedup.postingBucket(col("sk"), nBuckets))
        .distinct().count()
      val fullFiles = filesRead(bucketed)
      val prunedFiles = filesRead(
        Dedup.pruneToBatchBuckets(bucketed, bPost, nBuckets))
      assert(fullFiles > hit * 4,
        s"fixture too small to demonstrate pruning (full=$fullFiles hit=$hit)")
      assert(prunedFiles <= hit,
        s"scan read $prunedFiles files for $hit hit buckets — partition " +
          "pruning did not reach the scan")
    } finally {
      graft.util.Dirs.rmTree(state)
    }
  }

  test("ngramJaccardPairsFromPostings == ngramJaccardPairs (the rebuild " +
      "runs off the persisted index, never re-shingling the corpus)") {
    val (corpus, _) = split()
    val postings = Dedup.ngramPostings(corpus, "doc_id", "text", 3)
      .localCheckpoint(true)
    val sizes = Dedup.ngramPostingSizes(postings)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val direct = norm(Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      3, 0.5))
    val fromIndex = norm(Dedup.ngramJaccardPairsFromPostings(postings,
      sizes, 0.5))
    assert(direct.nonEmpty, "fixture produced no within-corpus pairs")
    assert(fromIndex.sameElements(direct))
  }

  test("q241: the k-means‖-seeded two-level index at degenerate knobs " +
      "== brute-force cosine top-k (the seeding feeds search bit-exactly)") {
    val result = SparkEntry.queries("q241_kmeans_par_seeded_index")(
        spark, Dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val emb = graft.sources.Tables.embeddings(spark, Dir)
    val brute = graft.ext.Similarity
      .bruteForceTopK(emb.filter(col("vec_id") % 50 === 0), emb, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(brute.nonEmpty, "fixture produced no brute-force neighbors")
    assert(result.sameElements(brute))
  }

  test("q242: streamed multi-epoch CC maintenance == the full rebuild " +
      "∪ batch-singleton self-labels (batch-boundary independence)") {
    val result = SparkEntry.queries("q242_stream_cc_maintenance")(
        spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val docs = graft.sources.Tables.documents(spark, Dir)
    val truth = ccRebuildLabels(docs, docs.filter(col("doc_id") % 5 === 0))
    assert(result.sameElements(truth))
  }

  test("compactIndex: file count drops to the target, content identical " +
      "(the q246 layout claim)") {
    import graft.ext.Similarity
    val emb = graft.sources.Tables.embeddings(spark, Dir)
    val base = Similarity.buildIvfPqIndexWith(emb,
      Similarity.ivfCentroids(emb, 8), 4)
    val root = java.nio.file.Files
      .createTempDirectory("graft_compact_spec").toString
    try {
      // fragmented store: 4-file base + two 3-file deltas (10 data files)
      base.repartition(4).write.mode("overwrite").parquet(s"$root/frag/base")
      for (e <- 0 to 1)
        base.filter(col("vec_id") % 2 === e).repartition(3)
          .write.mode("overwrite").parquet(s"$root/frag/delta$e")
      val frag = spark.read.parquet(s"$root/frag/base",
        s"$root/frag/delta0", s"$root/frag/delta1")
      Similarity.compactIndex(frag, 2)
        .write.mode("overwrite").parquet(s"$root/compact")
      def dataFiles(sub: String) =
        scala.util.Using.resource(java.nio.file.Files
            .walk(java.nio.file.Paths.get(s"$root/$sub"))) { w =>
          w.filter(_.getFileName.toString.endsWith(".parquet")).count()
        }
      assert(dataFiles("frag") == 10L)
      assert(dataFiles("compact") == 2L)
      def contents(df: org.apache.spark.sql.DataFrame) = df
        .select(col("vec_id"), col("pq_code"),
          element_at(col("cells"), 1).cast("long").as("c1"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted
      val before = contents(frag)
      val after = contents(spark.read.parquet(s"$root/compact"))
      assert(before.nonEmpty && before.length == emb.count() * 2)
      assert(after.sameElements(before))
    } finally {
      graft.util.Dirs.rmTree(root)
    }
  }

  test("coreness: known graph (4-clique ⟂ tail path ⟂ bridged triangle) " +
      "gets the textbook k-core numbers") {
    import spark.implicits._
    // 4-clique {1,2,3,4} (coreness 3), path 4-10-11 hanging off it
    // (coreness 1), triangle {20,21,22} (coreness 2) bridged to the
    // clique by edge 4-20 (bridge endpoints keep their core numbers —
    // coreness is about dense substructure, not connectivity)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 10L), (10L, 11L),
      (20L, 21L), (20L, 22L), (21L, 22L), (4L, 20L)
    ).toDF("src", "dst")
    val got = graft.ext.Graph.coreness(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = Seq(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      10L -> 1L, 11L -> 1L, 20L -> 2L, 21L -> 2L, 22L -> 2L)
    assert(got.sameElements(want), s"got ${got.mkString(", ")}")
    // the above-ceiling degradation path (keyed shuffle join instead of
    // broadcast) must be value-identical — ceiling 0 forces it
    val shuffled = graft.ext.Graph
      .coreness(edges, broadcastVertexCeiling = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(shuffled.sameElements(want),
      s"shuffle-join path diverged: ${shuffled.mkString(", ")}")
  }

  test("coreness: fixture near-dup graph converges within the oracle's " +
      "8 unrolled h-index rounds (q248's depth pin)") {
    val docs = graft.sources.Tables.documents(spark, Dir)
    val e = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .select(col("i").as("src"), col("j").as("dst"))
    // maxRounds = the oracle's unroll depth: coreness fails loudly if the
    // fixpoint needs more rounds, so returning at all IS the pin
    val out = graft.ext.Graph.coreness(e, maxRounds = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty, "fixture produced no near-dup edges")
    // cross-check against CC: every vertex has coreness >= 1, and any
    // component of size >= 3 that is a clique has coreness = size - 1
    assert(out.forall(_._2 >= 1L))
  }

  test("q249: serpentine shard layout balances the corpus — doc counts " +
      "within 1, token mass within the largest single doc") {
    val out = SparkEntry.queries("q249_balanced_shards")(spark, Dir)
    val perShard = out.groupBy("shard")
      .agg(count(lit(1)).as("docs"), sum("n_tok").as("toks"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(perShard.length == 8, s"expected 8 shards, got ${perShard.length}")
    val docCounts = perShard.map(_._1)
    assert(docCounts.max - docCounts.min <= 1L,
      s"doc spread ${docCounts.mkString(",")}")
    // each N-row pass hands every shard exactly one doc in alternating
    // order, so no shard can fall behind by more than one doc's mass
    val maxDoc = out.agg(max("n_tok")).head.getLong(0)
    val tokMass = perShard.map(_._2)
    assert(tokMass.max - tokMass.min <= maxDoc,
      s"token spread ${tokMass.max - tokMass.min} > largest doc $maxDoc")
  }

  test("q250: span scrub coheres with q171's measurement — a doc is " +
      "rewritten iff it carries a cross-doc duplicated 8-gram") {
    val docs = graft.sources.Tables.documents(spark, Dir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val meas = SparkEntry.queries("q171_span_dedup")(spark, Dir)
      .select("doc_id", "n_dup")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scrub = SparkEntry.queries("q250_span_scrub")(spark, Dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(scrub.length == docs.size, "scrub must emit every doc")
    assert(scrub.exists(_._3 > 0), "fixture has dup spans; none removed")
    scrub.foreach { case (id, clean, removed) =>
      // docs under 8 tokens are absent from q171 and never scrubbed
      val nDup = meas.getOrElse(id, 0L)
      assert((nDup > 0) == (removed > 0),
        s"doc $id: n_dup=$nDup but n_removed=$removed")
      if (removed == 0)
        assert(clean == docs(id), s"doc $id rewritten without dup grams")
    }
  }

  test("q251 coherence: survivors are q247's keep set minus fully-" +
      "scrubbed docs, and the pool-local scrub is monotone vs q250") {
    val keep247 = SparkEntry.queries("q247_adaptive_quality_cut")(spark, Dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val scrub250 = SparkEntry.queries("q250_span_scrub")(spark, Dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val out251 = SparkEntry.queries("q251_curation_tail_pipeline")(spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out251.nonEmpty, "fixture pipeline produced no survivors")
    assert(out251.map(_._1).toSet.subsetOf(keep247),
      "q251 emitted a doc the quality cut dropped")
    // shrinking the pool can only shrink the dup-gram set, so the
    // pool-local scrub keeps AT LEAST as many tokens per doc as the
    // corpus-wide one
    out251.foreach { case (id, nk) =>
      assert(nk >= scrub250(id),
        s"doc $id: pool-local kept $nk < corpus-wide ${scrub250(id)}")
    }
    // a doc the cut kept but q251 dropped was fully scrubbed in-pool —
    // possible only if the corpus-wide scrub also left it nothing
    (keep247 -- out251.map(_._1).toSet).foreach { id =>
      assert(scrub250(id) == 0L,
        s"doc $id dropped by q251 but corpus-wide scrub kept ${scrub250(id)}")
    }
  }

  test("q245: streamed ANN search == the one-shot batch search (q236) — " +
      "row-local search is batch-boundary independent") {
    def rows(name: String) = SparkEntry.queries(name)(spark, Dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val streamed = rows("q245_stream_ann_search")
    val oneShot = rows("q236_ann_external_queries")
    assert(oneShot.nonEmpty, "fixture produced no search results")
    assert(streamed.sameElements(oneShot))
  }
}
