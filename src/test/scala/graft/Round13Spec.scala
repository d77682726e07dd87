package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Similarity}

/** Round-13 invariants: the incremental-dedup state seams (persisted
  * postings probe + delta-sized label updates) pinned against their
  * oracle-verified full-recompute twins, and the external-query id
  * contract failing loudly instead of silently dropping candidates.
  */
class Round13Spec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"
  // the q232 split: every 5th doc is the ingest batch
  private def split() = {
    val docs = graft.sources.Tables.documents(spark, Dir)
    val isBatch = col("doc_id") % 5 === 0
    (docs.filter(!isBatch), docs.filter(isBatch))
  }

  test("indexed cross-corpus pairs == the direct cross-corpus join " +
      "(Dedup.crossCorpusJaccardPairsIndexed vs crossCorpusJaccardPairs)") {
    val (corpus, batch) = split()
    val direct = Dedup
      .crossCorpusJaccardPairs(corpus, batch, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val postings = Dedup.ngramPostings(corpus, "doc_id", "text", 3)
      .localCheckpoint(true) // stands in for the persisted parquet state
    val indexed = Dedup
      .crossCorpusJaccardPairsIndexed(postings,
        Dedup.ngramPostingSizes(postings), batch, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    assert(direct.nonEmpty, "fixture produced no cross-corpus pairs")
    assert(indexed.sameElements(direct))
  }

  test("postings probe == within-batch ngramJaccardPairs ∪ indexed " +
      "cross-corpus pairs, flat and bucket-pruned (64 buckets); a doc " +
      "shorter than k and two identical batch docs included") {
    import spark.implicits._
    val (corpus, batch0) = split()
    val copied = corpus.orderBy("doc_id").select("text").head().getString(0)
    val batch = batch0.select("doc_id", "text").unionByName(Seq(
      (900001L, "too short"), (900002L, copied), (900003L, copied))
      .toDF("doc_id", "text"))
    val postings = Dedup.ngramPostings(corpus, "doc_id", "text", 3)
      .localCheckpoint(true)
    val sizes = Dedup.ngramPostingSizes(postings).localCheckpoint(true)
    def ij(df: org.apache.spark.sql.DataFrame) =
      df.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (ij(Dedup.ngramJaccardPairs(batch, "doc_id", "text", 3, 0.5)) ++
      ij(Dedup.crossCorpusJaccardPairsIndexed(postings, sizes, batch,
        "doc_id", "text", 3, 0.5))).toSet
    assert(want.contains((900002L, 900003L)),
      "the identical batch docs must pair with each other")
    assert(want.exists(_._2 == 900002L) && !want.exists(p =>
      p._1 == 900001L || p._2 == 900001L), "fixture edge cases missing")
    val bp = Dedup.ngramPostings(batch, "doc_id", "text", 3)
      .localCheckpoint(true)
    val probed = ij(Dedup.incrementalCcPairsFromPostings(postings, sizes, bp,
      0.5))
    assert(probed.length == probed.toSet.size, "duplicate pairs")
    assert(probed.toSet == want)
    // the bucketed layout, pruned to the batch's buckets at the scan
    val state = java.nio.file.Files
      .createTempDirectory("graft_r13_probe").toString
    try {
      Dedup.ngramPostingsBucketed(corpus, "doc_id", "text", 3, 64)
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(state)
      val pruned = Dedup.pruneToBatchBuckets(spark.read.parquet(state), bp, 64)
      assert(ij(Dedup.incrementalCcPairsFromPostings(pruned, sizes, bp, 0.5))
        .toSet == want)
    } finally graft.util.Dirs.rmTree(state)
  }

  test("ngramSetSizes == ngramPostingSizes over the same docs' postings " +
      "(the shuffle-free size delta ccStoreStep writes); a doc shorter " +
      "than k and two identical docs included") {
    import spark.implicits._
    val (_, batch0) = split()
    val copied = batch0.orderBy("doc_id").select("text").head().getString(0)
    val batch = batch0.select("doc_id", "text").unionByName(Seq(
      (900001L, "too short"), (900002L, copied), (900003L, copied))
      .toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("i", "na")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def typed(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => (f.name, f.dataType))
    val direct = Dedup.ngramSetSizes(batch, "doc_id", "text", 3)
    val viaPostings = Dedup.ngramPostingSizes(
      Dedup.ngramPostings(batch, "doc_id", "text", 3))
    assert(typed(direct) == typed(viaPostings))
    val want = rows(viaPostings)
    val got = rows(direct)
    assert(got.nonEmpty && got == want)
    assert(!got.exists(_._1 == 900001L) && got.exists(_._1 == 900003L),
      "fixture edge cases missing")
  }

  test("incremental label updates applied to the persisted state == the " +
      "full CC rebuild (changed ∪ fresh ∪ singles vs q232's relabel)") {
    val (corpus, batch) = split()
    // prep (the persisted state a production deployment amortizes)
    val postings = Dedup.ngramPostings(corpus, "doc_id", "text", 3)
      .localCheckpoint(true)
    val sizes = Dedup.ngramPostingSizes(postings).localCheckpoint(true)
    val labels = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5))
      .localCheckpoint(true)
    // the per-ingest step under test
    val bp = Dedup.ngramPostings(batch, "doc_id", "text", 3)
      .localCheckpoint(true)
    val newPairs = Dedup.incrementalCcPairsFromPostings(postings, sizes, bp,
        0.5)
      .localCheckpoint(true)
    assert(newPairs.count() > 0, "fixture produced no delta pairs")
    val updates = Dedup.incrementalCcLabelUpdates(labels, newPairs,
      batch.select(col("doc_id").as("id")))
    val applied = Dedup.applyCcLabelUpdates(labels, updates)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the oracle-shaped truth: full CC over corpus ∪ batch (q65/q232's
    // reachability-closure semantics, hash-verified in CORRECTNESS)
    val docs = graft.sources.Tables.documents(spark, Dir)
    val full = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // (a) on every doc the rebuild labels, the applied state is EXACT
    val mismatched = full.filter { case (id, l) => applied.get(id) != Some(l) }
    assert(mismatched.isEmpty,
      s"applied state diverges from the full rebuild on ${mismatched.size} " +
        s"ids, e.g. ${mismatched.take(3)}")
    // (b) the only extra rows are explicit self-labels for batch docs the
    // rebuild leaves implicit (they pair with nothing, so the full pair
    // graph never sees them) — no corpus doc gains a phantom row
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val extras = applied.keySet -- full.keySet
    assert(extras.subsetOf(batchIds),
      s"non-batch ids inserted: ${(extras -- batchIds).take(3)}")
    assert(extras.forall(id => applied(id) == id))
    // (c) the update set did real work on this fixture: at least one doc
    // was labeled into an existing component or merged across one
    val nontrivial = updates.filter(col("label") =!= col("id")).count()
    assert(nontrivial > 0, "update set is all self-labels — fixture too weak")
  }

  test("incrementalCcLabelUpdates local fold == the distributed body, on " +
      "the split fixture and on edge-case pair deltas") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "label").as[(Long, Long)].collect().toSeq.sorted
    def same(name: String, labels: org.apache.spark.sql.DataFrame,
        pairs: org.apache.spark.sql.DataFrame,
        batchIds: org.apache.spark.sql.DataFrame): Unit = {
      val p = pairs.localCheckpoint(true)
      val local = rows(Dedup.incrementalCcLabelUpdates(labels, p, batchIds))
      val dist = rows(Dedup.incrementalCcLabelUpdatesDistributed(labels, p,
        batchIds))
      assert(local == dist, s"$name: local fold diverges\nlocal: $local" +
        s"\ndist:  $dist")
    }
    // the q232 split fixture
    val (corpus, batch) = split()
    val postings = Dedup.ngramPostings(corpus, "doc_id", "text", 3)
      .localCheckpoint(true)
    val sizes = Dedup.ngramPostingSizes(postings).localCheckpoint(true)
    val fixtureLabels = Dedup.connectedComponents(Dedup
        .ngramJaccardPairsFromPostings(postings, sizes, 0.5))
      .localCheckpoint(true)
    val bp = Dedup.ngramPostings(batch, "doc_id", "text", 3)
      .localCheckpoint(true)
    same("split fixture", fixtureLabels,
      Dedup.incrementalCcPairsFromPostings(postings, sizes, bp, 0.5),
      batch.select(col("doc_id").as("id")))
    // components {1, 2} → 1, {3, 4} → 3, {7, 8} → 7; corpus doc 6 has no
    // label row; batch docs 10..15
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (7L, 7L),
      (8L, 7L)).toDF("id", "label")
    val batchIds = (10L to 15L).toDF("id")
    val cases = Seq(
      "empty pair delta" -> Seq.empty[(Long, Long)],
      "bridge merging two labelled components" -> Seq((2L, 12L), (4L, 12L)),
      "pair touching an unlabelled corpus doc" -> Seq((6L, 13L)),
      "self-loop after collapse (li == lj)" -> Seq((7L, 8L), (8L, 14L)),
      "join, bridge, fresh corpus doc and self-loop together" ->
        Seq((2L, 10L), (4L, 11L), (10L, 11L), (6L, 13L), (6L, 3L),
          (7L, 8L)))
    for ((name, pairs) <- cases) {
      same(name, labels, pairs.toDF("i", "j"), batchIds)
      // batch docs in no pair come back self-labelled on both paths
      val inPair = pairs.flatMap(p => Seq(p._1, p._2)).toSet
      val got = rows(Dedup.incrementalCcLabelUpdates(labels,
        pairs.toDF("i", "j").localCheckpoint(true), batchIds)).toMap
      assert((10L to 15L).filterNot(inPair).forall(id => got(id) == id),
        s"$name: a batch doc in no pair is not self-labelled")
    }
  }

  test("a colliding external qid fails loudly under the debug gate " +
      "instead of silently dropping the corpus row") {
    val emb = graft.sources.Tables.embeddings(spark, Dir)
    val index = Similarity.buildIvfPqIndexWith(emb,
      Similarity.ivfCentroids(emb, 8), 2).localCheckpoint(true)
    def queriesFrom(offset: Long) = {
      val q = index.filter(col("vec_id") < 5)
      (q.select((col("vec_id") + offset).as("qid"), col("v").as("qv")),
        q.select((col("vec_id") + offset).as("qid"),
          explode(col("cells")).as("cell")))
    }
    spark.conf.set(Similarity.AssertQidDisjointConf, "true")
    try {
      // colliding qids (no offset): the gate must throw at call time
      val (badQ, badC) = queriesFrom(0L)
      val ex = intercept[IllegalArgumentException] {
        Similarity.ivfPqSearchQueries(index, badQ, badC, 3, 10)
      }
      assert(ex.getMessage.contains("ExternalQueryIdOffset"))
      // the sanctioned construction passes the gate and returns results
      val (goodQ, goodC) = queriesFrom(Similarity.ExternalQueryIdOffset)
      assert(Similarity.ivfPqSearchQueries(index, goodQ, goodC, 3, 10)
        .count() > 0)
      // and the self-query path is exempt by design (its qids ARE corpus
      // ids — the nid != qid guard is its self-match filter, not a bug)
      assert(Similarity.ivfPqSearchIndexed(index, 3, col("vec_id") < 5, 10)
        .count() > 0)
    } finally spark.conf.unset(Similarity.AssertQidDisjointConf)
  }

  // Round12Spec's adversarial fixture: three tight 2-D blobs with ids
  // ordered so any first-n seeding lands every centroid in blob 0
  private def skewedBlobs = {
    import spark.implicits._
    val pts = for {
      (cx, cy, blob) <- Seq((0.0, 0.0, 0L), (10.0, 10.0, 1L), (20.0, 0.0, 2L))
      i <- 0 until 8
    } yield (blob * 8L + i,
      Array((cx + (i % 4) * 0.1).toFloat, (cy + (i / 4) * 0.1).toFloat))
    pts.toDF("vec_id", "embedding")
  }

  private def quantErr(pts: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): Double =
    pts.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"),
        expr("aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)), " +
          "0D, (acc, x) -> acc + x)").as("d2"))
      .groupBy("vec_id").agg(min(col("d2")).as("best"))
      .agg(sum("best")).head().getDouble(0)

  test("k-means|| (Bahmani oversampling) recovers the adversarial blobs " +
      "in O(rounds) passes where first-n cannot") {
    val firstN = Similarity.kmeansCentroids(skewedBlobs, 3, 5)
    val par = Similarity.kmeansParallelCentroids(skewedBlobs, 3, 5, seed = 7L)
    assert(par.count() == 3)
    val (eF, eP) = (quantErr(skewedBlobs, firstN), quantErr(skewedBlobs, par))
    // same structural gap Round12Spec asserts for ++: first-3 lumps two
    // blobs under one centroid, the oversampled seeding separates them
    assert(eP * 10 < eF,
      s"k-means|| ($eP) should beat first-n ($eF) by >10x here")
  }

  test("k-means|| init is deterministic under a fixed seed and returns " +
      "k centroids drawn from the corpus") {
    val emb = graft.sources.Tables.embeddings(spark, Dir)
    def run() = Similarity.kmeansParallelInit(emb, 8, seed = 99L)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val (a, b) = (run(), run())
    assert(a.length == 8)
    assert(a.map(_._1).sameElements(0L until 8L))
    assert(a.map(_._2).sameElements(b.map(_._2)))
    // every centroid is an actual corpus vector (init never invents points)
    val corpus = emb.select(Similarity.asDouble(col("embedding")))
      .collect().map(_.getSeq[Double](0)).toSet
    assert(a.forall(c => corpus.contains(c._2)))
  }

  test("k-means|| degenerate corpus (fewer distinct points than k) tops " +
      "up deterministically instead of silently duplicating") {
    import spark.implicits._
    // 3 distinct coordinates, each under 4 vec_ids: sampling mass dies
    // after the 3 distinct points are candidates, so k = 5 must exercise
    // the lowest-id top-up and the zero-mass recluster fallback
    val pts = (0 until 12)
      .map(i => (i.toLong, Array(((i % 3) * 10.0).toFloat, 0.0f)))
      .toDF("vec_id", "embedding")
    val init = Similarity.kmeansParallelInit(pts, 5, seed = 3L).collect()
    assert(init.length == 5)
    val vecs = init.map(_.getSeq[Double](1))
    // all three distinct coordinates survive the recluster (the duplicate
    // fills cannot displace a real cluster)
    assert(vecs.map(_.head).distinct.sorted.toSeq == Seq(0.0, 10.0, 20.0))
  }
}
