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
    val newPairs = Dedup.incrementalCcPairs(postings, sizes, batch,
        "doc_id", "text", 3, 0.5)
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

  test("a colliding external qid fails loudly under the debug gate " +
      "instead of silently dropping the corpus row") {
    val emb = graft.sources.Tables.embeddings(spark, Dir)
    val index = Similarity.buildIvfPqIndex(emb, 8, 2).localCheckpoint(true)
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
