package graft

import org.apache.spark.sql.functions._

/** Round-8 contracts: the IVF-PQ index-build API and the release of the
  * search-time corpus pin (VERDICT r7 next-round #7).
  */
class Round8Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private val searchOps: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
    "ivfPqTopK" -> (emb => graft.ext.Similarity.ivfPqTopK(
      emb, 32, 5, col("vec_id") % 50 === 0, 24, 480)),
    "ivfTopK" -> (emb => graft.ext.Similarity.ivfTopK(
      emb, 8, 3, col("vec_id") % 50 === 0)),
    "ivfProbeTopK" -> (emb => graft.ext.Similarity.ivfProbeTopK(
      emb, 8, 3, col("vec_id") % 50 === 0, 2))
  )

  for ((opName, op) <- searchOps)
    test(s"$opName releases all corpus-sized pins once results materialize") {
      val sc = spark.sparkContext
      // quiesce: drop anything earlier suites pinned so the delta is ours
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val before = sc.getPersistentRDDs.keySet
      val emb = graft.sources.Tables.embeddings(spark, dir)
      val res = op(emb)
      val nres = res.count()
      assert(nres > 0)
      val after = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      // the ONLY surviving pin is the eager |queries|*k result checkpoint —
      // tiny by contract; anything corpus-sized here means the index pin
      // leaked back into session lifetime
      val corpus = emb.count()
      for ((_, rdd) <- after) {
        val n = rdd.count()
        assert(n <= nres,
          s"leaked pinned RDD with $n rows (result has $nres, corpus $corpus): " +
            s"$opName must unpersist its index before returning [${rdd.name}]")
      }
    }

  test("buildIvfPqIndexWith + ivfPqSearchIndexed == ivfPqTopK (same results)") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val pred = col("vec_id") % 50 === 0
    val viaWrapper = graft.ext.Similarity
      .ivfPqTopK(emb, 32, 5, pred, 24, 480)
      .select("qid", "rn", "nid").collect().map(_.toSeq).toSet
    val index = graft.ext.Similarity.buildIvfPqIndexWith(emb,
      graft.ext.Similarity.ivfCentroids(emb, 32), 24).persist()
    try {
      val viaIndex = graft.ext.Similarity
        .ivfPqSearchIndexed(index, 5, pred, 480)
        .select("qid", "rn", "nid").collect().map(_.toSeq).toSet
      assert(viaIndex == viaWrapper)
    } finally index.unpersist(blocking = false)
  }

  test("kmeansCentroids quantize no worse than their first-n init") {
    // lloyd starts from the first-k vectors — the SAME set ivfCentroids
    // picks — and the k-means objective is non-increasing from its init,
    // so the refreshed centroid table must quantize at least as well
    // (strictly better on any non-degenerate corpus).
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    def quantErr(cents: org.apache.spark.sql.DataFrame): Double =
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          (expr("aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)), " +
            "0D, (acc, x) -> acc + x)")).as("d2"))
        .groupBy("vec_id").agg(min(col("d2")).as("best"))
        .agg(sum("best")).head().getDouble(0)
    val firstN = graft.ext.Similarity.ivfCentroids(emb, 8)
    val km = graft.ext.Similarity.kmeansCentroids(emb, 8, 5)
    assert(km.count() == 8)
    val (e0, e1) = (quantErr(firstN), quantErr(km))
    // only the Lloyd invariant (non-increase from init) is asserted:
    // strict improvement held on every fixture so far, but a regenerated
    // corpus where first-8 happens to sit on a fixed point would fail a
    // strict < spuriously — the exact drift scenario this spec guards.
    assert(e1 <= e0 + 1e-9, s"k-means centroids quantize worse than init: $e1 > $e0")
  }

  test("buildIvfPqIndexWith + full probes + full rerank == exact brute force") {
    // with every cell probed and the rerank budget >= corpus, the PQ
    // shortlist keeps everything and the exact-cosine rerank decides —
    // IVF-PQ degenerates to brute force REGARDLESS of centroid quality.
    // This pins the refresh path end-to-end: kmeans centroid table ->
    // index build -> search, exact against bruteForceTopK.
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val n = emb.count().toInt
    val pred = col("vec_id") % 50 === 0
    val km = graft.ext.Similarity.kmeansCentroids(emb, 8, 3)
    val index = graft.ext.Similarity
      .buildIvfPqIndexWith(emb, km, nprobe = 8).persist()
    try {
      val got = graft.ext.Similarity
        .ivfPqSearchIndexed(index, 5, pred, rerank = n)
        .select("qid", "rn", "nid").collect().map(_.toSeq).toSet
      val want = graft.ext.Similarity
        .bruteForceTopK(emb.filter(pred), emb, 5)
        .select("qid", "rn", "nid").collect().map(_.toSeq).toSet
      assert(got == want, s"degenerate IVF-PQ must equal brute force")
    } finally index.unpersist(blocking = false)
  }

  test("index schema: (vec_id, cells, v, pq_code), home cell = cells(0)") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val index = graft.ext.Similarity.buildIvfPqIndexWith(emb,
      graft.ext.Similarity.ivfCentroids(emb, 32), 4)
    assert(index.columns.toSeq == Seq("vec_id", "cells", "v", "pq_code"))
    assert(index.count() == emb.count())
    // cells(0) must equal the single-probe argmax assignment
    val home = index.select(col("vec_id"), col("cells").getItem(0).as("cell"))
    val argmax = graft.ext.Similarity.ivfAssignProbes(emb, 32, 1)
      .select(col("vec_id"), col("cells").getItem(0).as("cell"))
    assert(home.exceptAll(argmax).isEmpty && argmax.exceptAll(home).isEmpty)
  }

  // Spark jobs each ANN index query launched at this fixture while the
  // index API still had one build/append entry point per routing variant
  // (one SparkEntry query call plus collecting its result). The one-build,
  // one-append, one-search API may not add any. Measured in one session no
  // other suite has touched, with adaptive execution off: under AQE the
  // count moves by a job or two between identical runs (re-planning races
  // whichever query stage finishes first) and with session state (q216
  // read 18 instead of 17 after the other suites had run in the shared
  // session), while the static plan's count is a property of the plan.
  private val annJobBudget = Seq(
    "q216_ivf_pq_search" -> 8,
    "q221_ivf_pq_persisted_index" -> 11,
    "q223_ivf_pq_incremental_append" -> 8,
    "q227_ivf_pq_autoscale_two_level" -> 9,
    "q230_ivf_pq_two_level_lifecycle" -> 18,
    "q231_ivf_pq_two_level_refresh" -> 11,
    "q236_ann_external_queries" -> 15,
    "q238_filtered_ann_recall_eval" -> 35)

  test("ANN index queries launch no more Spark jobs than their budget") {
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    for ((name, budget) <- annJobBudget) {
      spark.catalog.clearCache()
      val (rows, jobs) = withJobCount(
        SparkEntry.queries(name)(session, dir).collect())
      info(s"$name: $jobs jobs (budget $budget)")
      assert(rows.nonEmpty, s"$name returned no rows")
      assert(jobs <= budget, s"$name launched $jobs Spark jobs (budget $budget)")
    }
  }
}
