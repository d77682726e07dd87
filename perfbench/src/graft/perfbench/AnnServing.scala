package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}

/** ann_serving: external-query search over a persisted IVF-PQ index.
  *
  * Set-up builds the centroid table and the index over a generated Gaussian
  * mixture and writes both to parquet. One client then issues 20-query
  * searches back to back; after every `AppendEvery` searches it appends
  * `AppendSize` new vectors and writes only the delta beside the index, so
  * later searches read base plus deltas.
  */
object AnnServing {
  val CorpusSize = 12000
  val Clusters = 32
  val Cells = 60
  val QueriesPerSearch = 20
  val AppendEvery = 2
  val AppendSize = 500
  val WarmSearches = 5
  val WarmAppends = 1
  /** Nominal search cost: a run times round(seconds / NominalSearchS)
    * searches, so the sample count never depends on the machine's speed.
    */
  val NominalSearchS = 1.25
  /** Search index of the fixed query batch the output checks use. */
  val CheckSearch = 1000000L

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val mark = new Marks
    val gen = new VectorsGen(ctx.seed, Clusters)
    val emb = AnnAdapter.embeddings(spark,
      Inputs.writeVectors(spark, gen.corpus(0, CorpusSize), ctx.dir("inputs")))

    mark("inputs")
    val (setupS, root) = {
      val runs = (1 to ctx.setupReps).map { rep =>
        val root = ctx.dir(s"ann_state_$rep")
        val t0 = System.nanoTime()
        AnnAdapter.centroids(emb, Cells).write.parquet(s"$root/centroids")
        AnnAdapter.build(emb, spark.read.parquet(s"$root/centroids"))
          .write.parquet(s"$root/index/base")
        ((System.nanoTime() - t0) / 1e9, root)
      }
      (runs.map(_._1), runs.last._2)
    }
    val centroids = spark.read.parquet(s"$root/centroids").cache()
    centroids.count()
    def index(): DataFrame = spark.read.parquet(s"$root/index/*")
    def queries(s: Long): DataFrame =
      gen.queries(s, QueriesPerSearch, AnnAdapter.qidOffset).toDF("qid", "qv")
    mark("setup")

    val searches = ArrayBuffer.empty[(Span, Boolean)]
    val appends = ArrayBuffer.empty[(Span, Boolean)]
    val cpuMs = ArrayBuffer.empty[(String, Double, Boolean)] // (operation, CPU ms, traced)
    val appended = ArrayBuffer.empty[Vec]
    val indexUsage = ArrayBuffer.empty[(Long, Double)]
    var attempted = 0L
    var failedOps = 0L
    val failures = ArrayBuffer.empty[String]
    def search(s: Long): (Array[Row], Span) = {
      attempted += 1
      val ((rows, span), cpu) =
        Cpu.timed(tr.span("search")(AnnAdapter.search(index(), centroids, queries(s)).collect()))
      cpuMs += (("search", cpu, tr.enabled))
      if (rows.length != QueriesPerSearch * AnnAdapter.K) {
        failedOps += 1; failures += s"search $s returned ${rows.length} rows"
      }
      (rows, span)
    }
    def append(): Span = {
      attempted += 1
      val batch = gen.corpus(CorpusSize + appended.size, AppendSize)
      val ((_, span), cpu) = Cpu.timed(tr.span("append") {
        AnnAdapter.delta(index(), centroids, batch.toDF())
          .write.parquet(s"$root/index/delta_${appended.size}")
      })
      cpuMs += (("append", cpu, tr.enabled))
      appended ++= batch
      indexUsage += Files.usage(s"$root/index")
      span
    }
    // warm-up: the first searches and appends pay one-off JIT and codegen
    (1L to WarmSearches).foreach(i => search(CheckSearch + i))
    (1 to WarmAppends).foreach(_ => append())
    cpuMs.clear()
    mark("warmup")

    val nSearches = math.max(2 * AppendEvery, math.round(ctx.seconds / NominalSearchS).toInt)
    for (i <- 0 until nSearches) {
      if (ctx.meters.isDefined && !tr.enabled && i >= nSearches / 2) {
        ctx.meters.foreach(_.attach()); tr.enabled = true
      }
      val traced = tr.enabled
      searches += ((search(i.toLong)._2, traced))
      if ((i + 1) % AppendEvery == 0) appends += ((append(), traced))
    }

    mark("loop")
    // ---- output checks on a fixed query batch, over the final index
    def sorted(rs: Array[Row]): Seq[(Long, Int, Long, Double)] =
      rs.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rn"), r.getAs[Long]("nid"),
        r.getAs[Double]("cos"))).toSeq.sorted
    val checkQ = queries(CheckSearch)
    val got = sorted(AnnAdapter.search(index(), centroids, checkQ).collect())
    val all = emb.unionByName(appended.toSeq.toDF())
    val fresh = sorted(AnnAdapter.search(AnnAdapter.build(all, centroids), centroids, checkQ)
      .collect())
    if (got != fresh) {
      failedOps += 1
      failures += s"search after ${appended.size / AppendSize} appends differs from a rebuild " +
        s"over old and new vectors (${got.size} vs ${fresh.size} rows)"
    }
    val exactQ = gen.queries(CheckSearch, QueriesPerSearch, AnnAdapter.qidOffset)
      .map { case (q, v) => (q, v.map(_.toFloat)) }.toDF("vec_id", "embedding")
    val exact = AnnAdapter.exact(exactQ, all).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val recall = got.count(g => exact((g._1, g._3))).toDouble / (QueriesPerSearch * AnnAdapter.K)

    mark("checks")
    def ms(xs: Iterable[(Span, Boolean)], traced: Boolean) =
      xs.filter(_._2 == traced).map(_._1.ms).toSeq
    val searchMs = ms(searches, traced = false)
    def cpu(op: String) = cpuMs.filter(c => c._1 == op && !c._3).map(_._2).toSeq
    val searchCpu = cpu("search")
    val named = Map(
      "setup_s" -> (Stats.median(setupS), "s"),
      "search_latency_p50_ms" -> (Stats.median(searchMs), "ms"),
      "search_latency_p90_ms" -> (Stats.pct(searchMs, 90), "ms"),
      "append_latency_p50_ms" -> (Stats.median(ms(appends, traced = false)), "ms"),
      "queries_per_s" -> (QueriesPerSearch * searchMs.size / (searchMs.sum / 1e3), "queries/s"),
      "recall_at_10" -> (recall, "ratio"),
      "search_cpu_ms" -> (Stats.median(searchCpu), "ms"),
      "append_cpu_ms" -> (Stats.median(cpu("append")), "ms"),
      "queries_per_cpu_s" ->
        (QueriesPerSearch * searchCpu.size / (searchCpu.sum / 1e3), "queries/s"))
    val layers = ctx.meters.map { m =>
      val tracedS = searches.filter(_._2).map(_._1).toSeq
      m.perOp(tr, tracedS) ++ Map(
        "ann.search_ms" -> Stats.median(tracedS.map(_.ms)),
        "ann.append_ms" -> Stats.median(ms(appends, traced = true)),
        "trace.overhead_ms" -> (Stats.median(tracedS.map(_.ms)) - Stats.median(searchMs)))
    }.getOrElse(Map.empty)
    val (files, mb) = indexUsage.lastOption.getOrElse(Files.usage(s"$root/index"))
    Outcome(
      named = named,
      perLayer = layers ++ Map("index.files" -> files.toDouble, "index.mb" -> mb),
      detail = Seq(
        "samples" -> Map("searches_untraced" -> searchMs.size,
          "searches_traced" -> searches.count(_._2), "appends" -> appends.size,
          "setup_reps" -> setupS.size),
        "setup_reps_s" -> setupS,
        "phase_s" -> mark.all,
        "search_ms" -> searches.map(_._1.ms).toSeq,
        "append_ms" -> appends.map(_._1.ms).toSeq,
        "recall_at_10" -> recall,
        "final_vectors" -> (CorpusSize + appended.size),
        "generator" -> Map("corpus_vectors" -> CorpusSize, "clusters" -> Clusters,
          "cluster_spread" -> gen.spread, "dim" -> gen.dim, "cells" -> Cells,
          "nprobe" -> AnnAdapter.NProbe, "rerank" -> AnnAdapter.Rerank, "k" -> AnnAdapter.K,
          "queries_per_search" -> QueriesPerSearch, "append_every_searches" -> AppendEvery,
          "append_vectors" -> AppendSize)),
      attempted = attempted + 1,
      failed = failedOps,
      checks = Seq(("ann_serving: search after appends equals search over a fresh " +
        "buildIvfPqIndexWith of old and new vectors", failures.isEmpty,
        failures.take(5).mkString("; "))))
  }
}
