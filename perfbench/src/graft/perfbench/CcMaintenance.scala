package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

/** cc_maintenance: the incremental near-duplicate component store.
  *
  * Set-up initializes the store over a generated base corpus (written as
  * `documents.parquet` and read back through `Tables.documents`). The loop
  * is closed: each epoch lands one generated document batch in
  * `ccStoreStep`, then serving reads of `ccStoreLabels` fetch that epoch's
  * ids, then the next epoch lands.
  */
object CcMaintenance {
  val BaseDocs = 600
  val EpochDocs = 100
  val BaseDupShare = 0.1
  val BaseSiblingShare = 0.2
  val DupShare = 0.2
  val BridgeShare = 0.05
  val SiblingShare = 0.1
  /** Serving reads of the landed epoch's labels between two epochs. */
  val ReadsPerEpoch = 3
  /** Nominal cost of an epoch and its reads: a run times
    * ceil(seconds / NominalEpochS) epochs, at least 2, so the sample count
    * never depends on the machine's speed.
    */
  val NominalEpochS = 5.0
  /** Untimed epochs after set-up: the first step and reads pay one-off JIT
    * and codegen. Timed epochs then alternate between a plain step and one
    * that folds (epochs 2, 4, ...), so an even count covers whole cycles.
    */
  val WarmEpochs = 1

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val mark = new Marks
    val gen = new DocsGen(ctx.seed)
    val base = gen.batch(BaseDocs, BaseDupShare, 0.0, BaseSiblingShare)
    val corpus = CcAdapter.documents(spark, Inputs.writeDocs(spark, base, ctx.dir("inputs")))

    mark("inputs")
    val (setupS, root) = {
      val runs = (1 to ctx.setupReps).map { rep =>
        val root = ctx.dir(s"cc_state_$rep")
        val t0 = System.nanoTime()
        CcAdapter.init(corpus, root)
        ((System.nanoTime() - t0) / 1e9, root)
      }
      (runs.map(_._1), runs.last._2)
    }

    val landed = ArrayBuffer.from(base)
    // (epoch span, step s, step CPU ms, traced)
    val epochs = ArrayBuffer.empty[(Span, Double, Double, Boolean)]
    val reads = ArrayBuffer.empty[(Double, Double, Boolean)] // (ms, CPU ms, traced)
    val labelWriteS = ArrayBuffer.empty[Double]
    val newPairs = ArrayBuffer.empty[Double]
    val storeUsage = ArrayBuffer.empty[(Long, Double)]
    val seenBases = mutable.Set.empty[String]
    def bases(): Set[String] = Seq("label_base", "posting_base", "size_base").flatMap { b =>
      Option(new java.io.File(s"$root/gens/$b").listFiles).toSeq.flatten
        .filter(g => new java.io.File(g, "_SUCCESS").exists).map(g => s"$b/${g.getName}")
    }.toSet
    mark("setup")
    var folds = 0
    val failures = ArrayBuffer.empty[String]
    var failedOps = 0L
    var attempted = 0L

    var epoch = 0L
    /** Lands one batch, then reads its labels back; returns the epoch span,
      * its CPU ms and the label reads' (wall ms, CPU ms).
      */
    def oneEpoch(traced: Boolean): (Span, Double, Seq[(Double, Double)]) = {
      val docs = gen.batch(EpochDocs, DupShare, BridgeShare, SiblingShare)
      val (lo, hi) = (docs.head.doc_id, docs.last.doc_id)
      attempted += 1
      val ((_, epochSpan), cpuMs) = Cpu.timed(tr.span("epoch") {
        val batch = Inputs.frame(spark, docs)
        tr.span("step")(CcAdapter.step(root, batch, epoch, s => labelWriteS += s,
          (pairs, _) => if (traced) newPairs += pairs.count().toDouble))
      })
      landed ++= docs
      val readMs = (1 to ReadsPerEpoch).map { _ =>
        attempted += 1
        val ((n, ms), readCpuMs) = Cpu.timed(tr.timed("label_read")(CcAdapter.labels(spark, root)
          .filter(col("id").between(lo, hi)).collect().length))
        if (n != docs.size) {
          failedOps += 1; failures += s"epoch $epoch: label read returned $n of ${docs.size} ids"
        }
        (ms, readCpuMs)
      }
      epoch += 1
      (epochSpan, cpuMs, readMs)
    }
    (1 to WarmEpochs).foreach(_ => oneEpoch(traced = false))
    mark("warmup")
    seenBases ++= bases()

    val nEpochs = math.max(2, math.ceil(ctx.seconds / NominalEpochS).toInt)
    for (i <- 0 until nEpochs) {
      if (ctx.meters.isDefined && !tr.enabled && i >= nEpochs / 2) {
        ctx.meters.foreach(_.attach()); tr.enabled = true
      }
      val traced = tr.enabled
      val (epochSpan, cpuMs, readMs) = oneEpoch(traced)
      epochs += ((epochSpan, epochSpan.ms / 1e3, cpuMs, traced))
      reads ++= readMs.map { case (ms, cpu) => (ms, cpu, traced) }
      val now = bases()
      folds += (now -- seenBases).size
      seenBases ++= now
      storeUsage += Files.usage(s"$root")
    }
    mark("loop")
    // ---- output check: the store equals a full recomputation
    val want = CcAdapter.reference(Inputs.frame(spark, landed.toSeq)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = CcAdapter.labels(spark, root).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wrong = want.count { case (id, l) => !got.get(id).contains(l) }
    val extra = got.count { case (id, l) => !want.contains(id) && (l != id || id < BaseDocs) }
    if (wrong + extra > 0) {
      failedOps += 1
      failures += s"final labels: $wrong differ from the full recomputation, $extra unexpected"
    }
    val components = want.values.toSet.size
    mark("checks")

    val untracedE = epochs.filterNot(_._4).map(_._2).toSeq
    val untracedCpu = epochs.filterNot(_._4).map(_._3).toSeq
    val untracedR = reads.filterNot(_._3)
    val named = Map(
      "setup_s" -> (Stats.median(setupS), "s"),
      "epoch_latency_p50_s" -> (Stats.median(untracedE), "s"),
      "docs_per_s" -> (untracedE.size * EpochDocs / untracedE.sum, "docs/s"),
      "label_read_p50_ms" -> (Stats.median(untracedR.map(_._1).toSeq), "ms"),
      // mean over whole fold cycles: the median of alternating plain and
      // folding steps falls between the two
      "epoch_cpu_mean_ms" -> (untracedCpu.sum / untracedCpu.size, "ms"),
      "label_read_cpu_ms" -> (Stats.median(untracedR.map(_._2).toSeq), "ms"),
      "docs_per_cpu_s" -> (untracedCpu.size * EpochDocs /
        ((untracedCpu.sum + untracedR.map(_._2).sum) / 1e3), "docs/s"))
    val tracedE = epochs.filter(_._4)
    val layers = ctx.meters.map { m =>
      m.perOp(tr, tracedE.map(_._1).toSeq) ++ Map(
        "cc.step_s" -> Stats.median(tracedE.map(_._2).toSeq),
        "cc.new_pairs" -> Stats.median(newPairs.toSeq),
        "trace.overhead_ms" ->
          (Stats.median(tracedE.map(_._2).toSeq) - Stats.median(untracedE)) * 1e3)
    }.getOrElse(Map.empty)
    Outcome(
      named = named,
      perLayer = layers ++ Map(
        "cc.label_write_s" -> Stats.median(labelWriteS.toSeq),
        "cc.folds" -> folds.toDouble / math.max(1, epochs.size),
        "store.files" -> Stats.median(storeUsage.map(_._1.toDouble).toSeq),
        "store.mb" -> Stats.median(storeUsage.map(_._2).toSeq)),
      detail = Seq(
        "samples" -> Map("epochs_untraced" -> untracedE.size,
          "epochs_traced" -> tracedE.size, "label_reads_untraced" -> untracedR.size,
          "setup_reps" -> setupS.size),
        "setup_reps_s" -> setupS,
        "phase_s" -> mark.all,
        "epoch_s" -> epochs.map(_._2).toSeq,
        "epoch_cpu_ms" -> epochs.map(_._3).toSeq,
        "label_read_ms" -> reads.map(_._1).toSeq,
        "label_read_cpu_ms" -> reads.map(_._2).toSeq,
        "final_docs" -> landed.size,
        "final_components" -> components,
        "generator" -> Map("base_docs" -> BaseDocs, "epoch_docs" -> EpochDocs,
          "words_per_doc" -> gen.docWords, "vocabulary" -> gen.vocabulary.size,
          "near_duplicate_share" -> DupShare, "bridge_share" -> BridgeShare,
          "sibling_share" -> SiblingShare, "base_near_duplicate_share" -> BaseDupShare,
          "base_sibling_share" -> BaseSiblingShare, "near_duplicates" -> gen.nDup,
          "bridges" -> gen.nBridge, "siblings" -> gen.nSibling, "fresh" -> gen.nFresh)),
      attempted = attempted + 1,
      failed = failedOps,
      checks = Seq(("cc_maintenance: labels equal connectedComponents(ngramJaccardPairs) " +
        "over base and all epochs", failures.isEmpty, failures.take(5).mkString("; "))))
  }
}
