package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.{Dedup, Similarity}
import graft.model.Reading
import graft.ops.{CoreOps, FilterConfig}
import graft.sources.Tables
import graft.streaming.Streams

/** Every call the benchmark makes into the library, one object per
  * workload: when a library API changes, this file is the one to edit.
  */
object ReadingsAdapter {
  type Config = FilterConfig
  type Cell = Streams.HotConfig
  def config(scale: Double, offset: Double, enable: Boolean = true,
      allow: Option[Seq[String]] = None): Config =
    FilterConfig(enable = enable, scale = scale, offset = offset, assetAllowlist = allow)
  def cell(initial: Config): Cell = new Streams.HotConfig(initial)

  /** The reference's operator: hot-reconfigurable transform per batch. */
  def start(events: DataFrame, cfg: Cell)(deliver: (DataFrame, Long) => Unit): StreamingQuery =
    Streams.hotScaledStream(events, cfg)(deliver)

  /** Batch-atomic passthrough host around `pipeline`. */
  def guard(pipeline: DataFrame => DataFrame)(batch: DataFrame): DataFrame =
    Streams.guardedBatch(pipeline)(batch)

  /** The datapoint pipeline: a quality gate on the integer datapoint `k`
    * (an ANSI cast, which a malformed reading fails), the Reading model's
    * map encoding of the scaled value, and the promoted typed column back.
    * Output columns: assetCode, id, ts, userTs, user_id, scaled.
    */
  def pipeline(out: DataFrame): DataFrame = {
    val gated = out
      .transform(CoreOps.exprFilter("cast(get_json_object(props, '$.k') as int) >= 0"))
      .withColumn("value", col("scaled"))
    Reading.promote(Reading.fromEvents(gated).toDF(), Seq("value", "user_id"))
      .transform(CoreOps.renameDatapoint("value", "scaled"))
      .transform(CoreOps.dropDatapoint("reading"))
  }
}

object CcAdapter {
  val K = 3
  val Threshold = 0.5

  def documents(spark: SparkSession, dir: String): DataFrame = Tables.documents(spark, dir)

  def init(corpus: DataFrame, root: String): Unit =
    Streams.ccStoreInit(corpus, root, K, Threshold)

  /** One maintenance epoch. The fold thresholds allow one unfolded delta
    * before the epoch, with a sweep after each fold: the first fold comes at
    * epoch 2, so the two epochs a run times only add deltas, and each
    * serving read merges the base with one or two deltas.
    */
  def step(root: String, batch: DataFrame, epoch: Long,
      onLabelWrite: Double => Unit, onEpochPairs: (DataFrame, Long) => Unit): Unit =
    Streams.ccStoreStep(root, K, Threshold, maxLabelDeltas = 1, maxPostingGens = 1,
      gcAfterFold = true, onLabelWrite = onLabelWrite,
      onEpochPairs = onEpochPairs)(batch, epoch)

  /** Serving read: the labels of the given ids. */
  def labels(spark: SparkSession, root: String): DataFrame =
    Streams.ccStoreLabels(spark, root)

  /** Full recomputation over a whole corpus, for the output check. */
  def reference(docs: DataFrame): DataFrame =
    Dedup.connectedComponents(Dedup.ngramJaccardPairs(docs, "doc_id", "text", K, Threshold))
}

object AnnAdapter {
  val NProbe = 4
  val Rerank = 200
  val K = 10
  def qidOffset: Long = Similarity.ExternalQueryIdOffset

  def embeddings(spark: SparkSession, dir: String): DataFrame = Tables.embeddings(spark, dir)
  def centroids(emb: DataFrame, cells: Int): DataFrame = Similarity.ivfCentroids(emb, cells)
  def build(emb: DataFrame, centroids: DataFrame): DataFrame =
    Similarity.buildIvfPqIndexWith(emb, centroids, NProbe)

  /** The rows `appendToIvfPqIndex` adds for `newEmb` — appended to an empty
    * index, so only the delta is materialized and written.
    */
  def delta(index: DataFrame, centroids: DataFrame, newEmb: DataFrame): DataFrame =
    Similarity.appendToIvfPqIndex(index.limit(0), centroids, newEmb, NProbe)

  /** One routed external search; `queries` is (qid, qv double[]). */
  def search(index: DataFrame, centroids: DataFrame, queries: DataFrame): DataFrame = {
    val qcells = Similarity.assignProbesWith(
        queries.select(col("qid").as("vec_id"), col("qv").as("v")), centroids, NProbe)
      .select(col("vec_id").as("qid"), explode(col("cells")).as("cell"))
    Similarity.ivfPqSearchQueries(index, queries, qcells, K, Rerank)
  }

  /** Exact top-k for the recall figure; `queries` is (vec_id, embedding). */
  def exact(queries: DataFrame, corpus: DataFrame): DataFrame =
    Similarity.bruteForceTopK(queries, corpus, K)
}
