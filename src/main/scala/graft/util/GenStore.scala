package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The generational on-disk store seam — ONE implementation of the layout
  * and crash semantics that the stores previously each carried a copy of
  * (r16 verdict #2): the vector index store
  * ([[graft.ext.Similarity.indexStoreView]]) and the CC maintenance store
  * ([[graft.streaming.Streams]]).
  *
  * Layout:
  *   `<baseDir>/<basePrefix><g>`   — base generations (_SUCCESS-gated)
  *   `<deltaDir>/<deltaPrefix><e>` — per-epoch delta dirs (_SUCCESS-gated,
  *                                   idempotent overwrites keyed by epoch)
  *
  * Crash semantics, once, for every store built on this seam:
  *   - Readers key on the LARGEST _SUCCESS-marked base below their bound;
  *     a torn base write (crash between dir creation and commit) is
  *     invisible — the reader falls back to the previous complete base,
  *     exactly what it read before the fold started.
  *   - Delta epochs are _SUCCESS-gated the same way: a crashed delta
  *     write leaves a partial epoch dir that no view serves; the
  *     restarted stream re-delivers that epoch and its idempotent
  *     overwrite re-marks it, at which point it re-enters the view
  *     complete.
  *   - A fold at epoch E may cover epochs <= E−1 ONLY (the fold-lag
  *     rule): under the in-order single-stream file-source contract every
  *     epoch < E is checkpoint-committed before E runs, so nothing at or
  *     below the fold point can ever re-deliver — a re-delivered E reads
  *     the folded base, which is content-identical to the pre-fold view
  *     it read on the first attempt. [[foldIfDue]] is the one
  *     implementation: every epoch-lagged store fold (the CC stores, the
  *     demos' sidecar stores) goes through it.
  *   - [[gc]] deletes exactly what left every retained read path:
  *     superseded bases, _SUCCESS-less base stubs (crash leftovers — no
  *     fold is in flight under the run-from-the-step contract), and
  *     deltas at or below the OLDEST retained base. `retainBases` > 1
  *     keeps that many complete bases so a standalone serving reader that
  *     resolved a view just before a fold+GC sweep still holds a stable
  *     snapshot (r16 verdict #4); `retainBases = 1` reproduces the
  *     original keep-only-current layout exactly.
  *
  * `schema` is the data schema the store's writers emit (partition columns
  * excluded). When given, every view scan uses it instead of inferring it:
  * an inferring `spark.read.parquet` launches a one-task footer job per
  * directory, two per view resolution (base and delta dir). Partition
  * columns (the delta epoch, a bucketed layout's `bucket`) are still
  * discovered from the directory names and pruned at the scan.
  *
  * Writes: a flat generation lands through [[writeBase]] / [[writeDelta]]
  * (idempotent overwrites), sized by its bytes —
  * `nFiles = max(1, ceil(B / spark.sql.files.maxPartitionBytes))`
  * ([[GenStore.fileCount]]), the bytes/target law of
  * [[graft.ext.Similarity.compactIndex]] applied at write time. A
  * delta-sized epoch write then lands as one file instead of one per
  * inherited partition, and every later view, probe and fold opens that
  * many fewer files. Bucket-partitioned layouts (`partitionBy` on a bucket
  * column) keep their own repartition.
  */
final case class GenStore(baseDir: String, deltaDir: String,
    basePrefix: String = "g=", deltaPrefix: String = "epoch=",
    schema: Option[StructType] = None) {

  /** The delta partition column name the parquet scan sees. */
  val deltaCol: String = deltaPrefix.stripSuffix("=")

  def basePath(g: Long): String = s"$baseDir/$basePrefix$g"
  def deltaPath(e: Long): String = s"$deltaDir/$deltaPrefix$e"

  private def listDirs(dir: String, prefix: String,
      requireSuccess: Boolean): Seq[Long] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Seq.empty
    else scala.util.Using.resource(java.nio.file.Files.list(p)) { w =>
      import scala.jdk.CollectionConverters._
      w.iterator().asScala
        .filter(d => !requireSuccess || java.nio.file.Files
          .exists(d.resolve("_SUCCESS")))
        .flatMap(_.getFileName.toString.stripPrefix(prefix).toLongOption)
        .toSeq
    }
  }

  private def reader(s: SparkSession) = schema.fold(s.read)(s.read.schema(_))

  /** A scan of `path` under the declared [[schema]], else inferred. */
  def read(s: SparkSession, path: String): DataFrame = reader(s).parquet(path)

  /** Write `df` as base generation `g` (overwrite; _SUCCESS-committed). */
  def writeBase(df: DataFrame, g: Long): Unit =
    GenStore.writeSized(df, basePath(g))

  /** Write `df` as the delta of epoch `e` (overwrite; _SUCCESS-committed). */
  def writeDelta(df: DataFrame, e: Long): Unit =
    GenStore.writeSized(df, deltaPath(e))

  def listBases(requireSuccess: Boolean): Seq[Long] =
    listDirs(baseDir, basePrefix, requireSuccess)
  def listDeltas(requireSuccess: Boolean): Seq[Long] =
    listDirs(deltaDir, deltaPrefix, requireSuccess)

  /** Largest COMPLETE (_SUCCESS-marked) base generation strictly below
    * `bound` (driver-side dir listing — generation counts are
    * fold-cadence-bounded, never corpus-sized). Fails loudly when the
    * store was never initialized.
    */
  def latestCompleteBase(bound: Long = Long.MaxValue): Long = {
    val gens = listBases(requireSuccess = true).filter(_ < bound)
    require(gens.nonEmpty, s"no complete base generation below $bound " +
      s"under $baseDir — write the initial base before reading the store")
    gens.max
  }

  /** Complete (_SUCCESS-marked) delta epochs in (lo, hi), sorted. */
  def completeDeltaEpochs(lo: Long, hi: Long = Long.MaxValue): Seq[Long] =
    listDeltas(requireSuccess = true).filter(e => e > lo && e < hi).sorted

  /** The store's contents visible to epoch `bound` for APPEND-ONLY
    * content: latest complete base ∪ complete delta epochs past its fold
    * point, delta scan partition-pruned to the live epoch set at the
    * source. Latest-wins content (per-id reconciliation) reads through
    * [[latestWinsView]] instead.
    */
  def unionView(s: SparkSession, bound: Long = Long.MaxValue): DataFrame = {
    val g = latestCompleteBase(bound)
    val base = read(s, basePath(g))
    val live = completeDeltaEpochs(g, bound)
    if (live.isEmpty) base
    else base.unionByName(read(s, deltaDir)
      .filter(col(deltaCol).isin(live: _*)).drop(deltaCol))
  }

  /** The store's contents visible to epoch `bound` for LATEST-WINS
    * content keyed by `idCol`: latest complete base ∪ live deltas
    * reconciled to each id's row from the LARGEST epoch that touched it
    * — provably the sequential apply-updates fold (each apply =
    * anti-join ∪ union; see [[graft.streaming.Streams.ccStoreLabelsView]],
    * whose merge this generalizes — one implementation, r18 review).
    *
    * The merge is ONE ANTI-JOIN, not a per-id ranking. Base ∪ live
    * deltas, each row tagged with its epoch (the base's is its
    * generation, below every live epoch), minus the rows for which a
    * live delta of a LARGER epoch holds the same id. That keeps:
    *   - the newest live delta whole;
    *   - each older delta's rows whose id no newer delta holds;
    *   - the base's rows whose id no live delta holds.
    * The delta root is scanned once, under the live-epoch partition
    * filter, and the live deltas' (id, epoch) rows are the one probe. A
    * store without a declared [[schema]] infers each scan's schema once
    * and resolving the view launches no job. When the probe broadcasts,
    * nothing shuffles and a read costs that broadcast plus its own
    * action, however many deltas are live.
    *
    * WRITERS' CONTRACT: each delta holds AT MOST ONE ROW PER `idCol`.
    * Under it the merge is exact; a delta with a duplicate id serves both
    * rows. The CC update set (changed ∪ fresh ∪ batch singles) and q264's
    * per-vertex coreness deltas meet it.
    *
    * `hintProbe` decorates the probe before it is anti-joined (e.g. a
    * count-guarded broadcast); default no hint.
    */
  def latestWinsView(s: SparkSession, bound: Long, idCol: String,
      hintProbe: DataFrame => DataFrame = identity): DataFrame = {
    val g = latestCompleteBase(bound)
    val live = completeDeltaEpochs(g, bound)
    if (live.isEmpty) read(s, basePath(g))
    else {
      val deltas = read(s, deltaDir).filter(col(deltaCol).isin(live: _*))
      val newer = hintProbe(deltas.select(col(idCol).as("newer_id"),
        col(deltaCol).as("newer_epoch")))
      // The optimizer pushes the anti-join into both sides of the union.
      // The base's epoch is its generation as a partition column (the
      // basePath option), not a literal: against a literal the base side's
      // condition would become a filter on the probe, and the two sides
      // would probe different plans, each with its own broadcast.
      reader(s).option("basePath", baseDir).parquet(basePath(g))
        .withColumnRenamed(basePrefix.stripSuffix("="), deltaCol)
        .unionByName(deltas)
        .join(newer, col(idCol) === col("newer_id") &&
          col("newer_epoch") > col(deltaCol), "left_anti")
        .drop(deltaCol)
    }
  }

  /** The fold-lag rule, once: at epoch `epoch` the fold point is
    * `epoch − 1`. The fold is skipped when the latest COMPLETE base
    * already reached it (the re-delivered-epoch guard: a torn base
    * without `_SUCCESS` does not count, so its fold re-runs and
    * overwrites it); otherwise `due` sees the complete delta epochs in
    * (g, epoch), sorted, and when it holds `write` lands the view at
    * bound `epoch` as base generation `epoch − 1`. Returns whether it
    * folded. Driver-side dir listings only; launches no job itself.
    */
  def foldIfDue(epoch: Long)(due: Seq[Long] => Boolean)(
      write: Long => Unit): Boolean = {
    val foldPoint = epoch - 1
    val g = latestCompleteBase()
    val folds = g < foldPoint && due(completeDeltaEpochs(g, epoch))
    if (folds) write(foldPoint)
    folds
  }

  /** Rows in the live deltas of the view at `bound` — the sum of their
    * `_rows` sidecars ([[deltaRows]]; driver-side file reads, no job
    * while every sidecar is present).
    */
  def liveDeltaRows(s: SparkSession, bound: Long): Long =
    completeDeltaEpochs(latestCompleteBase(bound), bound)
      .map(deltaRows(s, _)).sum

  /** Data-file count of the CURRENT view (not the whole root — folded
    * deltas and superseded bases are out of the read path and must not
    * retrigger compaction). Driver-side walk; generation counts are
    * policy-bounded.
    */
  def viewFileCount: Long = {
    val g = latestCompleteBase()
    def files(dir: String): Long = {
      val p = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(p)) 0L
      else scala.util.Using.resource(java.nio.file.Files.walk(p)) { w =>
        w.filter(_.getFileName.toString.endsWith(".parquet")).count()
      }
    }
    files(basePath(g)) +
      completeDeltaEpochs(g).map(e => files(deltaPath(e))).sum
  }

  // ---- delta row-count sidecars ----
  // A `_rows` file inside a delta dir (underscore-prefixed — invisible to
  // the parquet reader, like _SUCCESS) records the delta's row count so
  // view/fold policies can reason about VOLUME without a Spark job: an
  // epoch-count bound says nothing about a merge-storm epoch whose single
  // delta is component-sized (r16 verdict #1). Written AFTER the parquet
  // commit; a crash in between leaves a complete delta without a sidecar,
  // which [[deltaRows]] heals by counting once (footer-cheap).

  def writeDeltaRowsSidecar(e: Long, rows: Long): Unit = {
    java.nio.file.Files.write(
      java.nio.file.Paths.get(deltaPath(e), "_rows"),
      rows.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Row count of delta epoch `e`: the sidecar when present, else one
    * metadata-cheap count (pre-sidecar layouts, torn sidecar writes).
    */
  def deltaRows(s: SparkSession, e: Long): Long = {
    val p = java.nio.file.Paths.get(deltaPath(e), "_rows")
    val fromSidecar =
      if (!java.nio.file.Files.exists(p)) None
      else new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLongOption
    fromSidecar.getOrElse(read(s, deltaPath(e)).count())
  }

  // ---- GC ----

  /** Delete what left every RETAINED read path: bases older than the
    * newest `retainBases` complete ones, _SUCCESS-less base stubs, and
    * deltas at or below the oldest retained base (a reader holding base b
    * needs only deltas > b). Returns directories removed.
    */
  def gc(retainBases: Int = 1): Int = {
    require(retainBases >= 1, s"retainBases must be >= 1 (got $retainBases)")
    val complete = listBases(requireSuccess = true)
    require(complete.nonEmpty, s"no complete base under $baseDir — " +
      "nothing to retain; initialize the store before GC")
    val oldestKept = complete.sorted.takeRight(retainBases).min
    val completeSet = complete.toSet
    var removed = 0
    listBases(requireSuccess = false)
      .filter(e => e < oldestKept || !completeSet(e)).foreach { e =>
        Dirs.rmTree(basePath(e)); removed += 1
      }
    listDeltas(requireSuccess = false).filter(_ <= oldestKept).foreach { e =>
      Dirs.rmTree(deltaPath(e)); removed += 1
    }
    removed
  }
}

object GenStore {

  /** Data files for a write of `df`: `max(1, ceil(B / maxPartitionBytes))`,
    * where B sizes the bytes written. When every leaf of the optimized
    * plan is a pinned RDD (a local or a reliable checkpoint,
    * [[Pin.pinned]]) and only row-preserving or shrinking
    * operators sit above them (projections, filters, aggregates, unions:
    * no join and no generator), B is the bytes those pins store. There
    * the plan's estimate is off either way: Catalyst sizes an `explode`
    * as its child (a pinned posting frame's estimate is a fraction of its
    * real size) and a join as the product of its children (a pinned join
    * output keeps an estimate far above its stored bytes). Otherwise B is
    * the larger of the plan's `sizeInBytes` and the pinned bytes: a join
    * or explode over pinned inputs can outgrow them many times over, so
    * their bytes do not size it alone. Pin such an output before writing
    * it to size it by what it stores. Driver-side, no Spark job.
    */
  def fileCount(df: DataFrame): Int = {
    val target = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val plan = df.queryExecution.optimizedPlan
    val pinned = Pin.pinned(plan)
    val grows = plan.find {
      case _: Join | _: Generate => true
      case _ => false
    }.isDefined
    val bytes =
      if (pinned.every && pinned.bytes > 0 && !grows) BigInt(pinned.bytes)
      else plan.stats.sizeInBytes.max(pinned.bytes)
    ((bytes + target - 1) / target).max(1).min(Int.MaxValue).toInt
  }

  /** Overwrite `path` with `df` in [[fileCount]] files. `coalesce` adds no
    * shuffle and never raises the partition count: a large frame keeps its
    * layout, a delta-sized one lands as one file.
    */
  private[graft] def writeSized(df: DataFrame, path: String): Unit =
    df.coalesce(fileCount(df)).write.mode("overwrite").parquet(path)
}
