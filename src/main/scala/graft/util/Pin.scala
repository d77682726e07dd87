package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.storage.StorageLevel

/** THE one owner of eager pins: making one, sizing one and releasing one
  * (r20 verdict #4 / r21 item #8). Every operator and query that
  * materializes an intermediate and truncates its lineage pins through
  * here, at about 160 sites (`.pin()` or a scope's `pins(...)`);
  * Round21Spec fails if `src/main` checkpoints anywhere else, so the
  * storage choice below is the only one.
  *
  * '''Make.''' `.pin()` picks the storage from the frame's own session
  * conf, read per call, so a cluster flips it once at session build (or
  * per job), never per site:
  *
  *   - default: `localCheckpoint(eager = true)`: NON-REPLICATED
  *     executor-local blocks. Cheap and correct on `local[n]` and for
  *     demo-scale state, but at cluster scale a corpus-sized pin (q109's
  *     tf table, q117's bigram stream) dies with a lost executor and the
  *     lineage it truncated cannot recompute;
  *   - `spark.graft.checkpoint.mode = reliable`: `checkpoint(eager = true)`
  *     against `SparkContext.setCheckpointDir`: files on persistent storage
  *     that survive executor loss, the cluster-scale choice. Round21Spec
  *     pins mode-flipped results equal to the default's.
  *
  * '''Release.''' A local pin is a persisted RDD and is unpersisted; a
  * reliable pin is a checkpointed RDD and its `getCheckpointFile` dir is
  * deleted (nothing else deletes it: the session does not set
  * `spark.cleaner.referenceTracking.cleanCheckpoints`). The pins a frame
  * holds are found from its OWN RDD lineage (the RDD leaves of its plan),
  * never by diffing `getPersistentRDDs`: that registry is
  * SparkContext-GLOBAL (child sessions share the context), so a diff could
  * capture blocks a concurrent query or streaming trigger pinned in the
  * window, and it never lists a reliable pin at all. A pin's truncated
  * lineage also stops the walk at the pin, before any caller-pinned
  * upstream.
  *
  * Release a pin only once NO lazy plan still reads it (measured hazard:
  * q131 broke mid-broadcast when initial ranks still read released
  * pairs): derive every consumer from the pinned successor first.
  *
  * '''Scope.''' [[scope]] owns the pins of one operator call or one
  * maintenance step, so no site pairs a pin with its release by hand:
  *
  *   - `pins(df)` pins `df` and records the pin;
  *   - `pins.adopt(df)` records the pins of a frame a callee pinned and
  *     returned (the callee hands its release over with it);
  *   - `pins.release(df)` frees early the recorded pins `df` reads: an
  *     iterative loop's generation swap keeps its resident footprint at
  *     O(one generation) instead of growing linearly in rounds;
  *   - on every exit, a throw included, the scope releases what it still
  *     records, except the pins that the frames it returns (found in its
  *     result, inside tuples and case classes too) read through their
  *     lineage.
  *
  * A scope never releases a pin it did not record: a caller's upstream
  * stays the caller's. Recording is thread-safe, so `Par.run` branches pin
  * into one scope. Recording and releasing launch no Spark job.
  */
object Pin {
  val ModeConf = "spark.graft.checkpoint.mode"

  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    /** Eagerly materialize and lineage-truncate this frame through the
      * storage mode the session selects (see [[Pin]]).
      */
    def pin(): DataFrame =
      if (df.sparkSession.conf.getOption(Pin.ModeConf).contains("reliable"))
        df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
  }

  /** The pins of one [[scope]]. */
  final class Scope private[Pin] {
    private val held = scala.collection.mutable.LinkedHashMap.empty[Int, RDD[_]]

    /** Pin `df` and record the pin. */
    def apply(df: DataFrame): DataFrame = adopt(df.pin())

    /** Record the pins `df` reads: a pinned frame a callee returned. */
    def adopt(df: DataFrame): DataFrame = {
      val ps = pinsOf(df)
      synchronized(ps.foreach(p => held(p.id) = p))
      df
    }

    /** Free now the recorded pins `df` reads. */
    def release(df: DataFrame): Unit = {
      val ps = pinsOf(df)
      synchronized(ps.filter(p => held.remove(p.id).isDefined))
        .foreach(free)
    }

    private[Pin] def close(keep: Set[Int]): Unit =
      synchronized {
        val out = held.values.filterNot(p => keep(p.id)).toList
        held.clear()
        out
      }.foreach(free)
  }

  /** Run `body` with a fresh [[Scope]]; see [[Pin]] for the contract. */
  def scope[A](body: Scope => A): A = {
    val pins = new Scope
    val out =
      try body(pins)
      catch { case e: Throwable => pins.close(Set.empty); throw e }
    pins.close(framesIn(out).flatMap(pinsOf).map(_.id).toSet)
    out
  }

  /** Free every pin `df` reads, recorded by a scope or not: for a frame
    * whose holder is done with it (a query's result, in a spec).
    */
  def release(df: DataFrame): Unit = pinsOf(df).foreach(free)

  private def framesIn(x: Any): Seq[Dataset[_]] = x match {
    case d: Dataset[_] => Seq(d)
    case p: Product => p.productIterator.flatMap(framesIn).toSeq
    case _ => Nil
  }

  private def pinsOf(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case r: LogicalRDD => r.rdd
      case r: ExternalRDD[_] => r.rdd
    }.flatMap(pinsIn).distinctBy(_.id)

  /** The pins in `r`'s lineage: persisted RDDs and reliable checkpoints. */
  private def pinsIn(r: RDD[_]): Seq[RDD[_]] = {
    val persisted = r.sparkContext.getPersistentRDDs
    lineage(r).filter(p =>
      persisted.contains(p.id) || p.getCheckpointFile.isDefined)
  }

  private def lineage(r: RDD[_]): Seq[RDD[_]] =
    r +: r.dependencies.flatMap(d => lineage(d.rdd))

  private def free(p: RDD[_]): Unit = {
    if (p.getStorageLevel != StorageLevel.NONE) p.unpersist(blocking = false)
    p.getCheckpointFile.foreach { f =>
      val path = new Path(f)
      path.getFileSystem(p.sparkContext.hadoopConfiguration).delete(path, true)
    }
  }

  /** What the pins that `plan` reads store: their `bytes`, and whether
    * `every` leaf of `plan` is a `LogicalRDD` whose lineage holds one. A
    * local pin (or a cache) is sized by the bytes the block managers hold
    * for it, scaled up to all its partitions when its storage status lists
    * only some; a reliable pin by the lengths of its files. Found from the
    * plan's RDD leaves and a listing of the checkpoint files, so neither
    * planning nor a job runs (a frame's `rdd` would execute an adaptive
    * plan's exchanges).
    */
  final case class Pinned(bytes: Long, every: Boolean)

  def pinned(plan: LogicalPlan): Pinned = {
    val leaves = plan.collectLeaves().map {
      case r: LogicalRDD => pinsIn(r.rdd)
      case _ => Nil
    }
    val pins = leaves.flatten.distinctBy(_.id)
    pins.headOption.fold(Pinned(0L, every = false)) { head =>
      val sc = head.sparkContext
      val ids = pins.map(_.id).toSet
      val cached = sc.getRDDStorageInfo
        .filter(i => ids(i.id) && i.numCachedPartitions > 0)
        .map(i => (i.memSize + i.diskSize) * i.numPartitions /
          i.numCachedPartitions)
        .sum
      val written = pins.flatMap(_.getCheckpointFile).distinct.map { dir =>
        val p = new Path(dir)
        p.getFileSystem(sc.hadoopConfiguration).getContentSummary(p).getLength
      }.sum
      Pinned(cached + written, leaves.forall(_.nonEmpty))
    }
  }
}
