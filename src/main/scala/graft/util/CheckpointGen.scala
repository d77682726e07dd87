package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** Generation discipline for iterative localCheckpoint loops
  * (connectedComponents, pageRank, bpeTrain): every pinned block set is
  * released as soon as its successor materializes, so a loop's resident
  * footprint stays O(one generation) instead of growing linearly in
  * rounds.
  *
  * Pinned ids are derived from the checkpointed frame's OWN (truncated)
  * rdd lineage — the persistent ancestors of its plan — never by diffing
  * `getPersistentRDDs`: that registry is SparkContext-GLOBAL (child
  * sessions share the context), so a before/after diff could capture
  * blocks a concurrent query or streaming trigger pinned during the
  * window and wrongly release them. Lineage truncation also keeps the
  * walk from reaching caller-pinned upstreams — only the frame's own
  * checkpoint generation is collected.
  *
  * Releasing a generation is only safe once NO lazy plan still references
  * it (measured hazard: q131 broke mid-broadcast when initial ranks still
  * read released pairs) — derive every consumer from the checkpointed
  * successor before releasing its input.
  */
object CheckpointGen {

  def pinnedIds(df: DataFrame): Set[Int] = {
    val persisted = df.sparkSession.sparkContext.getPersistentRDDs
    lineage(df.rdd).map(_.id).filter(persisted.contains).toSet
  }

  private def lineage(r: RDD[_]): Seq[RDD[_]] =
    r +: r.dependencies.flatMap(d => lineage(d.rdd))

  /** What the pinned RDDs that `plan` reads store: their `bytes`, and
    * whether `every` leaf of `plan` is a `LogicalRDD` whose lineage holds
    * one. A pinned RDD is either persisted (a local checkpoint or a
    * cache), sized by the bytes the block managers hold for it and scaled
    * up to all its partitions when its storage status lists only some, or
    * a reliable checkpoint, sized by the lengths of its files. Found from
    * the plan's RDD leaves and a listing of the checkpoint files, so
    * neither planning nor a job runs (a frame's `rdd` would execute an
    * adaptive plan's exchanges).
    */
  final case class Pinned(bytes: Long, every: Boolean)

  def pinned(plan: LogicalPlan): Pinned = {
    val rdds = plan.collectLeaves().map {
      case r: LogicalRDD => Some(r.rdd)
      case _ => None
    }
    rdds.flatten.headOption.fold(Pinned(0L, every = false)) { head =>
      val sc = head.sparkContext
      val persisted = sc.getPersistentRDDs
      // per leaf: persisted RDD ids and reliable checkpoint dirs
      val leaves = rdds.map(_.fold((Set.empty[Int], Set.empty[String])) { r =>
        val l = lineage(r)
        (l.map(_.id).filter(persisted.contains).toSet,
          l.flatMap(_.getCheckpointFile).toSet)
      })
      val ids = leaves.flatMap(_._1).toSet
      val cached = sc.getRDDStorageInfo
        .filter(i => ids(i.id) && i.numCachedPartitions > 0)
        .map(i => (i.memSize + i.diskSize) * i.numPartitions /
          i.numCachedPartitions)
        .sum
      val written = leaves.flatMap(_._2).distinct.map { dir =>
        val p = new Path(dir)
        p.getFileSystem(sc.hadoopConfiguration).getContentSummary(p).getLength
      }.sum
      Pinned(cached + written,
        leaves.forall { case (i, files) => i.nonEmpty || files.nonEmpty })
    }
  }

  def release(sc: SparkContext, ids: Set[Int]): Unit = ids.foreach(id =>
    sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
}
