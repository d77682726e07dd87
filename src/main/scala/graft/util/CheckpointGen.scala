package graft.util

import org.apache.spark.SparkContext
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

  def pinnedIds(df: DataFrame): Set[Int] =
    persistedIn(df.sparkSession.sparkContext, Seq(df.rdd))

  private def persistedIn(sc: SparkContext,
      roots: Seq[org.apache.spark.rdd.RDD[_]]): Set[Int] = {
    val persisted = sc.getPersistentRDDs
    def walk(r: org.apache.spark.rdd.RDD[_], acc: Set[Int]): Set[Int] = {
      val a = if (persisted.contains(r.id)) acc + r.id else acc
      r.dependencies.foldLeft(a)((s, d) => walk(d.rdd, s))
    }
    roots.foldLeft(Set.empty[Int])((s, r) => walk(r, s))
  }

  /** Bytes the block managers hold for the pinned RDDs that `plan` reads,
    * found from its RDD leaves, so neither planning nor a job runs (a
    * frame's `rdd` would execute an adaptive plan's exchanges). An RDD
    * whose storage status lists only some of its partitions is scaled up
    * to all of them.
    */
  def pinnedBytes(plan: LogicalPlan): Long = {
    val rdds = plan.collect { case r: LogicalRDD => r.rdd }
    if (rdds.isEmpty) 0L
    else {
      val sc = rdds.head.sparkContext
      val ids = persistedIn(sc, rdds)
      sc.getRDDStorageInfo.filter(i => ids(i.id) && i.numCachedPartitions > 0)
        .map(i => (i.memSize + i.diskSize) * i.numPartitions /
          i.numCachedPartitions)
        .sum
    }
  }

  def release(sc: SparkContext, ids: Set[Int]): Unit = ids.foreach(id =>
    sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
}
