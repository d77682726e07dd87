package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Operator-level plan dumps for the r21 plan claims. Many registry
  * builders end in an eager pin (r20 ADVICE #3), so `Plans` dumps of
  * those queries show only the `Scan ExistingRDD` of the pinned result —
  * this probe dumps the LAZY operator frames the claims are about:
  *
  *   - `<q>_build`: the IVF-PQ index build (flat q216-knobs and
  *     two-level autoscale knobs) — the pq-fusion claim: no
  *     Exchange/SortMergeJoin joining a separate productQuantize pass;
  *     `pq_encode(v)` is a projection above the assignment aggregate.
  *
  * Usage: runMain graft.PlanProbes <sfDir> <outDir> <tag>
  */
object PlanProbes {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${name}_$tag.txt")
      java.nio.file.Files.write(p, (s"== $name @ $sfDir ==\n" + txt)
        .getBytes("UTF-8"))
      System.err.println(s"wrote $p")
    }
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val cells = math.max(8L, n / 100L).toInt
    val nCoarse = math.max(4, math.ceil(math.sqrt(cells.toDouble)).toInt)
    import graft.ext.Similarity.{buildIvfPqIndexWith, ivfCentroids, TwoLevel}
    dump("q216_index_build",
      buildIvfPqIndexWith(emb, ivfCentroids(emb, 32), 24))
    dump("q227_twolevel_index_build",
      buildIvfPqIndexWith(emb, TwoLevel.firstN(emb, cells, nCoarse, 2), 4))
    spark.stop()
  }
}
