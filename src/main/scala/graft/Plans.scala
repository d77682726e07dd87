package graft
import org.apache.spark.sql.SparkSession

/** Plan dumper for the optimization rounds (guide §1.1/§7.2): writes
  * `.explain("formatted")` for the named queries to <outDir>/<qNN>_<tag>.txt
  * so plan-shape claims in OPTIMIZATION_r*.md are checkable offline.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> <tag> qNN [qNN ...]
  *
  * Mirrors Bench's session settings (same master/shuffle partitions) so the
  * dumped plan is the one the bench actually executes. Note: for the
  * streaming/maintenance demos the returned frame is the final read-back —
  * invoking the builder runs their epochs first, at bench depth
  * (`benchFn`), exactly like Bench does.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val wanted = args.drop(3).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val defs = SparkEntry.allDefs
    wanted.toSeq.sorted.foreach { short =>
      val d = defs.find(x => x.name == short || x.name.startsWith(short + "_"))
        .getOrElse(sys.error(s"no query named $short"))
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      val df = d.benchFn.getOrElse(d.fn)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir,
        s"${d.name.takeWhile(_ != '_')}_$tag.txt")
      java.nio.file.Files.write(p,
        (s"== ${d.name} @ $sfDir ==\n" + txt).getBytes("UTF-8"))
      System.err.println(s"wrote $p")
    }
    spark.stop()
  }
}
