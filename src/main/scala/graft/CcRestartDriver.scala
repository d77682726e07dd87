package graft

import org.apache.spark.sql.SparkSession

/** Separate-PROCESS restart leg for the CC maintenance loop (r15 verdict
  * #3): q252/q260/q261 prove restart-resume within one JVM on a fresh
  * session (q259 proves it for the vector store on the same session);
  * this main closes the last gap — a restart whose driver shares
  * NOTHING with the killed run but the disk. Round16Spec stages the
  * state and kills the first leg in-process, then spawns this as
  * `java -cp <spark jars + classes>`
  * with its own SparkSession; the stream resumes from the checkpoint,
  * re-delivers the killed epoch, and the step recomputes from persisted
  * generations only. Exit 0 = drained; the spec then compares the final
  * labels against the uninterrupted run's.
  *
  * args: stateAndIngestRoot (the dir holding in/, ckpt/, state/),
  *       nBuckets, maxLabelDeltas, maxPostingGens
  */
object CcRestartDriver {
  def main(args: Array[String]): Unit = {
    val Array(root, nBuckets, maxLabelDeltas, maxPostingGens) = args
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val schema = spark.read.parquet(s"$root/in/e0.parquet").schema
    val step: (org.apache.spark.sql.DataFrame, Long) => Unit =
      graft.streaming.Streams.ccStoreStep(s"$root/state", 3, 0.5,
        nBuckets.toInt, maxLabelDeltas.toInt, maxPostingGens.toInt)
    val q = graft.streaming.Streams.start(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in/*"))(
      _.option("checkpointLocation", s"$root/ckpt").foreachBatch(step))
    try q.processAllAvailable() finally q.stop()
    spark.stop()
  }
}
