package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * Mirrors the reference's only ingest surface — a push-based reading stream
  * (`/root/reference/plugin.cpp:226-352`) — re-expressed as Spark scans. Batch
  * loaders here; streaming variants in [[graft.streaming.Streams]].
  *
  * Scale notes: these are plain parquet scans, so Catalyst predicate pushdown
  * and column pruning apply to every downstream query; at cluster scale the
  * same loaders work unchanged because nothing here collects or repartitions.
  */
object Tables {
  private def path(dir: String, name: String) = s"$dir/$name.parquet"

  def region(s: SparkSession, dir: String): DataFrame   = s.read.parquet(path(dir, "region"))
  def nation(s: SparkSession, dir: String): DataFrame   = s.read.parquet(path(dir, "nation"))
  def customer(s: SparkSession, dir: String): DataFrame = s.read.parquet(path(dir, "customer"))
  def supplier(s: SparkSession, dir: String): DataFrame = s.read.parquet(path(dir, "supplier"))
  def part(s: SparkSession, dir: String): DataFrame     = s.read.parquet(path(dir, "part"))
  def orders(s: SparkSession, dir: String): DataFrame   = s.read.parquet(path(dir, "orders"))
  def lineitem(s: SparkSession, dir: String): DataFrame = s.read.parquet(path(dir, "lineitem"))
  def documents(s: SparkSession, dir: String): DataFrame  = s.read.parquet(path(dir, "documents"))
  def embeddings(s: SparkSession, dir: String): DataFrame = s.read.parquet(path(dir, "embeddings"))

  /** `events.ts` has shipped as both parquet TIMESTAMP(MICROS) (current
    * fixtures) and TIMESTAMP(NANOS) (older generations, which Spark's
    * vectorized reader rejects with [PARQUET_TYPE_ILLEGAL] unless read as
    * long). Adapt to whichever the file carries: nanos are read as long and
    * truncated to microseconds — exactly what DuckDB does when it casts
    * ns → its native us timestamps, so oracle comparisons stay bit-identical;
    * native us timestamps pass through untouched. The legacy
    * `nanosAsLong` flag the nanos scan needs is set on the session only
    * when the file's footer declares `ts` TIMESTAMP(NANOS); a micros file
    * leaves the session conf as it was.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    if (tsIsNanos(s, path(dir, "events")))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = s.read.parquet(path(dir, "events"))
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Parquet us-timestamps without tz metadata scan as TIMESTAMP_NTZ;
        // downstream operators (unix_micros, time windows, watermarks) were
        // written against TIMESTAMP. Sessions here pin
        // spark.sql.session.timeZone=UTC, so this cast reinterprets the
        // naive micros as the same UTC instant the old nanos shim produced —
        // bit-identical to DuckDB's naive reading of the same file.
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Whether the `ts` column of the parquet data at `p` (a file or a
    * directory of part files) is TIMESTAMP(NANOS), read from the first data
    * file's footer: schema inference rejects such a file unless the legacy
    * flag is already set.
    */
  private def tsIsNanos(s: SparkSession, p: String): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit,
      TimestampLogicalTypeAnnotation}
    val conf = s.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(p)
    val files = root.getFileSystem(conf).listFiles(root, true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .find(f => !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .exists { f =>
        val schema = scala.util.Using.resource(
          ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf)))(
          _.getFooter.getFileMetaData.getSchema)
        Option.when(schema.containsField("ts"))(schema
            .getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation)
          .exists {
            case t: TimestampLogicalTypeAnnotation =>
              t.getUnit == TimeUnit.NANOS
            case _ => false
          }
      }
  }
}
