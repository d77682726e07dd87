package graft.model

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** One datapoint value — the faithful encoding of the reference's dynamic
  * value union (int | float | string crossing the C++→Python bridge,
  * `/root/reference/python35_filter.cpp:56-70`). Spark maps are homogeneous,
  * so the union becomes a 3-field variant struct with exactly one field set.
  */
case class DatapointValue(longV: Option[Long], doubleV: Option[Double], stringV: Option[String]) {
  def asDouble: Option[Double] = doubleV.orElse(longV.map(_.toDouble))
}

object DatapointValue {
  def ofLong(v: Long): DatapointValue     = DatapointValue(Some(v), None, None)
  def ofDouble(v: Double): DatapointValue = DatapointValue(None, Some(v), None)
  def ofString(v: String): DatapointValue = DatapointValue(None, None, Some(v))
}

/** The reference's row abstraction: a Reading with the five keys the plugin
  * marshals per element (`/root/reference/python35_filter.cpp:45-114`):
  * asset_code, reading (dynamic key→value map), id, ts, user_ts.
  *
  * Timestamps are kept at full precision (the reference truncates to whole
  * seconds, `python35_filter.cpp:98-103` — a defect, not a semantic).
  */
case class Reading(
    assetCode: String,
    id: Long,
    ts: java.sql.Timestamp,
    userTs: java.sql.Timestamp,
    reading: Map[String, DatapointValue])

object Reading {

  /** Derived once: `spark.implicits._` would derive it again on every call. */
  private val encoder: Encoder[Reading] = Encoders.product[Reading]

  /** Map the `events` table into the Reading model: `event_type`/`user_id`
    * form the series key, `value` and `props` the datapoints (FIXTURES.md §B
    * declares this correspondence). Demonstrates dynamic-map encoding over a
    * columnar source without losing Catalyst pruning on the way in.
    */
  def fromEvents(events: DataFrame): Dataset[Reading] =
    events.select(
      col("event_type").as("assetCode"),
      col("event_id").as("id"),
      col("ts"),
      col("ts").as("userTs"),
      map(
        lit("value"), struct(lit(null).cast("long").as("longV"),
                             col("value").as("doubleV"),
                             lit(null).cast("string").as("stringV")),
        lit("user_id"), struct(col("user_id").as("longV"),
                               lit(null).cast("double").as("doubleV"),
                               lit(null).cast("string").as("stringV"))
      ).as("reading")
    ).as[Reading](encoder)

  /** Promote selected datapoints of the dynamic map to typed top-level
    * columns — the performance path (SURVEY.md §1.3): promoted columns are
    * transparent to Catalyst (pruning/pushdown), the map blob is not.
    * One `withColumns` projection: a key that is already a column is
    * replaced in place, new keys are appended in `numericKeys` order.
    */
  def promote(readings: DataFrame, numericKeys: Seq[String]): DataFrame =
    readings.withColumns(ListMap(numericKeys.map { k =>
      k -> coalesce(col(s"reading.$k.doubleV"),
                    col(s"reading.$k.longV").cast("double"))
    }: _*))

  /** Inverse of promote: fold typed numeric columns back into a variant map
    * (used to round-trip between the faithful and the fast representation).
    */
  def demote(df: DataFrame, numericCols: Seq[String]): DataFrame = {
    val entries = numericCols.flatMap { c =>
      Seq(lit(c), struct(lit(null).cast("long").as("longV"),
                         col(c).cast("double").as("doubleV"),
                         lit(null).cast("string").as("stringV")))
    }
    df.withColumn("reading", map(entries: _*)).drop(numericCols: _*)
  }
}
