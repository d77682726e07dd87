package graft

import org.apache.spark.sql.functions._
import graft.model.{DatapointValue, Reading}
import graft.ops.CoreOps

class ReadingModelSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000)

  private val sample = Seq(
    Reading("lab1", 1, ts(100), ts(100), Map(
      "power" -> DatapointValue.ofDouble(5.0),
      "count" -> DatapointValue.ofLong(10),
      "state" -> DatapointValue.ofString("on"))),
    Reading("lab2", 2, ts(101), ts(101), Map.empty))

  test("variant map: mixed int/float/string datapoints round-trip (python35_filter.cpp:56-70)") {
    val ds = spark.createDataset(sample)
    val back = ds.collect().toSeq
    assert(back == sample)
  }

  test("scaleOffsetMap applies affine to numeric datapoints, strings untouched") {
    val out = spark.createDataset(sample).toDF()
      .transform(CoreOps.scaleOffsetMap(5, 10))
      .as[Reading].collect().find(_.id == 1).get
    assert(out.reading("power") == DatapointValue.ofDouble(35.0))
    assert(out.reading("count") == DatapointValue.ofLong(60))
    assert(out.reading("state") == DatapointValue.ofString("on"))
  }

  test("map datapoint surgery: add overwrites an existing key, drop/rename compose") {
    val out = spark.createDataset(Seq(sample.head)).toDF()
      // "add a key that already exists" must OVERWRITE like the reference's
      // dict assignment, not throw Duplicate map key
      .transform(CoreOps.addDatapointMap("power",
        struct(lit(null).cast("long").as("longV"), lit(7.5).as("doubleV"),
          lit(null).cast("string").as("stringV"))))
      .transform(CoreOps.renameDatapointMap("count", "n"))
      .transform(CoreOps.dropDatapointMap("state"))
      .as[Reading].collect().head
    assert(out.reading("power") == DatapointValue.ofDouble(7.5))
    assert(out.reading("n") == DatapointValue.ofLong(10))
    assert(!out.reading.contains("state") && !out.reading.contains("count"))

    // rename onto an EXISTING key overwrites it (dict d[to] = d.pop(from))
    val clobbered = spark.createDataset(Seq(sample.head)).toDF()
      .transform(CoreOps.renameDatapointMap("count", "state"))
      .as[Reading].collect().head
    assert(clobbered.reading("state") == DatapointValue.ofLong(10))
    assert(!clobbered.reading.contains("count"))
    assert(clobbered.reading.size == 2)

    // self-rename is a no-op (d[to] = d.pop(from) with to == from), NOT a
    // delete — regression for the map_filter dropping k == to
    val self = spark.createDataset(Seq(sample.head)).toDF()
      .transform(CoreOps.renameDatapointMap("count", "count"))
      .as[Reading].collect().head
    assert(self.reading == sample.head.reading)
  }

  test("empty reading map drops the row (python35_filter.cpp:206,250-254)") {
    val out = spark.createDataset(sample).toDF()
      .transform(CoreOps.dropEmptyReadings).as[Reading].collect()
    assert(out.map(_.id).toSeq == Seq(1))
  }

  test("promote exposes numeric datapoints as typed columns; demote round-trips") {
    val promoted = Reading.promote(spark.createDataset(Seq(sample.head)).toDF(), Seq("power", "count"))
    val row = promoted.select("power", "count").head()
    assert(row.getDouble(0) == 5.0 && row.getDouble(1) == 10.0)
    val demoted = Reading.demote(promoted.drop("reading"), Seq("power", "count"))
    val m = demoted.select("reading").as[Map[String, DatapointValue]].head()
    assert(m("power").asDouble.contains(5.0) && m("count").asDouble.contains(10.0))
  }

  test("promote over several keys equals one withColumn per key: a key " +
      "that is already a column is replaced in place, columns and order kept") {
    val df = spark.createDataset(sample).toDF().withColumn("count", lit(-1.0))
    val keys = Seq("power", "count", "absent")
    val fold = keys.foldLeft(df) { (d, k) =>
      d.withColumn(k, coalesce(col(s"reading.$k.doubleV"),
        col(s"reading.$k.longV").cast("double")))
    }
    val got = Reading.promote(df, keys)
    assert(got.columns.toSeq == fold.columns.toSeq)
    assert(got.columns.toSeq == df.columns.toSeq ++ Seq("power", "absent"))
    assert(got.schema == fold.schema)
    assert(got.collect().toSeq.sortBy(_.getAs[Long]("id")) ==
      fold.collect().toSeq.sortBy(_.getAs[Long]("id")))
  }

  test("fromEvents maps the events table into the Reading model") {
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val rs = Reading.fromEvents(ev)
    val n = ev.count()
    assert(rs.count() == n)
    val r = rs.head()
    assert(r.reading.contains("value") && r.reading.contains("user_id"))
  }
}
