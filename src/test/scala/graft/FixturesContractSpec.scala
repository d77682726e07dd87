package graft

import org.apache.spark.sql.types._

/** Contract test for the driver-generated parquet corpus (TESTDATA.md).
  *
  * Round 7 post-mortem: the driver regenerated `/root/testdata` with
  * `events.ts` switched from TIMESTAMP(NANOS) to TIMESTAMP(MICROS), and the
  * stale reader shim broke 85 queries and 104 tests — every failure the same
  * opaque `DATATYPE_MISMATCH` three layers downstream of the actual drift.
  * This spec pins the on-disk schema of all ten tables so the NEXT fixture
  * regeneration fails exactly one test whose message names the drifted
  * column, instead of a hundred mysterious ones.
  *
  * `events.ts` is asserted as EITHER long (nanos, legacy fixtures under
  * `nanosAsLong`) or a timestamp type — both are handled by the adaptive
  * reader in [[graft.sources.Tables.events]]; anything else is drift.
  */
class FixturesContractSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {
  private val dir = "/root/testdata/sf0.001"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  /** The session's value before this suite touched it. */
  private var nanosBefore: Option[String] = None

  override def beforeAll(): Unit = {
    super.beforeAll()
    nanosBefore = spark.conf.getOption(NanosAsLong)
  }

  /** `f` with nanosAsLong on (the loaders' setting), the session's value
    * restored after — later suites must not inherit it.
    */
  private def withNanosAsLong[T](f: => T): T = {
    val prior = spark.conf.getOption(NanosAsLong)
    spark.conf.set(NanosAsLong, "true")
    try f
    finally prior.fold(spark.conf.unset(NanosAsLong))(
      spark.conf.set(NanosAsLong, _))
  }

  /** name -> expected (column, acceptable types) in on-disk order */
  private val contract: Seq[(String, Seq[(String, Set[DataType])])] = {
    def one(t: DataType) = Set(t)
    val ts: Set[DataType] = Set(TimestampType, TimestampNTZType, LongType)
    Seq(
      "region" -> Seq("r_regionkey" -> one(IntegerType), "r_name" -> one(StringType)),
      "nation" -> Seq("n_nationkey" -> one(IntegerType), "n_name" -> one(StringType),
        "n_regionkey" -> one(IntegerType)),
      "customer" -> Seq("c_custkey" -> one(LongType), "c_name" -> one(StringType),
        "c_nationkey" -> one(IntegerType), "c_acctbal" -> one(DoubleType),
        "c_mktsegment" -> one(StringType)),
      "supplier" -> Seq("s_suppkey" -> one(LongType), "s_name" -> one(StringType),
        "s_nationkey" -> one(IntegerType), "s_acctbal" -> one(DoubleType)),
      "part" -> Seq("p_partkey" -> one(LongType), "p_name" -> one(StringType),
        "p_brand" -> one(StringType), "p_type" -> one(StringType),
        "p_size" -> one(IntegerType), "p_retailprice" -> one(DoubleType)),
      "orders" -> Seq("o_orderkey" -> one(LongType), "o_custkey" -> one(LongType),
        "o_orderstatus" -> one(StringType), "o_totalprice" -> one(DoubleType),
        "o_orderdate" -> ts, "o_orderpriority" -> one(StringType)),
      "lineitem" -> Seq("l_orderkey" -> one(LongType), "l_partkey" -> one(LongType),
        "l_suppkey" -> one(LongType), "l_linenumber" -> one(IntegerType),
        "l_quantity" -> one(DoubleType), "l_extendedprice" -> one(DoubleType),
        "l_discount" -> one(DoubleType), "l_tax" -> one(DoubleType),
        "l_returnflag" -> one(StringType), "l_linestatus" -> one(StringType),
        "l_shipdate" -> ts),
      "events" -> Seq("event_id" -> one(LongType), "ts" -> ts,
        "user_id" -> one(LongType), "event_type" -> one(StringType),
        "value" -> one(DoubleType), "props" -> one(StringType)),
      "documents" -> Seq("doc_id" -> one(LongType), "text" -> one(StringType),
        "lang" -> one(StringType), "source" -> one(StringType),
        "n_chars" -> one(LongType)),
      "embeddings" -> Seq("vec_id" -> one(LongType),
        "embedding" -> one(ArrayType(FloatType, containsNull = true)),
        "label" -> one(IntegerType))
    )
  }

  for ((table, cols) <- contract) test(s"fixture schema contract: $table") {
    // read through the raw scanner (nanosAsLong on, like the loaders) so the
    // assertion is about the FILE, not about any loader normalization
    val actual = withNanosAsLong(
      spark.read.parquet(s"$dir/$table.parquet").schema)
    assert(actual.fields.map(_.name).toSeq == cols.map(_._1),
      s"FIXTURE DRIFT in $table: column names/order changed — " +
        s"expected ${cols.map(_._1).mkString(",")}, " +
        s"got ${actual.fields.map(_.name).mkString(",")}. " +
        "The driver regenerated /root/testdata with a new layout; " +
        "update graft.sources.Tables and this contract together.")
    for ((name, allowed) <- cols) {
      val dt = actual(name).dataType
      assert(allowed.contains(dt),
        s"FIXTURE DRIFT in $table.$name: type is $dt, expected one of " +
          s"${allowed.mkString("{", ", ", "}")}. A driver-side regeneration " +
          "changed the on-disk type (round-7 episode: events.ts ns -> us); " +
          "adapt graft.sources.Tables (and Streams.eventsStreamIsolated for " +
          "events) before trusting any downstream red tests.")
    }
  }

  test("fixture contract: loader-normalized events.ts is TIMESTAMP (UTC instants)") {
    val dt = withNanosAsLong(
      graft.sources.Tables.events(spark, dir).schema("ts").dataType)
    assert(dt == TimestampType,
      s"Tables.events must normalize ts to TimestampType for downstream " +
        s"unix_micros/window/watermark operators; got $dt")
  }

  test("legacy nanos path: long ts still truncates to the same micros") {
    // No current fixture carries TIMESTAMP(NANOS) anymore (the driver
    // regenerated them as us), so pin the legacy branch synthetically: a
    // long ts scans as LongType — the same shape the nanosAsLong conf
    // produces for a real ns file — and must come back as the truncated-
    // to-micros UTC instant.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_ns_events").toString + "/events.parquet"
    Seq(
      (1L, 1704067200123456789L, 7L, "view", 1.5, "{}"),
      (2L, 1704067201999999999L, 8L, "click", 2.5, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(tmp)
    val got = withNanosAsLong(graft.sources.Tables
      .events(spark, tmp.stripSuffix("/events.parquet"))
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap)
    assert(got(1L) == 1704067200123456L, s"ns->us truncation drifted: $got")
    assert(got(2L) == 1704067201999999L, s"ns->us truncation drifted: $got")
  }

  test("Tables.events on the micros fixture leaves the session conf " +
      "unchanged") {
    val before = spark.conf.getAll
    assert(graft.sources.Tables.events(spark, dir).schema("ts").dataType ==
      TimestampType)
    assert(spark.conf.getAll == before,
      "loading a micros events file changed the session conf")
  }

  test("a real TIMESTAMP(NANOS) events file is detected from its footer " +
      "and reads as the truncated micros") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ns_footer")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message events { required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true)); required int64 user_id;
        |  required binary event_type (STRING); required double value;
        |  required binary props (STRING); }""".stripMargin)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$tmp/events.parquet"))
      .withType(schema).build()
    val rows = new org.apache.parquet.example.data.simple
      .SimpleGroupFactory(schema)
    try Seq(1L -> 1704067200123456789L, 2L -> 1704067201999999999L)
      .foreach { case (id, ns) =>
        w.write(rows.newGroup().append("event_id", id).append("ts", ns)
          .append("user_id", 7L).append("event_type", "view")
          .append("value", 1.5).append("props", "{}"))
      }
    finally w.close()
    val prior = spark.conf.getOption(NanosAsLong)
    spark.conf.unset(NanosAsLong)
    try {
      val got = graft.sources.Tables.events(spark, tmp.toString)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(spark.conf.getOption(NanosAsLong).contains("true"),
        "the nanos file did not set the flag its scan needs")
      assert(got == Map(1L -> 1704067200123456L, 2L -> 1704067201999999L),
        s"ns->us truncation drifted: $got")
    } finally {
      prior.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
      graft.util.Dirs.rmTree(tmp.toString)
    }
  }

  // registered last, so it runs after every read above
  test("the suite leaves spark.sql.legacy.parquet.nanosAsLong as it " +
      "found it") {
    assert(spark.conf.getOption(NanosAsLong) == nanosBefore)
  }
}
