package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.util.OracleSafe._

/** Source/sink format coverage beyond parquet: CSV and JSON round-trips
  * (write + schema-explicit read-back), and bucketed tables joined without
  * a shuffle — the co-location story for repeated large joins at scale.
  *
  * Round-trip artifacts land under java.io.tmpdir (scratch space, not the
  * corpus). Values chosen so text round-trips are exact: Spark writes
  * shortest-round-trip doubles, so read-back is bit-identical.
  */
object SourceQueries {

  // pid-scoped so concurrent sessions (verify + bench) never overwrite each
  // other's round-trip artifacts; the whole root is deleted on JVM exit so
  // repeated runs don't accumulate artifacts under java.io.tmpdir
  private val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_scratch_${ProcessHandle.current().pid()}")
    sys.addShutdownHook(graft.util.Dirs.rmTree(p.toString))
    p
  }

  private def scratch(name: String): String = s"$scratchRoot/$name"

  /** Partition-pruned fact ⋈ filtered dim — exposed so PlanShapeSpec can
    * assert the dynamic-pruning subquery on the same DataFrame q108 runs.
    * The fact side is events partitioned by event_type on disk; the dim
    * carries per-type weights and a selective filter, so at plan time the
    * matching partitions are unknown — dynamic partition pruning inserts a
    * runtime subquery filter on the fact scan's partition column. At 100 TB
    * this is what keeps "join the fact table to a filtered dimension" from
    * scanning every partition.
    */
  def dppJoin(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val factPath = scratch("events_by_type_dpp")
    val dimPath = scratch("type_weights")
    Tables.events(s, dir)
      .select("event_id", "user_id", "event_type", "value")
      .write.mode("overwrite").partitionBy("event_type").parquet(factPath)
    locally {
      import s.implicits._
      Seq(("click", 1.5), ("purchase", 2.5), ("view", 0.5)).toDF("w_type", "weight")
        .write.mode("overwrite").parquet(dimPath)
    }
    val fact = s.read.parquet(factPath)
    val dim = s.read.parquet(dimPath).filter(col("weight") > 1.0)
    fact.join(dim, fact("event_type") === dim("w_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value") * col("weight")).as("weighted_sum"))
      .orderBy("event_type")
  }

  /** Write both join sides bucketed 8 ways on the join key and return the
    * (lazy) join-aggregate over them. Exposed so PlanShapeSpec can assert
    * the no-exchange plan on the same DataFrame q68 materializes.
    */
  def bucketedJoin(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val wh = scratch("bucketed")
    dropBucketedTables(s)
    // only the join key + aggregated column are written: at scale the
    // bucketed copy is a materialized projection, not a full-table clone.
    // Pre-repartition by the BUCKET id (pmod(hash(key), n) — the same
    // murmur3 bucketing the writer applies): each task then writes exactly
    // one bucket file instead of every task spraying all n buckets
    // (tasks × n small files, the classic bucketed-write explosion).
    def bucketId(c: org.apache.spark.sql.Column) = pmod(hash(c), lit(8))
    Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
      .repartition(8, bucketId(col("l_orderkey")))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li").mode("overwrite").saveAsTable("li_bucketed")
    Tables.orders(s, dir).select("o_orderkey", "o_orderstatus")
      .repartition(8, bucketId(col("o_orderkey")))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord").mode("overwrite").saveAsTable("ord_bucketed")
    s.table("li_bucketed")
      .join(s.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderstatus")
  }

  def dropBucketedTables(s: org.apache.spark.sql.SparkSession): Unit = {
    s.sql("DROP TABLE IF EXISTS li_bucketed")
    s.sql("DROP TABLE IF EXISTS ord_bucketed")
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- CSV sink + source round-trip, then a join-aggregate over it ----
    QueryDef("q66_csv_roundtrip",
      (s, dir) => {
        val nation = Tables.nation(s, dir)
        val out = scratch("nation_csv")
        nation.write.mode("overwrite").option("header", "true").csv(out)
        val back = s.read.schema(nation.schema).option("header", "true").csv(out)
        back.join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_nation"))
          .orderBy("r_name")
      },
      Some("""SELECT r_name, COUNT(*) AS n_nations, min(n_name) AS first_nation
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin)),

    // ---- JSON lines sink + source round-trip incl. exact double re-read ----
    QueryDef("q67_json_roundtrip",
      (s, dir) => {
        val slim = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        val out = scratch("orders_json")
        slim.write.mode("overwrite").json(out)
        val back = s.read.schema(slim.schema).json(out)
        back.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
               max(col("o_totalprice")).as("max_price"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
        |${sqlDsum("o_totalprice")} AS sum_price,
        |max(o_totalprice) AS max_price
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    // ---- partitioned parquet write + partition-pruned read-back ----
    // partitionBy at write time is THE 100 TB scan-cost lever: a reader
    // filtering on the partition column touches only matching directories
    // (PartitionFilters in the scan, zero data files read for pruned keys).
    QueryDef("q82_partitioned_write",
      (s, dir) => {
        val out = scratch("events_by_type")
        Tables.events(s, dir)
          .select("event_id", "user_id", "event_type", "value")
          .write.mode("overwrite").partitionBy("event_type").parquet(out)
        s.read.parquet(out)
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
               countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value,
        |COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE event_type IN ('click', 'purchase')
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // ---- last-state compaction (CDC-style upsert collapse per key) ----
    // one hash aggregate with max_by on the (ts, event_id) version tuple —
    // the scalable "latest row per key" (no window sort over the full log)
    QueryDef("q83_last_state_compaction",
      (s, dir) => Tables.events(s, dir)
        .groupBy("user_id")
        .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("last_value"),
             max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("last_type"),
             max(col("ts")).as("last_ts"),
             count(lit(1)).as("n_versions"))
        .orderBy("user_id"),
      Some("""SELECT user_id, last_value, last_type, last_ts, n_versions FROM (
        |  SELECT user_id,
        |    value AS last_value, event_type AS last_type,
        |    max(ts) OVER (PARTITION BY user_id) AS last_ts,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_versions,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin)),

    // ---- bucketed tables: co-located join with no exchange ----
    // Both sides bucketed 8 ways on the join key at write time; the join
    // plan then has NO shuffle on either side (SortMergeJoin over bucketed
    // scans). At 100 TB this is the difference between re-shuffling the
    // fact table on every join and reading it pre-partitioned.
    QueryDef("q68_bucketed_join",
      (s, dir) => {
        val joined = bucketedJoin(s, dir)
        // materialize the (tiny) aggregate, then DROP the bucketed tables so
        // they don't linger in the shared catalog; return the collected rows
        // so downstream consumers never re-scan the dropped tables
        val rows = joined.collect()
        val out = s.createDataFrame(
          java.util.Arrays.asList(rows: _*), joined.schema)
        dropBucketedTables(s)
        out
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n_lines,
        |${sqlDsum("l_quantity")} AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    // ---- ORC sink + source round-trip (third file format) ----
    QueryDef("q95_orc_roundtrip",
      (s, dir) => {
        val sup = Tables.supplier(s, dir)
          .select("s_suppkey", "s_nationkey", "s_acctbal")
        val out = scratch("supplier_orc")
        sup.write.mode("overwrite").orc(out)
        s.read.orc(out)
          .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_suppliers"), dsum(col("s_acctbal")).as("sum_bal"))
          .orderBy("n_name")
      },
      Some(s"""SELECT n_name, COUNT(*) AS n_suppliers,
        |${sqlDsum("s_acctbal")} AS sum_bal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)),

    // ---- z-order (Morton) layout: 2-D clustering for range scans ----
    // Write the events table sorted by the interleaved bits of
    // (user_id, quantized value); a reader with range predicates on BOTH
    // dimensions then touches a narrow band of row groups (parquet min/max
    // pruning), instead of the full table for any 1-D sort. The result is
    // layout-independent — the oracle is the plain filter.
    QueryDef("q94_zorder_layout",
      (s, dir) => {
        import graft.ops.ZOrder
        val out = scratch("events_zorder")
        Tables.events(s, dir)
          .select("event_id", "user_id", "event_type", "value")
          .withColumn("zval", ZOrder.interleave16(col("user_id"),
            ZOrder.quantize16(col("value"), 0.0, 512.0)))
          .repartitionByRange(8, col("zval"))
          .sortWithinPartitions("zval")
          .drop("zval")
          .write.mode("overwrite").parquet(out)
        s.read.parquet(out)
          .filter(col("user_id").between(100, 160)
            && col("value").between(100.0, 200.0))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
               countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value,
        |COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE user_id BETWEEN 100 AND 160 AND value BETWEEN 100.0 AND 200.0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // ---- schema evolution: mergeSchema over batches with drifting schemas ----
    // An early batch lacks a column a later batch added — the reader merges
    // the schemas (missing column → NULL), exactly the long-lived-pipeline
    // reality where writers upgrade over time and 100 TB of history is not
    // rewritten.
    QueryDef("q100_schema_evolution",
      (s, dir) => {
        val out = scratch("events_evolving")
        val ev = Tables.events(s, dir)
        ev.filter(col("event_id") % 2 === 0)
          .select("event_id", "user_id", "value")                  // v1 schema
          .write.mode("overwrite").parquet(s"$out/v1")
        ev.filter(col("event_id") % 2 === 1)
          .select("event_id", "user_id", "value", "event_type")    // v2 adds a column
          .write.mode("overwrite").parquet(s"$out/v2")
        s.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
          .groupBy(coalesce(col("event_type"), lit("pre_upgrade")).as("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy("event_type")
      },
      Some(s"""SELECT CASE WHEN event_id % 2 = 1 THEN event_type
        |            ELSE 'pre_upgrade' END AS event_type,
        |COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
        |FROM events
        |GROUP BY 1
        |ORDER BY event_type""".stripMargin)),

    // ---- SCD2 dimension upsert (valid_from/valid_to versioning) ----
    // Batch MERGE without a table format: changed keys close their current
    // row and append the new version; unchanged keys pass through — one
    // broadcastable join per branch, union of three keyed row sets.
    QueryDef("q101_scd2_upsert",
      (s, dir) => {
        val dim = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment").as("segment"),
            lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
        val upd = Tables.customer(s, dir)
          .filter(col("c_custkey") % 10 === 3)
          .select(col("c_custkey"), lit("PROMO").as("segment"))
        val t = lit(100L)
        val unchanged = dim.join(upd.select("c_custkey"), Seq("c_custkey"), "left_anti")
        val closed = dim.join(upd.select("c_custkey"), Seq("c_custkey"), "left_semi")
          .withColumn("valid_to", t)
        val fresh = upd.select(col("c_custkey"), col("segment"),
          t.as("valid_from"), lit(null).cast("long").as("valid_to"))
        unchanged.unionByName(closed).unionByName(fresh)
          .orderBy("c_custkey", "valid_from")
      },
      Some("""WITH upd AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 3)
        |SELECT c_custkey, c_mktsegment AS segment, CAST(0 AS BIGINT) AS valid_from,
        |       CASE WHEN c_custkey IN (SELECT c_custkey FROM upd)
        |            THEN CAST(100 AS BIGINT) END AS valid_to
        |FROM customer
        |UNION ALL
        |SELECT c_custkey, 'PROMO', 100, NULL FROM upd
        |ORDER BY c_custkey, valid_from""".stripMargin)),

    // ---- dynamic partition pruning: fact ⋈ filtered dim ----
    QueryDef("q108_dynamic_partition_pruning",
      (s, dir) => dppJoin(s, dir),
      Some(s"""WITH dim AS (
        |  SELECT * FROM (VALUES ('click', CAST(1.5 AS DOUBLE)),
        |                        ('purchase', CAST(2.5 AS DOUBLE)),
        |                        ('view', CAST(0.5 AS DOUBLE))) AS t(w_type, weight)
        |  WHERE weight > 1.0)
        |SELECT e.event_type, COUNT(*) AS n,
        |${sqlDsum("e.value * d.weight")} AS weighted_sum
        |FROM events e JOIN dim d ON e.event_type = d.w_type
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin)),

    // ---- point-in-time join against an SCD2 dimension ----
    // The consumption side of q101's SCD2 upsert: every fact row joins
    // the dimension version whose [valid_from, valid_to) interval covers
    // the fact's event date, so historical orders aggregate under the
    // segment that was true WHEN THEY HAPPENED, not the current one. The
    // versioned dimension is customer-sized → broadcast hash join on the
    // customer key with the interval test as residual; no fact shuffle
    // until the final aggregate.
    QueryDef("q165_scd2_point_in_time",
      (s, dir) => {
        val cut = to_date(lit("1998-01-01"))
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey").as("custkey"),
            col("c_mktsegment").as("segment"))
        val changed = col("custkey") % 10 === 3
        val v1 = cust.select(col("custkey"), col("segment"),
          to_date(lit("1990-01-01")).as("valid_from"),
          when(changed, cut).otherwise(lit(null).cast("date")).as("valid_to"))
        val v2 = cust.filter(changed).select(col("custkey"),
          lit("PROMO").as("segment"), cut.as("valid_from"),
          lit(null).cast("date").as("valid_to"))
        val dim = v1.unionByName(v2)
        Tables.orders(s, dir)
          .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"),
            col("o_totalprice"))
          .join(broadcast(dim),
            col("o_custkey") === col("custkey")
              && col("od") >= col("valid_from")
              && (col("valid_to").isNull || col("od") < col("valid_to")))
          .groupBy(col("segment"), year(col("od")).as("yr"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
          .orderBy("segment", "yr")
      },
      Some(s"""WITH dim AS (
        |  SELECT c_custkey AS custkey, c_mktsegment AS segment,
        |    DATE '1990-01-01' AS valid_from,
        |    CASE WHEN c_custkey % 10 = 3 THEN DATE '1998-01-01' END AS valid_to
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'PROMO', DATE '1998-01-01', NULL
        |  FROM customer WHERE c_custkey % 10 = 3),
        |o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders)
        |SELECT segment, CAST(year(od) AS INTEGER) AS yr, COUNT(*) AS n,
        |  ${sqlDsum("o_totalprice")} AS revenue
        |FROM o JOIN dim ON o_custkey = custkey AND od >= valid_from
        |  AND (valid_to IS NULL OR od < valid_to)
        |GROUP BY 1, 2
        |ORDER BY segment, yr""".stripMargin)),

    // ---- snapshot diff / reconciliation (added, removed, changed) ----
    // The table-compare run after a backfill or a CDC replay: full outer
    // join of two snapshots on the business key, per-row classification,
    // and the bounded per-class census with the net value drift. The two
    // snapshots are simulated from orders by key-pattern deletes (A drops
    // %97, B drops %101) and price bumps (%89). One shuffle per side on
    // the join key; the classification is a residual projection.
    QueryDef("q167_snapshot_diff",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val a = o.filter(col("o_orderkey") % 97 =!= 0)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("pa"))
        val b = o.filter(col("o_orderkey") % 101 =!= 0)
          .select(col("o_orderkey").as("k2"),
            (col("o_totalprice")
              + when(col("o_orderkey") % 89 === 0, 10d).otherwise(0d))
              .as("pb"))
        a.join(b, col("k") === col("k2"), "full_outer")
          .select(
            when(col("k").isNull, "added")
              .when(col("k2").isNull, "removed")
              .when(col("pa") =!= col("pb"), "changed")
              .otherwise("same").as("change_class"),
            (coalesce(col("pb"), lit(0d)) - coalesce(col("pa"), lit(0d)))
              .as("delta"))
          .groupBy("change_class")
          .agg(count(lit(1)).as("n"), dsum(col("delta")).as("net_delta"))
          .orderBy("change_class")
      },
      Some(s"""WITH a AS (
        |  SELECT o_orderkey AS k, o_totalprice AS pa
        |  FROM orders WHERE o_orderkey % 97 <> 0),
        |b AS (
        |  SELECT o_orderkey AS k2,
        |    o_totalprice + CASE WHEN o_orderkey % 89 = 0
        |      THEN CAST(10 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS pb
        |  FROM orders WHERE o_orderkey % 101 <> 0),
        |d AS (
        |  SELECT CASE WHEN k IS NULL THEN 'added'
        |              WHEN k2 IS NULL THEN 'removed'
        |              WHEN pa <> pb THEN 'changed'
        |              ELSE 'same' END AS change_class,
        |    COALESCE(pb, CAST(0 AS DOUBLE))
        |      - COALESCE(pa, CAST(0 AS DOUBLE)) AS delta
        |  FROM a FULL OUTER JOIN b ON k = k2)
        |SELECT change_class, COUNT(*) AS n,
        |  ${sqlDsum("delta")} AS net_delta
        |FROM d GROUP BY 1
        |ORDER BY change_class""".stripMargin))
  )
}
