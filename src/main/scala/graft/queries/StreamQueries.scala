package graft.queries
import graft.util.Pin._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streams
import graft.util.OracleSafe._

/** Structured Streaming operators driven synchronously through the memory
  * sink so they pass the same DuckDB-oracle gate as batch queries. The
  * events parquet arrives as one micro-batch; multi-batch semantics
  * (watermark lateness, cross-batch state) are covered in StreamingSpec.
  */
object StreamQueries {

  val defs: Seq[QueryDef] = Seq(

    // ---- watermarked tumbling window over the stream ----
    QueryDef("q41_stream_tumbling_hourly",
      (s, dir) => Streams.runToTable(
          Streams.tumblingHourly(Streams.eventsStream(s, dir)),
          "q41_sink", OutputMode.Complete())
        .orderBy("hour", "event_type"),
      Some(s"""SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
        |${sqlDsum("value")} AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin)),

    // ---- streaming dedup ----
    QueryDef("q42_stream_dedup_counts",
      (s, dir) => Streams.runToTable(
          Streams.dedupCounts(Streams.eventsStream(s, dir)),
          "q42_sink", OutputMode.Complete())
        .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // ---- the reference's flagship E1 pipeline AS A STREAM ----
    // scale/offset + asset allowlist + hourly tumbling aggregate over the
    // event stream — the reference's primary deployment shape
    // (plugin_ingest batches through a user transform), expressed as
    // watermarked Structured Streaming; same oracle as batch q18.
    QueryDef("q74_stream_scale_offset",
      (s, dir) => Streams.runToTable(
          Streams.scaledHourly(Streams.eventsStream(s, dir)),
          "q74_sink", OutputMode.Complete())
        .orderBy("hour", "event_type"),
      Some(s"""SELECT date_trunc('hour', ts) AS hour, event_type,
        |${sqlDsum("value * 5.0 + 10.0")} AS sum_scaled, COUNT(*) AS n
        |FROM events
        |WHERE event_type IN ('view', 'click', 'purchase')
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin)),

    // ---- watermarked sliding window (1h window, 30m slide) ----
    QueryDef("q69_stream_sliding",
      (s, dir) => Streams.runToTable(
          Streams.slidingHalfHour(Streams.eventsStream(s, dir)),
          "q69_sink", OutputMode.Complete())
        .orderBy("win_start", "event_type"),
      Some(s"""WITH slid AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS win_start, event_type, value FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type, value FROM events)
        |SELECT win_start, event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
        |FROM slid
        |GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin)),

    // ---- stream-stream inner join: purchase within 1h of a view ----
    QueryDef("q70_stream_stream_join",
      (s, dir) => Streams.runToTable(
          Streams.viewPurchaseJoin(Streams.eventsStream(s, dir)),
          "q70_sink", OutputMode.Append())
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
             min(col("view_id")).as("min_view_id"),
             max(col("purchase_id")).as("max_purchase_id"))
        .orderBy("user_id"),
      Some("""SELECT v.user_id, COUNT(*) AS n_pairs,
        |  min(v.event_id) AS min_view_id, max(p.event_id) AS max_purchase_id
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        |  AND v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |GROUP BY v.user_id
        |ORDER BY v.user_id""".stripMargin)),

    // ---- custom cross-batch state: per-user session summaries ----
    QueryDef("q43_stream_user_sessions",
      (s, dir) => Streams.runToTable(
          Streams.userSessions(Streams.eventsStream(s, dir)).toDF(),
          "q43_sink", OutputMode.Append())
        .select(col("user_id"), col("n_sessions"), col("n_events"),
          timestamp_micros(col("first_ts_us")).as("first_ts"),
          timestamp_micros(col("last_ts_us")).as("last_ts"))
        .orderBy("user_id"),
      Some("""WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts, 1) OVER w IS NULL
        |           OR epoch(ts) - epoch(LAG(ts, 1) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events, min(ts) AS first_ts, max(ts) AS last_ts
        |FROM flagged
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),

    // ---- stream-static broadcast enrichment join ----
    // The streaming side joins a STATIC dimension (customer → market
    // segment) broadcast to every task: no stream-side state, no watermark
    // needed — the standard "enrich readings with asset metadata" shape.
    // The dim loads on the stream's own (isolated) session. The broadcast
    // hint is the right call HERE because a streaming enrichment dim is a
    // curated 2-column projection re-read per micro-batch — but it carries
    // the q03/q06 caveat: if the static side grows with the corpus, drop
    // the hint and let the per-batch join shuffle (stream-static equi-joins
    // support both strategies).
    QueryDef("q93_stream_static_join",
      (s, dir) => {
        val st = graft.streaming.Streams.eventsStream(s, dir)
        val dim = broadcast(graft.sources.Tables.customer(st.sparkSession, dir)
          .select(col("c_custkey"), col("c_mktsegment")))
        Streams.runToTable(
            st.join(dim, st("user_id") === col("c_custkey"))
              .groupBy("c_mktsegment")
              .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
            "q93_sink", OutputMode.Complete())
          .orderBy("c_mktsegment")
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),

    // ---- the flagship time-series filter (EWMA) AS A STREAM ----
    // same recurrence and oracle as batch q85; cross-batch state
    // continuation is pinned in StreamingSpec
    QueryDef("q118_stream_ewma",
      (s, dir) => Streams.runToTable(
          Streams.ewmaStream(Streams.eventsStream(s, dir), alpha = 0.25).toDF(),
          "q118_sink", OutputMode.Append())
        .orderBy("user_id", "event_id"),
      Some("""WITH RECURSIVE base AS (
        |  SELECT user_id, event_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, value, rn, value AS ewma FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.user_id, b.event_id, b.value, b.rn,
        |         CAST(0.25 AS DOUBLE) * b.value + CAST(0.75 AS DOUBLE) * r.ewma
        |  FROM base b JOIN r ON b.user_id = r.user_id AND b.rn = r.rn + 1)
        |SELECT user_id, event_id, value, ewma FROM r
        |ORDER BY user_id, event_id""".stripMargin)),

    // ---- transformWithState: typed named-state slots on RocksDB ----
    // Spark 4's arbitrary-state API (successor to flatMapGroupsWithState):
    // running per-asset stats in a ValueState slot. The statistics are
    // order-independent (count / long-sum / max), so the final running
    // values equal a plain GROUP BY — which is the oracle. The Update-mode
    // memory sink APPENDS each batch's updated rows, so reduce to the
    // latest row per key (all three stats are monotone non-decreasing —
    // max picks the final batch) instead of assuming a single micro-batch.
    QueryDef("q106_transform_with_state",
      (s, dir) => Streams.runToTable(
          Streams.runningStats(Streams.eventsStream(s, dir)).toDF(),
          "q106_sink", OutputMode.Update())
        .groupBy("event_type")
        .agg(max(col("n")).as("n"), max(col("sum_uid")).as("sum_uid"),
             max(col("max_value")).as("max_value"))
        .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(user_id) AS BIGINT) AS sum_uid, max(value) AS max_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // ---- stream-stream LEFT OUTER join (watermark-emitted null side) ----
    // q70 plus the abandoned views. A left view row is emitted null-padded
    // only when the final watermark (min of both sides' max ts, minus the
    // 1 h delay) proves no purchase can arrive: view_ts + 1 h < watermark.
    // The oracle replays exactly that rule; unmatched views inside the
    // final 2 h horizon stay buffered and are (correctly) absent.
    QueryDef("q130_stream_outer_join",
      (s, dir) => Streams.runToTable(
          Streams.viewPurchaseLeftJoin(Streams.eventsStream(s, dir)),
          "q130_sink", OutputMode.Append())
        .groupBy("user_id")
        .agg(count(col("purchase_id")).as("n_matched"),
             sum(col("purchase_id").isNull.cast("long")).as("n_abandoned"),
             min(col("view_id")).as("min_view_id"))
        .orderBy("user_id"),
      Some("""WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |        FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id AS p_user_id, event_id AS purchase_id, ts AS purchase_ts
        |      FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(view_ts) FROM v),
        |                    (SELECT max(purchase_ts) FROM p))
        |               - INTERVAL 1 HOUR AS w),
        |j AS (SELECT v.user_id, v.view_id, v.view_ts, p.purchase_id
        |      FROM v LEFT JOIN p
        |        ON v.user_id = p.p_user_id
        |        AND p.purchase_ts >= v.view_ts
        |        AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR),
        |emitted AS (SELECT * FROM j
        |  WHERE purchase_id IS NOT NULL
        |     OR view_ts + INTERVAL 1 HOUR < (SELECT w FROM wm))
        |SELECT user_id, COUNT(purchase_id) AS n_matched,
        |  CAST(SUM(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_abandoned,
        |  min(view_id) AS min_view_id
        |FROM emitted
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),

    // ---- native streaming session windows (append mode) ----
    // Declarative twin of q43's flatMapGroupsWithState machine: Spark
    // merges per-user session state and emits a session once the watermark
    // passes its end (last event + 30 min gap). The oracle sessionizes in
    // SQL and applies the same closure cutoff from the final watermark.
    QueryDef("q134_stream_session_window",
      (s, dir) => Streams.runToTable(
          Streams.sessionWindows(Streams.eventsStream(s, dir)),
          "q134_sink", OutputMode.Append())
        .orderBy("user_id", "session_start"),
      Some(s"""WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN LAG(ts, 1) OVER w IS NULL
        |           OR epoch(ts) - epoch(LAG(ts, 1) OVER w) >= 1800 THEN 1 ELSE 0 END
        |      AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |agg AS (
        |  SELECT min(ts) AS session_start,
        |    max(ts) + INTERVAL 30 MINUTE AS session_end,
        |    user_id, COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
        |  FROM sess GROUP BY user_id, sid)
        |SELECT session_start, session_end, user_id, n_events, sum_value
        |FROM agg
        |WHERE session_end < (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
        |ORDER BY user_id, session_start""".stripMargin)),

    // ---- exactly-once sink: idempotent per-batch overwrite ----
    // The stream runs TWICE over the same input with fresh checkpoints
    // (full re-delivery of every micro-batch); because each batch
    // overwrites only its own batch-id-keyed directory, the read-back
    // still equals the plain batch aggregate — the oracle below IS that
    // batch twin, so the exactly-once claim is hash-checked, not assumed.
    QueryDef("q187_stream_idempotent_sink",
      (s, dir) => {
        // sink dir keyed by the SANITIZED full input path (hashCode can
        // collide across datasets) plus the pid, so concurrent harness
        // runs (Verify + Bench on one machine) never race on the same
        // directory that the sink deletes at start
        val outRoot = s"${sys.props("java.io.tmpdir")}/graft_q187_" +
          dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "_p" + ProcessHandle.current().pid()
        Streams.idempotentParquetSink(s, dir, outRoot)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, COUNT(*) AS n,
        |${sqlDsum("value")} AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // ---- streaming top-k (complete-mode windowed counts + rank) ----
    // The live leaderboard: tumbling-hour counts maintained by the
    // streaming aggregate in COMPLETE mode (ranking is not a streaming
    // operator — it needs the whole window's final counts), then the
    // top-2 per window ranked over the settled sink table. The batch
    // twin below is the oracle, so "the leaderboard equals the batch
    // truth" is hash-checked.
    QueryDef("q199_stream_topk",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val st = graft.streaming.Streams.eventsStream(s, dir)
        val counts = st
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val settled = Streams.runToTable(counts, "q199_sink",
          OutputMode.Complete())
        settled
          .select(col("window.start").as("ws"), col("event_type"), col("n"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("ws")
              .orderBy(col("n").desc, col("event_type").asc)))
          .filter(col("rk") <= 2)
          .select(col("ws"), col("rk").cast("int").as("rk"),
            col("event_type"), col("n"))
          .orderBy("ws", "rk")
      },
      Some("""WITH c AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT ws, event_type, n,
        |    CAST(row_number() OVER (PARTITION BY ws
        |      ORDER BY n DESC, event_type ASC) AS INTEGER) AS rk
        |  FROM c)
        |SELECT ws, rk, event_type, n
        |FROM r WHERE rk <= 2
        |ORDER BY ws, rk""".stripMargin)),

    // ---- watermark-bounded ingest dedup (at-least-once → exactly-once) ----
    // Double-deliver the whole stream (the second copy lands 10 minutes
    // late, inside the 30-minute redelivery horizon), then dedup by message
    // id with dropDuplicatesWithinWatermark: the aggregate over the deduped
    // append stream must equal the plain batch aggregate over events — the
    // exactly-once restoration is hash-checked, not assumed. Unlike q42's
    // dropDuplicates, per-key state here is EVICTED once the watermark
    // passes the key's horizon (state ∝ horizon × arrival rate, not corpus
    // size — the only dedup shape that survives an unbounded 100 TB feed);
    // StreamingSpec pins the eviction boundary itself. The two copies agree
    // on every non-ts column, so whichever arrives first the survivor's
    // (event_type, value) — all the aggregate reads — is deterministic.
    QueryDef("q220_stream_ingest_dedup",
      (s, dir) => {
        val ev = Streams.eventsStream(s, dir)
        val redelivered = ev.withColumn("ts",
          col("ts") + expr("INTERVAL 10 MINUTES"))
        val restored = Streams.runToTable(
          Streams.ingestDedup(ev.unionAll(redelivered), "30 minutes"),
          "q220_sink", OutputMode.Append())
        restored
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, COUNT(*) AS n,
        |${sqlDsum("value")} AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // ---- stateful EWMA stream → DISTRIBUTED parquet sink (q118 unbound) --
    // q118 materializes every smoothed row through the driver-side memory
    // sink — the oracle harness's necessity, and (measured, SCALING.md) the
    // dominant term of its 100× leg: ~135 s of a 137.9 s total was rows
    // crossing the driver, not EWMA state work. This is the same stateful
    // stream routed the way a cluster deployment actually sinks it: each
    // micro-batch overwrites its own batch=<epoch> parquet directory (the
    // q187 idempotent exactly-once discipline — replays converge instead
    // of appending), rows never leave the executors, and the verdict is an
    // aggregate over the read-back. Oracle: q118's recursive EWMA chain,
    // aggregated per user in exact int64 micro-units — so the distributed
    // sink path is hash-checked against the same truth as the memory-sink
    // path, and the b5 sweep can measure the two legs side by side.
    QueryDef("q234_stream_ewma_file_sink",
      (s, dir) => {
        val outRoot = java.nio.file.Files
          .createTempDirectory("graft_ewma_sink")
        try {
          val smoothed = Streams
            .ewmaStream(Streams.eventsStream(s, dir), alpha = 0.25).toDF()
          val write: (org.apache.spark.sql.DataFrame, Long) => Unit =
            (b, epoch) => {
              b.write.mode("overwrite").parquet(s"$outRoot/batch=$epoch"); ()
            }
          val q = Streams.start(smoothed)(_.foreachBatch(write))
          try q.processAllAvailable() finally q.stop()
          // per-term floor(ewma·1e6) into int64: the smoothed doubles are
          // bit-identical across engines (q118's hash proves it) and ×1e6 +
          // floor are single exact-agreeing IEEE ops, so the sum is
          // integer-exact — decimal-6 rounding of raw EWMA doubles hit the
          // scale-6 midpoint trap (21/150 users at sf0.01, one ulp apart)
          s.read.parquet(outRoot.toString).drop("batch")
            .groupBy("user_id")
            .agg(count(lit(1)).as("n"),
              sum(floor(col("ewma") * lit(1e6)).cast("long"))
                .as("sum_ewma_micro"))
            .orderBy("user_id").pin()
        } finally {
          graft.util.Dirs.rmTree(outRoot.toString)
        }
      },
      Some(s"""WITH RECURSIVE base AS (
        |  SELECT user_id, event_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, value, rn, value AS ewma FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.user_id, b.event_id, b.value, b.rn,
        |         CAST(0.25 AS DOUBLE) * b.value + CAST(0.75 AS DOUBLE) * r.ewma
        |  FROM base b JOIN r ON b.user_id = r.user_id AND b.rn = r.rn + 1)
        |SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(ewma * CAST(1000000 AS DOUBLE)) AS BIGINT))
        |    AS BIGINT) AS sum_ewma_micro
        |FROM r
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin))
  )
}
