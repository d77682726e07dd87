package graft.streaming
import graft.util.Pin._
import graft.util.DevTiming
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}

/** Structured Streaming surface — the native re-expression of the reference's
  * micro-batch pipeline (`plugin_ingest`, `/root/reference/plugin.cpp:226-352`):
  * an unbounded reading stream processed batch-at-a-time, with cross-batch
  * state. Spark's checkpointed state is strictly stronger than the
  * reference's module-global buffering (lost on reload,
  * `python35_filter.cpp:375-388`).
  */
object Streams {

  import org.apache.spark.sql.types._

  /** Canonical events schema — single owner for every source format that
    * must declare it up front (kafka's from_json, external landing zones).
    * Keep in sync with the promoted columns of `Tables.events`.
    */
  private[graft] val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Child session with the stream's state width pinned — shared by every
    * source branch (see [[eventsStreamIsolated]] for why a child session).
    */
  private def pinnedSession(s: SparkSession, statePartitions: Int): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    s2
  }

  /** The events table as a file-source stream (schema fixed up front, ns
    * timestamps handled as in Tables.events). Thin alias for
    * [[eventsSource]] with the "file" format — the factory is the seam.
    */
  def eventsStream(s: SparkSession, dir: String): DataFrame =
    eventsSource(s, "file", dir)

  /** O1 — ingest-source factory: every streaming operator in this library
    * takes a DataFrame with the events schema
    * (event_id, ts, user_id, event_type, value[, props]), and this factory
    * is the one seam that produces it. The reference's O1 is PUSH ingest
    * from an upstream pipeline stage (`/root/reference/plugin.cpp:226-352`);
    * in Spark that role is played by a broker-backed source, selected here
    * by `format`:
    *
    *  - `"file"`  — the corpus parquet directory as a file stream (this
    *    sandbox's stand-in for an object-store landing zone). Options: none.
    *  - `"rate"`  — Spark's rate source mapped deterministically onto the
    *    events schema; useful for load tests and liveness specs with no
    *    data dependency. Options: `rowsPerSecond` (default "100").
    *  - `"kafka"` — the production push path: one topic partition per
    *    upstream shard, `value` as the JSON reading the reference pushes.
    *    Requires the spark-sql-kafka connector on the classpath, which this
    *    offline sandbox does not ship, so the branch is config-documented
    *    but cannot be exercised here: options must carry
    *    `kafka.bootstrap.servers` and `subscribe`, and the payload is
    *    parsed with `from_json` against the events schema. Codegen note:
    *    nothing below the parse differs from the other formats — operators
    *    are source-agnostic by construction.
    *
    * All formats build on a child session with the stream's state width
    * pinned (see [[eventsStreamIsolated]] for why).
    */
  def eventsSource(s: SparkSession, format: String, dir: String = "",
                   options: Map[String, String] = Map.empty,
                   statePartitions: Int = 4): DataFrame = format match {
    case "file" =>
      eventsStreamIsolated(s, dir, statePartitions)
    case "rate" =>
      val s2 = pinnedSession(s, statePartitions)
      val rps = options.getOrElse("rowsPerSecond", "100")
      // deterministic value->row mapping: the same tick always yields the
      // same event, so rate-driven specs can assert exact transforms
      s2.readStream.format("rate").option("rowsPerSecond", rps).load()
        .select(
          col("value").as("event_id"),
          col("timestamp").as("ts"),
          (col("value") % 100).as("user_id"),
          element_at(
            typedLit(Seq("view", "click", "purchase", "share", "login")),
            (col("value") % 5 + 1).cast("int")).as("event_type"),
          (col("value") % 1000).cast("double").as("value"))
    case "kafka" =>
      pinnedSession(s, statePartitions)
        .readStream.format("kafka").options(options).load()
        .select(from_json(col("value").cast("string"), eventsSchema).as("e"))
        .select("e.*")
    case other =>
      throw new IllegalArgumentException(
        s"unknown events source format '$other' (file | rate | kafka)")
  }

  /** Build the stream on a CHILD session (`newSession`: own conf + catalog,
    * shared SparkContext and cache) with the stream's state width pinned at
    * session scope. Stateful operators allocate one state store (with its
    * own checkpoint files) per shuffle partition per operator — overhead
    * that dwarfs the work when state is small, so the width must be sized
    * to key cardinality, not inherited from the batch session. Doing it on
    * an isolated session (instead of set/restore on the caller's conf)
    * means concurrent batch queries on the caller's session can never
    * observe the temporary width, and nothing needs restoring.
    */
  def eventsStreamIsolated(s: SparkSession, dir: String, statePartitions: Int): DataFrame = {
    val s2 = pinnedSession(s, statePartitions)
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = s2.read.parquet(path).schema
    // the corpus table is a single parquet file; the file stream source
    // accepts it only as a glob pattern (a bare file path fails basePath
    // validation)
    val raw = s2.readStream.schema(schema).parquet(path + "*")
    // Older fixture generations carried ts as TIMESTAMP(NANOS) (surfaced as
    // long via nanosAsLong); current ones are native TIMESTAMP(MICROS),
    // which scan as TIMESTAMP_NTZ — normalize both to TIMESTAMP (UTC
    // sessions) so watermarks/windows behave identically either way.
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** The one start seam of every graft streaming query: `sink` configures
    * the query's writer and this starts it. If the stream's session names
    * no checkpoint file manager, it first names graft's
    * [[CheckpointFileManager]], which commits each trigger's offset- and
    * commit-log entries on a local checkpoint without forking a process
    * per rename. A manager the caller named (session conf, or the
    * SparkContext's Hadoop conf) wins, and then nothing is written.
    *
    * The choice has to live in the session conf, like the state-store
    * provider [[runningStats]] sets. Spark 4.1.2 builds the offset and
    * commit logs lazily (`StreamingQueryCheckpointMetadata`) on the stream
    * thread, from `sparkSession.sessionState.newHadoopConf()`. So no
    * `DataStreamWriter` option reaches them, and a set/restore window
    * around `start()` is not sure to cover them. The setting stays on the
    * session, so every later stream of that session writes its log the
    * same way whichever graft query started first.
    *
    * Spark reads the key for every checkpoint file manager it builds, so
    * once it is set, every checkpoint file of the session's streams goes
    * through graft's manager, not only the offset and commit logs: the
    * state-store files (HDFS-backed and RocksDB providers), the file
    * source's and file sink's metadata logs, and the checkpoints of
    * streams the caller later starts on the same session outside graft.
    * The delegate writes the same files as Spark's default manager, so a
    * checkpoint written under either, state included, resumes under the
    * other.
    */
  def start[T](ds: Dataset[T])(sink: DataStreamWriter[T] => DataStreamWriter[T])
      : StreamingQuery = {
    val spark = ds.sparkSession
    val key = CheckpointFileManager.ClassKey
    if (spark.conf.getOption(key).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(key) == null)
      spark.conf.set(key, classOf[CheckpointFileManager].getName)
    sink(ds.writeStream).start()
  }

  /** Drive a streaming DataFrame to completion through a memory sink and
    * return the materialized result — lets streaming operators flow through
    * the same verify/oracle gate as batch ones. Runs with whatever session
    * the stream was built on — pair with [[eventsStreamIsolated]] (or any
    * `newSession()`-built stream) so the state width is session-scoped
    * instead of a set/restore window on a shared conf.
    */
  def runToTable(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val spark = df.sparkSession
    val q = start(df)(_.format("memory").queryName(name).outputMode(mode))
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Shared skeleton: watermark → (tumbling | sliding) event-time window →
    * count + deterministic sum per asset key. All windowed stream operators
    * here are this shape with different slide/start naming.
    */
  private def windowedAgg(events: DataFrame, slide: Option[String],
                          startName: String): DataFrame = {
    val win = slide.fold(window(col("ts"), "1 hour"))(s => window(col("ts"), "1 hour", s))
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(win, col("event_type"))
      .agg(count(lit(1)).as("n"),
           graft.util.OracleSafe.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as(startName), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Watermarked tumbling-window aggregate (1 hour) per asset key. */
  def tumblingHourly(events: DataFrame): DataFrame =
    windowedAgg(events, None, "hour")

  /** Watermarked sliding-window aggregate (1 h window, 30 min slide). */
  def slidingHalfHour(events: DataFrame): DataFrame =
    windowedAgg(events, Some("30 minutes"), "win_start")

  /** The reference's E1/E4 pipeline (scale/offset + asset allowlist,
    * SURVEY.md §2.2) composed with a watermarked hourly aggregate — the
    * streaming form of the engine's flagship batch query (q18). CoreOps
    * transformations compose onto streams unchanged: they are plain
    * `DataFrame => DataFrame` functions, and the whole pipeline is
    * config-driven (enable gate, scale/offset, allowlist) like the
    * reference's O8 contract.
    */
  def scaledHourly(events: DataFrame,
                   cfg: graft.ops.FilterConfig = graft.ops.FilterConfig(
                     assetAllowlist = Some(Seq("view", "click", "purchase")))): DataFrame =
    windowedAgg(
      events.transform(graft.ops.CoreOps.guarded(cfg, df =>
        df.transform(graft.ops.CoreOps.scaleOffset(Seq("value"), cfg.scale, cfg.offset))
          .transform(graft.ops.CoreOps.assetFilter("event_type",
            cfg.assetAllowlist.getOrElse(Seq.empty))))),
      None, "hour")
      .withColumnsRenamed(Map("sum_value" -> "sum_scaled"))
      .select("hour", "event_type", "sum_scaled", "n")

  /** Stream-stream inner join: each view paired with the same user's
    * purchases within the following hour. Watermarks on both sides bound
    * the join state (Spark evicts buffered rows once the watermark passes
    * the time-condition range) — the state-bounded formulation that
    * survives unbounded streams.
    */
  def viewPurchaseJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    views.join(purchases,
      col("user_id") === col("p_user_id")
        && col("purchase_ts") >= col("view_ts")
        && col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select("user_id", "view_id", "purchase_id", "view_ts", "purchase_ts")
  }

  /** Stream-stream LEFT OUTER join — [[viewPurchaseJoin]] plus the
    * abandoned views: a view with no purchase in its hour is emitted
    * null-padded once the watermark proves no match can arrive (Spark holds
    * the left row in state until `view_ts + 1 hour` falls below the global
    * watermark, then emits and evicts). Views newer than that at end of
    * input stay unemitted — the oracle applies the same cutoff from the
    * final watermark (min of both sides' max event time, minus the delay).
    */
  def viewPurchaseLeftJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    views.join(purchases,
      col("user_id") === col("p_user_id")
        && col("purchase_ts") >= col("view_ts")
        && col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select("user_id", "view_id", "purchase_id", "view_ts", "purchase_ts")
  }

  /** Native streaming session windows: per-user sessions closed by a
    * 30-minute inactivity gap, append mode — Spark merges/extends session
    * state per key and emits a session once the watermark passes its end
    * (`last event + gap`). The declarative twin of [[userSessions]]'
    * explicit flatMapGroupsWithState machine.
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.util.OracleSafe.dsum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Streaming dedup on (user_id, event_type) + per-asset distinct counts. */
  def dedupCounts(events: DataFrame): DataFrame =
    events
      .dropDuplicates("user_id", "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_distinct_users"))

  /** Watermark-bounded ingest dedup — the unbounded-stream shape for
    * at-least-once delivery. [[dedupCounts]]'s `dropDuplicates` keeps every
    * seen key forever (state grows with the corpus — fine for a bounded
    * replay, fatal on an endless ingest feed); `dropDuplicatesWithinWatermark`
    * evicts a key's state once the watermark passes its event time + `delay`,
    * so state is bounded by redelivery-horizon × arrival-rate regardless of
    * how long the stream runs. Contract: a duplicate arriving within `delay`
    * of the first copy is dropped; a redelivery after the horizon may surface
    * again (StreamingSpec pins both sides of the boundary). Output mode is
    * Append — a record emits the first time its key is seen.
    */
  def ingestDedup(events: DataFrame, delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  case class Ev(event_id: Long, user_id: Long, tsMicros: Long)
  // micros carried as longs: java.sql.Timestamp construction would truncate
  // sub-millisecond precision; callers convert with timestamp_micros().
  case class SessionSummary(user_id: Long, n_sessions: Long, n_events: Long,
                            first_ts_us: Long, last_ts_us: Long)

  /** Custom cross-batch state via flatMapGroupsWithState, keyed per user —
    * the checkpointable analog of the reference's "buffer in module globals
    * across plugin_ingest calls" license (`plugin.cpp:113-117`). Emits a
    * per-user session summary (30-minute gap rule); the GroupState carries
    * the last-seen timestamp so follow-on micro-batches extend sessions
    * instead of restarting them.
    */
  def userSessions(events: DataFrame): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val evs = events.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsMicros")).as[Ev]
    val gapMicros = 1800L * 1000000L
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[Ev], state: GroupState[(Long, Long)]) => {
          val sorted = it.toVector.sortBy(e => (e.tsMicros, e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            val (prevLast, prevSessions) = state.getOption.getOrElse((Long.MinValue, 0L))
            var sessions = prevSessions
            var last = prevLast
            sorted.foreach { e =>
              if (last == Long.MinValue || e.tsMicros - last > gapMicros) sessions += 1
              last = e.tsMicros
            }
            state.update((last, sessions))
            Iterator(SessionSummary(uid, sessions, sorted.size,
              sorted.head.tsMicros, last))
          }
        })
  }

  case class EvV(user_id: Long, event_id: Long, tsMicros: Long, value: Double)
  case class Smoothed(user_id: Long, event_id: Long, value: Double, ewma: Double)

  /** Streaming EWMA — the flagship time-series filter
    * ([[graft.ops.TimeSeriesOps.ewma]]) as a stateful stream: the GroupState
    * carries (seeded flag, running ewma) so follow-on micro-batches
    * CONTINUE each key's recurrence instead of restarting it. Within a
    * batch rows are folded in (ts, id) order; rows of a LATER batch are
    * folded after earlier batches regardless of event time (no
    * out-of-order detection — add an event-time high-watermark to the
    * state if late data must be rejected); the single-batch result is
    * identical to the batch operator (same oracle), and the cross-batch
    * continuation is pinned in StreamingSpec.
    */
  def ewmaStream(events: DataFrame, alpha: Double): Dataset[Smoothed] = {
    val spark = events.sparkSession
    import spark.implicits._
    val beta = 1.0 - alpha
    events.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"), col("value")).as[EvV]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[EvV], state: GroupState[(Boolean, Double)]) => {
          val sorted = it.toVector.sortBy(e => (e.tsMicros, e.event_id))
          var (seeded, e) = state.getOption.getOrElse((false, 0.0))
          val out = sorted.map { r =>
            e = if (!seeded) { seeded = true; r.value } else alpha * r.value + beta * e
            Smoothed(uid, r.event_id, r.value, e)
          }
          if (sorted.nonEmpty) state.update((seeded, e))
          out.iterator
        })
  }

  case class EvT(event_type: String, user_id: Long, value: Double)
  case class TypeStats(event_type: String, n: Long, sum_uid: Long, max_value: Double)

  /** Per-asset running statistics via `transformWithState` — Spark 4's
    * successor to (flat)MapGroupsWithState: typed named state slots
    * (ValueState/ListState/MapState) in a versioned RocksDB store, with
    * TTL and timer support. Statistics chosen to be order-independent
    * (count, long sum, max) so results are layout- and batch-split-stable.
    * Requires the RocksDB state-store provider (set by [[runningStats]]).
    */
  private class RunningStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, EvT, TypeStats] {
    import org.apache.spark.sql.streaming.{TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders, streaming => ss}
    @transient private var state: ValueState[(Long, Long, Double)] = _

    override def init(outputMode: ss.OutputMode, timeMode: ss.TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long, Double)]("stats",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble),
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[EvT],
        timers: ss.TimerValues): Iterator[TypeStats] = {
      var (n, s, m) = Option(state.get()).getOrElse((0L, 0L, Double.NegativeInfinity))
      rows.foreach { e => n += 1; s += e.user_id; m = math.max(m, e.value) }
      state.update((n, s, m))
      Iterator(TypeStats(key, n, s, m))
    }
  }

  /** Running per-asset stats stream (see [[RunningStatsProcessor]]).
    *
    * Contract: pass a stream built on an ISOLATED session
    * ([[eventsStreamIsolated]] or any `newSession()`-built stream). This
    * sets the RocksDB state-store provider on the stream's own session —
    * transformWithState does not run on the default HDFS-backed store, and
    * an already-built streaming DataFrame cannot be moved to a fresh
    * session here (no RDD bridge for streams), so the conf can only be as
    * isolated as the session the caller built the stream on. On a shared
    * session this would flip the store provider for every later streaming
    * query.
    */
  def runningStats(events: DataFrame): Dataset[TypeStats] = {
    val spark = events.sparkSession
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.select(col("event_type"), col("user_id"), col("value")).as[EvT]
      .groupByKey(_.event_type)
      .transformWithState(new RunningStatsProcessor,
        TimeMode.None(), OutputMode.Update(), implicitly[org.apache.spark.sql.Encoder[TypeStats]])
  }

  /** O9 — hot reconfigure. The reference swaps config + reloads the script
    * under a mutex, LOSING any state buffered in module globals
    * (`/root/reference/python35_filter.cpp:310-436, 375-388`). The Spark
    * pattern: stop the StreamingQuery, rebuild the pipeline from the new
    * config, restart against the SAME checkpoint — offsets and operator
    * state are restored, so a reconfigure costs seconds and loses nothing
    * (strictly stronger than the reference).
    *
    * @param current       running query to replace (None on first start)
    * @param rebuilt       the pipeline rebuilt from the new configuration
    * @param checkpointDir checkpoint shared across restarts (state lives here)
    */
  def reconfigure(current: Option[org.apache.spark.sql.streaming.StreamingQuery],
                  rebuilt: DataFrame, checkpointDir: String,
                  sinkTable: String, mode: OutputMode)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    current.foreach(_.stop())
    start(rebuilt)(_.option("checkpointLocation", checkpointDir)
      .format("memory").queryName(sinkTable).outputMode(mode))
  }

  /** Mutable configuration cell for [[hotScaledStream]]: the query holds a
    * reference and re-reads it at every micro-batch boundary, so
    * [[HotConfig.swap]] takes effect on the NEXT batch without stopping the
    * query. Single atomic reference — a batch sees exactly one config (no
    * torn reads), and swaps between batches are linearizable.
    */
  final class HotConfig(initial: graft.ops.FilterConfig) {
    private val ref =
      new java.util.concurrent.atomic.AtomicReference[graft.ops.FilterConfig](initial)
    def get: graft.ops.FilterConfig = ref.get
    def swap(next: graft.ops.FilterConfig): Unit = ref.set(next)
  }

  /** O9, ZERO-downtime variant — the SURVEY §3.3 broadcast-refresh /
    * config-join pattern. [[reconfigure]] swaps parameters by restarting
    * the StreamingQuery against its checkpoint: nothing is lost, but there
    * is a restart gap (seconds of no processing) and topology must be
    * unchanged anyway for state compatibility. Here the query NEVER stops:
    *
    *  - parameters live in a [[HotConfig]] cell, read once per micro-batch
    *    inside `foreachBatch` (the batch boundary IS the consistency point);
    *  - the allowlist is applied as a per-batch broadcast semi-join against
    *    a tiny config table rebuilt from the cell — the "config-join": each
    *    batch re-broadcasts the latest allowlist, which is how a 1000-
    *    executor cluster picks up the swap without any driver restart;
    *  - scale/offset are stamped into the batch plan as literals.
    *
    * Because the swap happens between batches of ONE continuously-running
    * query, the source offset log guarantees every input batch is delivered
    * exactly once across the swap — no restart gap, no re-delivery. This
    * mirrors the reference's `plugin_reconfigure` liveness
    * (`/root/reference/plugin.cpp:402-408`: swap under mutex, pipeline keeps
    * flowing) while keeping Spark's stronger state durability
    * (the reference loses script globals on reload,
    * `python35_filter.cpp:375-388`). Use [[reconfigure]] only for topology
    * changes (different aggregation/state shape), where a restart is
    * semantically required.
    *
    * The query starts through [[start]], so its offset and commit logs
    * (the exactly-once write-ahead log) go through graft's
    * [[CheckpointFileManager]]: on a local checkpoint each trigger's log
    * entries are written and renamed without the `readlink` process that
    * Hadoop's FileContext rename forks per call. The log's files are
    * the same either way.
    *
    * @param events  streaming events (event_type, value, ... columns)
    * @param cfg     live config cell; swap() between batches to retune
    * @param deliver per-batch sink callback (batch output, batch id)
    */
  def hotScaledStream(events: DataFrame, cfg: HotConfig)
                     (deliver: (DataFrame, Long) => Unit)
      : StreamingQuery = {
    start(events)(_.foreachBatch { (batch: DataFrame, id: Long) =>
      val c = cfg.get // one config per batch: the batch boundary is the swap point
      val spark = batch.sparkSession
      import spark.implicits._
      // O3 contract parity with CoreOps.guarded: disabled means the WHOLE
      // pipeline (allowlist included) is skipped and the batch passes
      // through; `scaled` stays identity so the sink schema is stable
      // across a mid-stream enable/disable swap.
      val out =
        if (!c.enable) batch.withColumn("scaled", col("value"))
        else {
          // an empty allowlist blocks every row — same as
          // CoreOps.assetFilter's zero-arg isin(), and the semi-join
          // against an empty broadcast table gives exactly that
          val gated = c.assetAllowlist.fold(batch) { allow =>
            batch.join(broadcast(allow.toDF("event_type")), Seq("event_type"), "left_semi")
          }
          gated.withColumn("scaled", col("value") * lit(c.scale) + lit(c.offset))
        }
      deliver(out, id)
    })
  }

  /** O7 error-passthrough host around a per-batch pipeline: on any
    * non-fatal failure the ORIGINAL batch is forwarded untouched
    * (batch-atomic), mirroring `/root/reference/plugin.cpp:295-310`. The
    * failed attempt's cache entry is released before the passthrough (the
    * caller only ever sees `batch`, so it could not release it). Fatal
    * throwables — an interrupt from stopping the query included —
    * propagate instead of delivering a passthrough batch. For streaming
    * use inside foreachBatch; also applicable to batch DataFrames.
    *
    * The check is one shuffle-free job that reads every row of the cached
    * plan (a write to the `noop` sink), so a runtime error surfaces here
    * and the cache holds every partition when the frame is returned; the
    * caller unpersists it. It is not a `count()`: under adaptive execution
    * a count is a shuffle-map job plus a result job, 2 jobs and a shuffle
    * per batch where this pass is 1 job. The noop write also took less CPU
    * per trigger than iterating `queryExecution.toRdd` at the same job
    * count (readings_stream on a 4-vCPU VM, 6/6 alternated pairs).
    */
  def guardedBatch(pipeline: DataFrame => DataFrame)(batch: DataFrame): DataFrame = {
    var cached: Option[DataFrame] = None
    try {
      val out = pipeline(batch)
      out.cache()
      cached = Some(out) // the cache entry exists once cache() returns
      out.write.format("noop").mode("overwrite").save()
      out
    } catch {
      case NonFatal(e) =>
        cached.foreach(_.unpersist(blocking = false))
        org.slf4j.LoggerFactory.getLogger("graft")
          .warn(s"batch pipeline failed, passing through original: ${e.getMessage}")
        batch
    }
  }

  /** Exactly-once parquet sink via idempotent per-batch overwrite: every
    * micro-batch writes (only) its own `batch=<id>` directory with
    * Overwrite mode, so replays and job restarts over the same input
    * converge to the same on-disk state instead of appending duplicates —
    * the at-least-once → exactly-once bridge for sinks without
    * transactions. Proven here by running the stream TWICE with fresh
    * checkpoints (a full re-delivery of every batch) before reading back.
    * Reference parity: the plugin's error path re-delivers whole batches
    * (`/root/reference/plugin.cpp:295-310`) — a durable sink behind it
    * needs exactly this discipline. At scale the same pattern keys the
    * directory by (epochId) under `foreachBatch`, and the read side
    * prunes on the partition column for free.
    *
    * Batch-boundary robustness: per-batch overwrite alone is only exactly-
    * once if every delivery packs rows into the SAME batch ids — with a
    * multi-file input or `maxFilesPerTrigger`, a re-run could use fewer
    * batches and leave a stale `batch=<id>` directory from an earlier
    * delivery duplicating rows in the read-back. So each run records the
    * batch ids it actually delivered (the manifest), and directories not
    * in the final run's manifest are pruned before reading — the sink's
    * on-disk state is exactly the last complete delivery no matter how the
    * batch boundaries moved.
    */
  def idempotentParquetSink(s: SparkSession, dir: String,
                            outRoot: String): DataFrame = {
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(del)
      f.delete(); ()
    }
    val root = new java.io.File(outRoot)
    if (root.exists) del(root) // deterministic start: no stale batch dirs
    def runOnce(): Set[Long] = {
      val delivered = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val st = eventsStreamIsolated(s, dir, statePartitions = 4)
        .select("event_type", "value")
      val write: (DataFrame, Long) => Unit = (b, id) => {
        b.write.mode("overwrite").parquet(s"$outRoot/batch=$id")
        delivered.add(id); ()
      }
      val q = start(st)(_.foreachBatch(write))
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      delivered.asScala.toSet
    }
    runOnce()
    val manifest = runOnce() // restart without checkpoint = full re-delivery
    // prune any batch dir the final delivery did not produce. listFiles()
    // is null when no batch was ever delivered (empty input never
    // recreates the root) — treat that as nothing to prune; and only
    // numeric batch= suffixes are OURS to delete (a foreign non-numeric
    // dir must not throw in stripPrefix(...).toLong, nor be swept away).
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("batch="))
      .filter(_.getName.stripPrefix("batch=").toLongOption
        .exists(id => !manifest.contains(id)))
      .foreach(del)
    s.read.parquet(outRoot).drop("batch")
  }

  // ---- Restartable incremental-CC maintenance: the v2 store ----
  // Every piece of dedup state lives on disk as epoch-keyed generations,
  // and every per-epoch write is delta-sized. Layout under `stateRoot`:
  //   gens/label_base/g=F    — folded label base (init −1; _SUCCESS-gated)
  //   updates/batch=E        — per-epoch label-update deltas (THE only
  //                            per-epoch label write — delta-sized)
  //   gens/posting_base/g=F  — folded postings (bucket-partitioned in
  //                            nBuckets mode); gens/postings/epoch=E deltas
  //   gens/size_base/g=F     — folded posting sizes; gens/sizes/epoch=E
  // Files per generation follow its bytes (GenStore.writeBase /
  // writeDelta: max(1, ceil(bytes / maxPartitionBytes))): a delta-sized
  // epoch write is one file, a fold as many as its bytes need; bucketed
  // posting generations hold one file per bucket dir.
  // Serving is MERGE-ON-READ: a view = latest complete base ∪ the deltas
  // past its fold point (labels latest-epoch-wins per id — exactly the
  // sequential `applyCcLabelUpdates` fold, since the final label of an id
  // is its row in the LARGEST epoch that touched it). No full label table
  // is written after init. A threshold-triggered fold materializes the
  // view into a new base mid-stream (the
  // [[graft.ext.Similarity.compactStoreIfNeeded]] shape) and
  // [[ccStoreGc]] deletes what left the read path. At 100 TB this is the
  // parquet-delta-file discipline: per-epoch delta dirs accumulate,
  // bounded by the fold cadence.
  //
  // RECOVERY is structural, not lucky timing. A step at epoch E derives
  // ONLY from state strictly below E (every view resolves complete bases
  // and deltas with epoch < E; a torn write — a crash between directory
  // creation and its _SUCCESS marker — is invisible), and every write is
  // an idempotent overwrite keyed by E. So re-delivery of a failed epoch,
  // whatever partial writes it left, recomputes byte-identical artifacts:
  // a replayable source plus epoch-keyed idempotent writes gives
  // exactly-once output. q252/q260/q261 kill their own stream and resume
  // on a fresh session; Round15Spec pins killed ≡ uninterrupted. Folds add
  // one rule, owned by graft.util.GenStore.foldIfDue (every fold below
  // goes through it): a fold at epoch E covers epochs <= E-1 ONLY (named
  // g = E-1). Inside foreachBatch at E every epoch < E is
  // checkpoint-committed (in-order single-stream file source), so nothing
  // at or below the fold point can ever re-deliver — a re-delivered E
  // reads the base g=E-1, which is content-identical to the pre-fold view
  // it read on the first attempt. That rule is also what makes GC safe
  // mid-stream: only state no future (re-)delivery can read is deleted.

  /** Write a posting generation: flat and sized by its bytes
    * ([[graft.util.GenStore.fileCount]]) when nBuckets = 0, hive-bucketed
    * by pmod(sk, nBuckets) otherwise — the win-regime layout
    * (SCALING.md r15: the pruned probe beats the compact scan 16× once
    * the state outgrows a single scan), giving the maintenance step
    * partition pruning on the batch's bucket set in every generation.
    */
  private def writePostingGen(postings: DataFrame, dir: String,
      nBuckets: Int): Unit =
    if (nBuckets <= 0) graft.util.GenStore.writeSized(postings, dir)
    else postings
      .withColumn("bucket",
        graft.ext.Dedup.postingBucket(col("sk"), nBuckets))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)

  // The three (base, delta) pairs of the v2 layout, each a
  // [[graft.util.GenStore]] — the shared seam carries the _SUCCESS
  // gating, the latest-complete-base rule, the fold-lag reasoning, and GC.
  // Each declares the schema its writers emit — (id, label), (i, sk) and
  // (i, na), all longs — so resolving a view launches no schema-inference
  // job; the bucketed layout's `bucket` column is a partition column,
  // discovered from the directory names as before.
  private def longSchema(names: String*) = StructType(
    names.map(StructField(_, LongType)))
  private def ccLabelStore(stateRoot: String) = graft.util.GenStore(
    s"$stateRoot/gens/label_base", s"$stateRoot/updates", "g=", "batch=",
    Some(longSchema("id", "label")))
  private def ccPostingStore(stateRoot: String) = graft.util.GenStore(
    s"$stateRoot/gens/posting_base", s"$stateRoot/gens/postings",
    schema = Some(longSchema("i", "sk")))
  private def ccSizeStore(stateRoot: String) = graft.util.GenStore(
    s"$stateRoot/gens/size_base", s"$stateRoot/gens/sizes",
    schema = Some(longSchema("i", "na")))

  /** Broadcast cap for the merge-on-read label probe, in ROWS: an explicit
    * broadcast() bypasses Spark's size safety, and a HashedRelation of
    * (long, long) rows costs ~48 bytes each resident on the driver AND
    * every executor — cap the relation at 32 MB (~700k ids), the
    * round-5 guardedBroadcast rationale.
    */
  private[graft] val CcLabelBroadcastMaxRows: Long = 32L * 1024 * 1024 / 48

  /** Initialize the v2 store: postings/sizes/labels each land as base
    * generation −1 (labels rebuilt from the WRITTEN postings — the q240
    * one-shingle-pass discipline). Idempotent on the label base's
    * _SUCCESS marker, not on bare existence: a crash during the init
    * label write leaves a torn g=-1 whose directory already exists, so
    * the marker gate makes a torn init re-run (every write overwrites)
    * instead of maintaining labels on top of a partial table.
    *
    * @param onInitPairs composed-init seam (q264): called with the
    *   MATERIALIZED (i, j) pair set of the init corpus so a composed
    *   store (pairs/coreness bases) reuses the one posting self-join
    *   this init already pays instead of re-deriving it from the
    *   written postings. Runs BEFORE the label base commits — the label
    *   base's _SUCCESS is the init guard, so a crash mid-hook re-runs
    *   the whole init (heal-on-redelivery); hook writes must be
    *   idempotent overwrites.
    */
  def ccStoreInit(corpus: DataFrame, stateRoot: String, k: Int = 3,
      threshold: Double = 0.5, nBuckets: Int = 0,
      onInitPairs: Option[DataFrame => Unit] = None): Unit = {
    val s = corpus.sparkSession
    if (java.nio.file.Files.exists(java.nio.file.Paths
        .get(ccLabelStore(stateRoot).basePath(-1), "_SUCCESS"))) return
    graft.util.Pin.scope { pins =>
      val postings = DevTiming("step", "init postings ckpt")(pins(graft.ext
        .Dedup.ngramPostings(corpus, "doc_id", "text", k)))
      // the two base writes both read the checkpointed postings and write
      // disjoint dirs — overlapped (guide §2.6) so the size aggregate's
      // tasks back-fill the posting write's task tail; the label base
      // (the init guard) still commits strictly last, below
      val post = ccPostingStore(stateRoot)
      val siz = ccSizeStore(stateRoot)
      val lab = ccLabelStore(stateRoot)
      DevTiming("step", "init posting+size base writes (overlapped)")(
        graft.util.Par.run(
          () => writePostingGen(postings, post.basePath(-1), nBuckets),
          () => siz.writeBase(graft.ext.Dedup.ngramPostingSizes(postings),
            -1)))
      pins.release(postings)
      val p = post.read(s, post.basePath(-1)).select("i", "sk")
      val z = siz.read(s, siz.basePath(-1))
      val pairsLazy = graft.ext.Dedup
        .ngramJaccardPairsFromPostings(p, z, threshold)
      onInitPairs match {
        case None =>
          // the lazy pair join materializes once, inside CC's first round
          DevTiming("step", "init pairs+CC+label_base write")(
            lab.writeBase(pins.adopt(
              graft.ext.Dedup.connectedComponents(pairsLazy)), -1))
        case Some(hook) =>
          // composed init: checkpoint the pair set ONCE; the hook and CC
          // both read the materialized frame (label base still last)
          val pairs = DevTiming("step", "init pairs ckpt")(
            pins(pairsLazy.select("i", "j")))
          DevTiming("step", "init onInitPairs hook")(hook(pairs))
          DevTiming("step", "init CC+label_base write")(
            lab.writeBase(pins.adopt(
              graft.ext.Dedup.connectedComponents(pairs)), -1))
      }
    }
  }

  /** Posting state visible to epoch `bound`: latest complete base below
    * `bound` ∪ complete delta epochs past its fold point. Keeps the
    * bucket partition column in nBuckets mode so the caller's bucket
    * prune reaches BOTH scans. Append-only content — no per-id
    * reconciliation needed.
    */
  def ccStorePostingsView(s: SparkSession, stateRoot: String,
      bound: Long): DataFrame = ccPostingStore(stateRoot).unionView(s, bound)

  /** Posting-size state visible to epoch `bound` — same shape as
    * [[ccStorePostingsView]], flat layout.
    */
  def ccStoreSizesView(s: SparkSession, stateRoot: String,
      bound: Long): DataFrame = ccSizeStore(stateRoot).unionView(s, bound)

  /** Label state visible to epoch `bound`, MERGE-ON-READ: latest complete
    * base ∪ update deltas past its fold point, latest-epoch-wins per id —
    * provably the sequential [[graft.ext.Dedup.applyCcLabelUpdates]]
    * fold, because that fold's final label for an id is its row in the
    * largest epoch whose update set touched it (each apply = anti-join ∪
    * union). The merge is [[graft.util.GenStore.latestWinsView]]'s one
    * anti-join: base ∪ live update deltas, each row dropped when a live
    * delta of a LARGER epoch holds its id. It is exact because each
    * update delta holds ONE ROW PER ID (changed ∪ fresh ∪ batch singles
    * are disjoint by construction — the GenStore writers' contract;
    * Round16Spec pins it over whole streams). The live deltas are
    * fold-threshold-bounded, so in the common regime their (id, epoch)
    * probe BROADCASTS into that anti-join — the corpus-sized base streams
    * map-side, nothing shuffles, and a read costs one broadcast job plus
    * its own action however many deltas are live. The hint is
    * COUNT-GUARDED (r16 verdict #1): "delta-sized" is an EPOCH bound,
    * not a row bound — a single epoch that bridges two large components
    * rewrites every label of the losing side
    * ([[graft.ext.Dedup.incrementalCcLabelUpdates]]), component-sized on
    * a template-farm megacomponent. The guard sums the `_rows` sidecars
    * of the live update deltas once per view (driver-side file reads —
    * no job; exactly the probe's row count) and drops the hint past
    * [[CcLabelBroadcastMaxRows]], letting the planner fall back to a
    * shuffle join: correct-but-slower for the one view a merge storm is
    * live in, instead of a driver OOM — and the row-based fold trigger
    * ([[ccStoreFoldIfNeeded]]) materializes the storm into a base at the
    * very next step, so the shuffle regime lasts one epoch.
    */
  def ccStoreLabelsView(s: SparkSession, stateRoot: String,
      bound: Long): DataFrame = {
    val st = ccLabelStore(stateRoot)
    st.latestWinsView(s, bound, "id",
      if (st.liveDeltaRows(s, bound) <= CcLabelBroadcastMaxRows) broadcast(_)
      else identity)
  }

  /** The current label table (post-stream serving read). */
  def ccStoreLabels(s: SparkSession, stateRoot: String): DataFrame =
    ccStoreLabelsView(s, stateRoot, Long.MaxValue)

  /** Threshold fold: when more than `maxDeltas` unfolded delta epochs —
    * or, for labels, more than `maxLabelDeltaRows` unfolded delta ROWS —
    * sit past a store's fold point, materialize its view at
    * `bound = epoch` into base g = epoch−1 through
    * [[graft.util.GenStore.foldIfDue]], which owns the fold-lag rule and
    * the re-delivered-epoch guard. The row trigger is the merge-storm
    * valve (r16 verdict #1): an epoch-count bound never notices one
    * component-sized update delta, so the fold ALSO fires when the `_rows`
    * sidecar sum crosses the threshold — at the step after a storm the
    * huge delta folds into a base and the label view returns to the
    * broadcast regime. Defaulting the row cap to
    * [[CcLabelBroadcastMaxRows]] aligns the two policies: the view only
    * ever shuffles for the single epoch a storm is live in. Pass
    * `Long.MaxValue` to disable the row trigger (bench comparators that
    * time the fold separately). Returns the stores folded this call, for
    * the caller's logs/specs.
    */
  def ccStoreFoldIfNeeded(s: SparkSession, stateRoot: String, epoch: Long,
      nBuckets: Int, maxLabelDeltas: Int, maxPostingGens: Int,
      maxLabelDeltaRows: Long = CcLabelBroadcastMaxRows): Seq[String] = {
    val lab = ccLabelStore(stateRoot)
    val post = ccPostingStore(stateRoot)
    val siz = ccSizeStore(stateRoot)
    Seq(
      "labels" -> lab.foldIfDue(epoch)(es => es.size > maxLabelDeltas ||
          lab.liveDeltaRows(s, epoch) > maxLabelDeltaRows)(
        lab.writeBase(ccStoreLabelsView(s, stateRoot, epoch), _)),
      "postings" -> post.foldIfDue(epoch)(_.size > maxPostingGens)(g =>
        writePostingGen(ccStorePostingsView(s, stateRoot, epoch),
          post.basePath(g), nBuckets)),
      "sizes" -> siz.foldIfDue(epoch)(_.size > maxPostingGens)(
        siz.writeBase(ccStoreSizesView(s, stateRoot, epoch), _))
    ).collect { case (name, true) => name }
  }

  /** One maintenance epoch — the foreachBatch body. Shingles the batch
    * once, probes its postings against the posting view below E for the
    * delta pairs, and derives the label-update set (changed ∪ fresh ∪
    * batch singles). The only label write is that delta
    * (`updates/batch=E`) — no full label table — then the batch's
    * posting/size deltas land and the step ends with the threshold fold.
    * `killOnceAt = (E, armed)` injects a one-shot crash after the update
    * delta commits and before the posting/size deltas do — the nastiest
    * partial-commit point — to prove recovery.
    *
    * `gcAfterFold` makes [[ccStoreGc]] a mid-stream POLICY instead of a
    * manual post-stream operator: whenever a fold fires, the step sweeps
    * what that fold retired. Safe under re-delivery by the fold-lag rule
    * (a fold at epoch E covers <= E-1; every epoch <= E-1 is
    * checkpoint-committed before E runs, so nothing GC deletes can ever
    * be re-read — a re-delivered E reads the folded base g=E-1, which is
    * content-identical to the pre-fold view it read on the first
    * attempt). Round16Spec pins policy-on ≡ policy-off labels and that
    * the swept layout matches the explicit-GC one.
    *
    * @param onLabelWrite called with the wall-clock seconds of this
    *   epoch's complete LABEL-PATH writes: the update-delta write (its row
    *   count observed on the write job itself) plus the `_rows` sidecar.
    *   The `cc_maintenance` benchmark reports it as `cc.label_write_s`.
    * @param onEpochPairs called once per epoch with the MATERIALIZED
    *   (localCheckpointed) delta pair set and the epoch id, after the
    *   label update delta + `_rows` sidecar commit (so
    *   [[ccStoreLabelsView]] at bound `epoch + 1` reflects this epoch's
    *   merges) and before the pair pins release — the seam a composed
    *   maintenance loop (q264's incremental coreness) taps to reuse the
    *   pairs this step already computed instead of paying the posting
    *   probe twice. Hook writes must follow the store discipline:
    *   epoch-keyed idempotent overwrites only (the step may re-deliver).
    */
  def ccStoreStep(stateRoot: String, k: Int = 3, threshold: Double = 0.5,
      nBuckets: Int = 0, maxLabelDeltas: Int = 4, maxPostingGens: Int = 4,
      gcAfterFold: Boolean = false,
      killOnceAt: Option[(Long, java.util.concurrent.atomic.AtomicBoolean)] =
        None, maxLabelDeltaRows: Long = CcLabelBroadcastMaxRows,
      onLabelWrite: Double => Unit = _ => (),
      onEpochPairs: (DataFrame, Long) => Unit = (_, _) => ())(
      batch: DataFrame, epoch: Long): Unit = {
    val s = batch.sparkSession
    import graft.ext.Dedup
    graft.util.Pin.scope { pins =>
      val b = DevTiming("step", s"e$epoch batch ckpt")(pins(batch))
      val bp = DevTiming("step", s"e$epoch batch postings ckpt")(
        pins(Dedup.ngramPostings(b, "doc_id", "text", k)))
      val postingsAll = ccStorePostingsView(s, stateRoot, epoch)
      val postings =
        if (nBuckets <= 0) postingsAll
        else DevTiming("step", s"e$epoch bucket prune")(
          Dedup.pruneToBatchBuckets(postingsAll, bp, nBuckets))
      val sizes = ccStoreSizesView(s, stateRoot, epoch)
      val labels = ccStoreLabelsView(s, stateRoot, epoch)
      val newPairs = DevTiming("step", s"e$epoch pair delta ckpt")(pins(
        Dedup.incrementalCcPairsFromPostings(postings, sizes, bp, threshold)))
      val updates = DevTiming("step", s"e$epoch label updates")(pins.adopt(
        Dedup.incrementalCcLabelUpdates(labels, newPairs,
          b.select(col("doc_id").as("id")))))
      val labelWriteT0 = System.nanoTime()
      // `_rows` sidecar: the delta's row count, observed ON the write job
      // itself (r20 optimization: the count formerly re-read the written
      // parquet — one extra job per epoch for a number the write already
      // knows) — the broadcast guard and the row-based fold trigger
      // consume it driver-side with no further jobs. Written after the
      // parquet commit; a crash in between leaves a complete delta whose
      // readers heal by counting once (GenStore.deltaRows).
      val updObs = org.apache.spark.sql.Observation(s"cc_upd_rows_$epoch")
      val lab = ccLabelStore(stateRoot)
      DevTiming("step", s"e$epoch update delta write")(
        lab.writeDelta(updates.observe(updObs, count(lit(1)).as("n")), epoch))
      lab.writeDeltaRowsSidecar(epoch, updObs.get("n").asInstanceOf[Long])
      onLabelWrite((System.nanoTime() - labelWriteT0) / 1e9)
      // composed-loop seam: the pair delta stays pinned through the hook
      onEpochPairs(newPairs, epoch)
      pins.release(newPairs)
      pins.release(updates)
      killOnceAt.foreach { case (at, armed) =>
        if (epoch == at && armed.compareAndSet(true, false))
          throw new IllegalStateException(
            s"injected kill: epoch $epoch died after its update-delta " +
              "write, before its posting/size writes")
      }
      // the posting delta reads the checkpointed batch postings, the size
      // delta the pinned batch's shingle sets (ngramSetSizes: no aggregate
      // shuffle); they write disjoint epoch dirs — overlapped (guide
      // §2.6). The kill-point contract ("after the update delta, before
      // the posting/size deltas") is untouched: the kill check above
      // still precedes both.
      DevTiming("step", s"e$epoch posting+size delta writes (overlapped)")(
        graft.util.Par.run(
          () => writePostingGen(bp,
            ccPostingStore(stateRoot).deltaPath(epoch), nBuckets),
          () => ccSizeStore(stateRoot)
            .writeDelta(Dedup.ngramSetSizes(b, "doc_id", "text", k), epoch)))
    }
    val folded = DevTiming("step", s"e$epoch fold")(
      ccStoreFoldIfNeeded(s, stateRoot, epoch, nBuckets,
        maxLabelDeltas, maxPostingGens, maxLabelDeltaRows))
    if (gcAfterFold && folded.nonEmpty) { ccStoreGc(stateRoot); () }
  }

  /** v2 store GC — [[graft.util.GenStore.gc]] over the three (base,
    * delta) pairs: deletes superseded bases, _SUCCESS-less base stubs
    * (crash leftovers — no fold is in flight under the run-from-the-step
    * contract), and deltas at or below the oldest RETAINED base (no
    * future (re-)delivery can read them — the fold-lag rule).
    * `retainBases` is the snapshot-isolation knob (r16 verdict #4): the
    * default 1 keeps only each store's current base (the original
    * layout); a deployment with STANDALONE serving readers — a process
    * that resolved [[ccStoreLabelsView]] just before a gcAfterFold sweep
    * — sets 2+, so the base its plan holds survives the sweep and its
    * view stays consistent. Returns directories removed.
    */
  def ccStoreGc(stateRoot: String, retainBases: Int = 1): Int =
    ccLabelStore(stateRoot).gc(retainBases) +
      ccPostingStore(stateRoot).gc(retainBases) +
      ccSizeStore(stateRoot).gc(retainBases)
}
