package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** readings_stream: the reference's operator on a live stream.
  *
  * A generator thread pushes readings into a MemoryStream; the query is
  * `Streams.hotScaledStream`, whose per-batch callback runs the datapoint
  * pipeline under `Streams.guardedBatch` and then a sink. Phase 1 is an
  * open loop at `Rate` readings/s (latency from each reading's due time to
  * its delivery), with one malformed reading every `MalformedPeriodS`
  * seconds and HotConfig swaps that cycle once through the configs: each
  * governs an equal share of the phase's readings (by the newest delivered
  * reading, so the share does not depend on how fast the engine runs).
  * Phase 2 is a saturated closed loop that keeps `InFlight` chunks of
  * `Chunk` readings queued beyond the running trigger, so the backlog never
  * empties, under one config and with no malformed readings.
  */
object ReadingsStream {
  val Rate = 500
  val FixedShare = 0.6
  val MalformedPeriodS = 1
  val Chunk = 20000
  val InFlight = 6
  val WarmRows = 200
  val WarmFixedS = 8.0
  val WarmSaturatedS = 2.0
  val MinPushGapNs = 5000000L

  def run(ctx: Ctx): Outcome = new ReadingsStream(ctx).run()
}

private final class ReadingsStream(ctx: Ctx) {
  import ReadingsStream._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val gen = new ReadingsGen(ctx.seed)
  private val configs = Seq(
    ReadingsAdapter.config(5.0, 10.0),
    ReadingsAdapter.config(2.5, -4.0, allow = Some(gen.assets.take(4))),
    ReadingsAdapter.config(1.0, 0.0, enable = false),
    ReadingsAdapter.config(0.5, 1.0))
  private def expected(id: Long, c: ReadingsAdapter.Config): Double =
    if (!c.enable) gen.value(id) else gen.value(id) * c.scale + c.offset
  private def allowed(asset: String, c: ReadingsAdapter.Config): Boolean =
    !c.enable || c.assetAllowlist.forall(_.contains(asset))

  // ---- phase plan: ids are contiguous and each reading is a function of its id
  private var nextId = 0L
  @volatile private var fixedFirst = Long.MaxValue
  @volatile private var fixedEnd = Long.MaxValue
  @volatile private var fixedStartNs = 0L
  @volatile private var fixedStartMicros = 0L
  private def inFixed(id: Long) = id >= fixedFirst && id < fixedEnd
  private def malformed(id: Long): Boolean = inFixed(id) && {
    val period = MalformedPeriodS * Rate
    (id - fixedFirst) % period == period / 2
  }
  private def dueNs(id: Long): Long = fixedStartNs + (id - fixedFirst) * 1000000000L / Rate
  private def dueMicros(id: Long): Long = fixedStartMicros + (id - fixedFirst) * 1000000L / Rate

  // ---- written by the stream thread, read after the query drains
  @volatile private var mode = 0 // 0 set-up, 1 fixed rate, 2 saturated
  @volatile private var recording = false // a timed pass, not a warm-up
  @volatile private var inForce = configs.head
  private var cell: ReadingsAdapter.Cell = _
  private var fixedHi = -1L // newest reading delivered in the fixed phase
  private var swapPeriod = 1L // readings per config in the fixed phase
  /** The config swapped out, until a delivered batch shows the new one. */
  private var pendingSwap = Option.empty[(ReadingsAdapter.Config, Long)]
  private val swapLags = ArrayBuffer.empty[Double]
  private val latencies = ArrayBuffer.empty[(Double, Boolean)] // (ms, traced)
  private val guardMs = ArrayBuffer.empty[Double]
  private val planMs = ArrayBuffer.empty[Double]
  private val tracedFixed = mutable.LinkedHashMap.empty[Long, Span] // batch id -> span
  private val tracedSat = mutable.LinkedHashMap.empty[Long, Span]
  private val oldestDueMs = mutable.LongMap.empty[Double]
  private val ranges = ArrayBuffer.empty[(Long, Long, Long, ReadingsAdapter.Config)]
  private val deliveredIds = mutable.BitSet.empty
  private var malformedBatches = 0L
  private var intactPassthroughs = 0L
  private var attempted = 0L
  private var failedOps = 0L
  private val failures = ArrayBuffer.empty[String]
  private val satDeliveries = ArrayBuffer.empty[(Long, Long, Cpu.Mark)] // (end ns, rows, CPU)
  /** (CPU ms, passthrough) of each untraced fixed-rate trigger: engine CPU
    * from one batch's delivery to the next, so each sample holds one whole
    * trigger with its commit.
    */
  private val fixedCpu = ArrayBuffer.empty[(Double, Boolean)]
  private var lastCpu = Option.empty[Cpu.Mark]
  private var lastPassthrough = false
  private val batchMs = ArrayBuffer.empty[(Int, Double)] // (mode, batch wall ms)
  private var satLastMax = -1L
  private val satDelivered = new AtomicLong(0)
  private val satPushed = new AtomicLong(0)
  /** Rows pushed before the running trigger's callback began: every one of
    * them is taken or delivered, so `satPushed - satTaken` is queued.
    */
  private val satTaken = new AtomicLong(0)
  /** (end ns, rows queued beyond the batch) at each saturated trigger's end. */
  private val satQueued = ArrayBuffer.empty[(Long, Long)]

  private def fail(msg: String): Unit = if (failures.size < 20) failures += msg

  private def deliver(out: DataFrame, b: Long): Unit = {
    val m = mode
    val traced = tr.enabled
    val taken = satPushed.get
    if (m == 2) satTaken.set(taken)
    attempted += 1
    val (ok, span) = tr.span("batch") {
      var res: DataFrame = null
      try {
        val (r, gMs) = tr.timed("guard")(ReadingsAdapter.guard { o =>
          val (p, pMs) = tr.timed("plan")(ReadingsAdapter.pipeline(o))
          planMs += pMs; p
        }(out))
        res = r
        guardMs += gMs
        tr.span("sink")(if (m == 2) saturatedSink(res, b) else fixedSink(res, b, traced))._1
      } catch {
        case e: Exception => fail(s"batch $b threw ${e.getMessage}"); false
      } finally if (res != null) res.unpersist() // the caller's duty: release what guard returns
    }
    if (m == 2 && recording) satQueued += ((System.nanoTime(), satPushed.get - taken))
    if (m == 1 && recording && !traced) {
      val c = Cpu.mark()
      lastCpu.foreach(l => fixedCpu += ((Cpu.ms(l, c), lastPassthrough)))
      lastCpu = Some(c)
    }
    if (!ok) failedOps += 1
    if (recording) batchMs += ((m, span.ms))
    if (traced && m == 1) tracedFixed(b) = span
    if (traced && m == 2) tracedSat(b) = span
    if (m == 1 && fixedHi >= fixedFirst) {
      val next = configs((((fixedHi - fixedFirst) / swapPeriod) % configs.size).toInt)
      if (next != inForce) {
        cell.swap(next)
        if (pendingSwap.isEmpty) pendingSwap = Some((inForce, b))
        inForce = next
      }
    }
  }

  /** The config a batch ran under, read from its delivered rows: the newest
    * config that a swap may have put in force and that explains every row.
    */
  private def applied(rows: Array[Row], passthrough: Boolean): Option[ReadingsAdapter.Config] =
    (inForce +: pendingSwap.map(_._1).toSeq).find { c =>
      rows.forall { r =>
        val id = r.getLong(0)
        r.getDouble(if (passthrough) 6 else 1) == expected(id, c) &&
          allowed(r.getString(if (passthrough) 3 else 2), c)
      }
    }

  /** Collects the batch and checks every row against the generator. */
  private def fixedSink(res: DataFrame, b: Long, traced: Boolean): Boolean = {
    val passthrough = res.columns.contains("props")
    val rows: Array[Row] =
      if (passthrough) res.select("event_id", "ts", "user_id", "event_type", "value",
        "props", "scaled").collect()
      else res.select("id", "scaled", "assetCode").collect()
    lastPassthrough = passthrough
    Cpu.excluded(checkFixed(rows, passthrough, b, traced))
  }

  private def checkFixed(rows: Array[Row], passthrough: Boolean, b: Long,
      traced: Boolean): Boolean = {
    val now = System.nanoTime()
    val cfg = applied(rows, passthrough).getOrElse(inForce)
    var ok = true
    var hasBad = false
    var lo = Long.MaxValue; var hi = Long.MinValue
    rows.foreach { r =>
      val id = r.getLong(0)
      lo = math.min(lo, id); hi = math.max(hi, id)
      val bad = malformed(id)
      hasBad ||= bad
      val scaled = r.getDouble(if (passthrough) 6 else 1)
      val asset = r.getString(if (passthrough) 3 else 2)
      if (asset != gen.asset(id, bad) || !allowed(asset, cfg) || scaled != expected(id, cfg)) {
        ok = false; fail(s"batch $b row $id: asset $asset scaled $scaled under $cfg")
      }
      if (passthrough) {
        val ts = r.getTimestamp(1)
        val micros = Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
        if (!inFixed(id) || micros != dueMicros(id) || r.getLong(2) != gen.user(id) ||
            r.getDouble(4) != gen.value(id) || r.getString(5) != gen.props(id, bad)) {
          ok = false; fail(s"batch $b row $id: passthrough row differs from its input")
        }
      }
      if (deliveredIds(id.toInt)) { ok = false; fail(s"batch $b row $id delivered twice") }
      deliveredIds += id.toInt
      if (recording && inFixed(id)) latencies += (((now - dueNs(id)) / 1e6, traced))
    }
    if (passthrough && !hasBad) { ok = false; fail(s"batch $b: clean batch passed through") }
    if (hasBad) {
      malformedBatches += 1
      if (!passthrough) { ok = false; fail(s"batch $b: malformed batch was not passed through") }
      else if (ok) intactPassthroughs += 1
    }
    if (rows.nonEmpty) {
      ranges += ((b, lo, hi, cfg))
      fixedHi = math.max(fixedHi, hi)
      if (inFixed(lo)) oldestDueMs(b) = tr.epochMs(dueNs(lo))
      if (cfg == inForce) pendingSwap.foreach { case (_, at) =>
        swapLags += (b - at).toDouble; pendingSwap = None
      }
    }
    ok
  }

  /** Counting sink for the saturated phase: one aggregate per batch, checked
    * against the generator's sum over the batch's contiguous id range.
    */
  private def saturatedSink(res: DataFrame, b: Long): Boolean = {
    if (res.columns.contains("props")) { fail(s"saturated batch $b passed through"); return false }
    val r = res.agg(count(lit(1)), min("id"), max("id"), sum("scaled")).head()
    val now = System.nanoTime()
    val n = r.getLong(0)
    satDelivered.addAndGet(n)
    if (recording) satDeliveries += ((now, n, Cpu.mark()))
    if (n == 0) true else Cpu.excluded(checkSaturated(r, n, b))
  }

  private def checkSaturated(r: Row, n: Long, b: Long): Boolean = {
    val (lo, hi, got) = (r.getLong(1), r.getLong(2), r.getDouble(3))
    var want = 0.0; var comp = 0.0 // Kahan sum of the expected values
    var id = lo
    while (id <= hi) {
      val y = expected(id, configs.head) - comp
      val t = want + y; comp = (t - want) - y; want = t; id += 1
    }
    val ok = n == hi - lo + 1 && (satLastMax < 0 || lo == satLastMax + 1) &&
      math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want))
    if (!ok) fail(s"saturated batch $b: n=$n ids [$lo, $hi] after $satLastMax, sum $got vs $want")
    satLastMax = hi
    ok
  }

  private def push(stream: MemoryStream[Ev], rows: Seq[Ev]): Unit = { stream.addData(rows); () }

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => { Cpu.skipThread(); body }, name); t.setDaemon(true); t.start(); t
  }

  def run(): Outcome = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    // ---- set-up, repeated: a fresh query that delivers a first batch
    var stream: MemoryStream[Ev] = null
    var query: StreamingQuery = null
    val setupS = (1 to ctx.setupReps).map { rep =>
      val t0 = System.nanoTime()
      stream = MemoryStream[Ev](spark, parts)
      cell = ReadingsAdapter.cell(configs.head)
      query = ReadingsAdapter.start(stream.toDF(), cell)(deliver)
      val nowMicros = System.currentTimeMillis() * 1000
      push(stream, (0 until WarmRows).map(i => gen.row(nextId + i, nowMicros, malformed = false)))
      nextId += WarmRows
      query.processAllAvailable()
      val s = (System.nanoTime() - t0) / 1e9
      if (rep < ctx.setupReps) query.stop()
      s
    }

    // ---- warm-up: one untimed pass of each phase, so timing starts warm;
    // the fixed-rate pass comes last, right before the timed one
    saturatedPhase(stream, query, WarmSaturatedS, recording = false)
    fixedPhase(stream, query, WarmFixedS, recording = false)

    val lateness = fixedPhase(stream, query, ctx.seconds * FixedShare, recording = true)
    val satEnd = saturatedPhase(stream, query, ctx.seconds * (1 - FixedShare), recording = true)
    query.stop()
    if (satDelivered.get != satPushed.get)
      fail(s"saturated phase delivered ${satDelivered.get} of ${satPushed.get} readings")
    outcome(setupS, lateness, satEnd)
  }

  /** Open loop at `Rate` for `seconds`, from the first config of the swap
    * cycle, until every reading is delivered; returns the generator's
    * lateness per push (ms). When tracing, the listeners attach halfway
    * through a recording pass.
    */
  private def fixedPhase(stream: MemoryStream[Ev], query: StreamingQuery, seconds: Double,
      recording: Boolean): Seq[Double] = {
    val n = (Rate * seconds).toLong
    fixedFirst = nextId; fixedEnd = nextId + n
    fixedStartNs = System.nanoTime() + 20000000L
    fixedStartMicros = (tr.epochMs(fixedStartNs) * 1000).toLong
    fixedHi = -1L; pendingSwap = None; lastCpu = None
    swapPeriod = math.max(1L, n / configs.size)
    cell.swap(configs.head); inForce = configs.head
    this.recording = recording
    mode = 1
    val lateness = ArrayBuffer.empty[Double]
    thread("readings-generator") {
      var j = 0L; var lastPush = 0L
      while (j < n) {
        val target = math.max(dueNs(fixedFirst + j), lastPush + MinPushGapNs)
        var now = System.nanoTime()
        while (now < target) { LockSupport.parkNanos(target - now); now = System.nanoTime() }
        if (recording && ctx.meters.isDefined && !tr.enabled && j >= n / 2) {
          ctx.meters.foreach(_.attach()); tr.enabled = true
        }
        val jEnd = math.min(n, (now - fixedStartNs) * Rate / 1000000000L + 1)
        val ids = fixedFirst + j until fixedFirst + jEnd
        push(stream, ids.map(id => gen.row(id, dueMicros(id), malformed(id))))
        lateness += (now - dueNs(ids.head)) / 1e6
        lastPush = now; j = jEnd
      }
    }.join()
    query.processAllAvailable()
    nextId = fixedEnd
    checkComplete()
    lateness.toSeq
  }

  /** Saturated closed loop for `seconds` under the first config, then a
    * drain; returns the end of the window (ns). The generator refills the
    * queue while a trigger runs, so the next trigger finds it full.
    */
  private def saturatedPhase(stream: MemoryStream[Ev], query: StreamingQuery, seconds: Double,
      recording: Boolean): Long = {
    pendingSwap = None
    cell.swap(configs.head); inForce = configs.head
    satPushed.set(0); satDelivered.set(0); satTaken.set(0); satLastMax = -1L
    this.recording = recording
    mode = 2
    val end = System.nanoTime() + (seconds * 1e9).toLong
    thread("readings-saturator") {
      while (System.nanoTime() < end) {
        if (satPushed.get - satTaken.get < InFlight.toLong * Chunk) {
          // the first push fills the whole window at once, so the first
          // trigger already takes a full batch
          val rows = if (satPushed.get == 0) InFlight * Chunk else Chunk
          val micros = System.currentTimeMillis() * 1000
          val from = nextId
          push(stream, (from until from + rows).map(id => gen.row(id, micros, malformed = false)))
          nextId += rows
          satPushed.addAndGet(rows)
        } else LockSupport.parkNanos(1000000L)
      }
    }.join()
    query.processAllAvailable()
    end
  }

  /** Every fixed-phase reading was delivered, or was filtered out by the
    * allowlist of a config in force around its position.
    */
  private def checkComplete(): Unit = {
    val rs = ranges.filter(r => inFixed(r._2)).sortBy(_._1)
    var lost = 0L
    var id = fixedFirst
    while (id < fixedEnd) {
      if (!deliveredIds(id.toInt)) {
        val prev = rs.lastIndexWhere(_._3 < id)
        val next = rs.indexWhere(_._2 > id)
        val around = rs.slice(math.max(0, prev), if (next < 0) rs.size else next + 1)
        if (!around.exists(r => !allowed(gen.asset(id, malformed(id)), r._4))) {
          lost += 1; fail(s"reading $id was neither delivered nor filtered")
        }
      }
      id += 1
    }
    if (lost > 0) failedOps += 1
  }

  private def outcome(setupS: Seq[Double], lateness: Seq[Double], satEnd: Long): Outcome = {
    val untraced = latencies.filterNot(_._2).map(_._1).toSeq
    val traced = latencies.filter(_._2).map(_._1).toSeq
    val sat = satDeliveries.toSeq.sortBy(_._1)
    val inWindow = sat.filter(_._1 <= satEnd)
    def rate(seconds: => Double) =
      if (inWindow.size < 2) Double.NaN else inWindow.tail.map(_._2).sum / seconds
    val perS = rate((inWindow.last._1 - inWindow.head._1) / 1e9)
    val perCpuS = rate(Cpu.ms(inWindow.head._3, inWindow.last._3) / 1e3)
    val queued = satQueued.filter(_._1 <= satEnd).map(_._2).toSeq
    if (queued.isEmpty || queued.min <= 0)
      fail(s"saturated phase: the queue held ${if (queued.isEmpty) 0 else queued.min} rows " +
        "at a trigger's end, so the generator, not the engine, set the rate")
    val named = Seq(
      "setup_s" -> (Stats.median(setupS), "s"),
      "reading_latency_p50_ms" -> (Stats.median(untraced), "ms"),
      "reading_latency_p90_ms" -> (Stats.pct(untraced, 90), "ms"),
      "reading_latency_p99_ms" -> (Stats.pct(untraced, 99), "ms"),
      "readings_per_s" -> (perS, "readings/s"),
      "batch_cpu_ms" -> (Stats.median(fixedCpu.filterNot(_._2).map(_._1).toSeq), "ms"),
      "passthrough_batch_cpu_ms" ->
        (Stats.median(fixedCpu.filter(_._2).map(_._1).toSeq), "ms"),
      "readings_per_cpu_s" -> (perCpuS, "readings/s"))
    val layers = ctx.meters.map { m =>
      val triggers = m.stream.all
      def trig(ids: collection.Set[Long]) = triggers.filter(t => ids.contains(t.batchId))
      val fixedT = trig(tracedFixed.keySet)
      def dur(k: String) = Stats.median(fixedT.map(_.durations.getOrElse(k, 0L).toDouble))
      val fixedOps = m.perOp(tr, tracedFixed.values.toSeq)
      val satOps = m.perOp(tr, tracedSat.values.toSeq)
      fixedOps ++ Seq("spark.executor_run_s", "spark.input_rows", "spark.task_skew")
        .map(k => k -> satOps(k)) ++ Map(
        "streaming.trigger_ms" -> dur("triggerExecution"),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.queue_wait_ms" -> Stats.median(fixedT.flatMap(t =>
          oldestDueMs.get(t.batchId).map(t.startMs - _))),
        "streaming.batch_rows" -> Stats.median(fixedT.map(_.rows.toDouble)),
        "trace.overhead_ms" -> (Stats.median(traced) - Stats.median(untraced)))
    }.getOrElse(Map.empty)
    Outcome(
      named = named.toMap,
      perLayer = layers ++ Map(
        "streaming.backlog_rows_max" -> (if (queued.isEmpty) 0.0 else queued.max.toDouble),
        "streaming.guard_ms" -> Stats.median(guardMs.toSeq),
        "streaming.passthrough_ratio" ->
          (if (malformedBatches == 0) Double.NaN else intactPassthroughs.toDouble / malformedBatches),
        "streaming.swap_lag_batches" -> Stats.median(swapLags.toSeq),
        "ops.plan_ms" -> Stats.median(planMs.toSeq)),
      detail = Seq(
        "samples" -> Map("readings_fixed_untraced" -> untraced.size,
          "readings_fixed_traced" -> traced.size, "saturated_batches" -> sat.size,
          "fixed_batches_cpu" -> fixedCpu.count(!_._2),
          "passthrough_batches_cpu" -> fixedCpu.count(_._2),
          "setup_reps" -> setupS.size),
        "setup_reps_s" -> setupS,
        "batch_cpu_ms" -> fixedCpu.map(_._1).toSeq,
        "batch_ms" -> Map("fixed" -> batchMs.filter(_._1 == 1).map(_._2).toSeq,
          "saturated" -> batchMs.filter(_._1 == 2).map(_._2).toSeq),
        "generator_lateness_ms" -> Map("p50" -> Stats.median(lateness),
          "p99" -> Stats.pct(lateness, 99), "max" -> (if (lateness.isEmpty) 0.0 else lateness.max)),
        "saturated_queued_rows" -> queued,
        "saturated_batch_rows" -> sat.map(_._2),
        "malformed_batches" -> malformedBatches,
        "intact_passthroughs" -> intactPassthroughs,
        "config_swaps" -> swapLags.size,
        "generator" -> Map("rate_per_s" -> Rate, "asset_codes" -> gen.assets,
          "asset_weights" -> gen.weights, "asset_zipf_s" -> gen.skew,
          "malformed_share" -> 1.0 / (MalformedPeriodS * Rate),
          "config_share_of_phase" -> 1.0 / configs.size, "saturated_chunk_rows" -> Chunk,
          "saturated_in_flight_chunks" -> InFlight)),
      attempted = attempted,
      failed = failedOps,
      checks = Seq(("readings_stream: delivered values, passthroughs and completeness",
        failures.isEmpty, failures.take(5).mkString("; "))))
  }
}
