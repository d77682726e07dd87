package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run in one JVM:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --cache <dir> --out <file> [--threads <n>]`.
  * `--work` is scratch space for this run; `--cache` keeps what runs may
  * share (the load sentinel's table, which no seed changes).
  * Writes the run record (metrics with units, checks, generator properties,
  * load sentinel) as JSON to `--out`; with tracing, the spans go beside it
  * as JSON lines. The exit code is 0 when every output check passed.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "readings_stream" -> ReadingsStream.run,
    "cc_maintenance" -> CcMaintenance.run,
    "ann_serving" -> AnnServing.run)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = need("work")
    val threads = opt.get("threads").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/rdd-checkpoints")

    val tracer = new Tracer(enabled = false)
    val meters = if (trace) Some(new Meters(spark)) else None
    val mark = new Marks
    val sentinel = new Sentinel(spark, need("cache"), work)
    mark("sentinel_table")
    val calStart = sentinel.probe()
    mark("sentinel_start")
    val steal0 = Steal.sample()
    val out = run(Ctx(spark, seed, seconds, tracer, meters, work, SetupReps))
    val steal = Steal.share(steal0, Steal.sample())
    mark("workload")
    meters.foreach(_.detach())
    // cached blocks the run left registered: the workload releases what the
    // library hands back, so any other entry is the library's
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val heapMb = retainedHeapMb()
    val calEnd = sentinel.probe()
    mark("heap_and_sentinel_end")
    if (trace) tracer.writeJsonl(need("out").stripSuffix(".json") + ".spans.jsonl")

    val correct = out.checks.forall(_._2)
    val named = out.named ++ Map(
      "retained_heap_mb" -> (heapMb, "MB"),
      "failed_ratio" -> (out.failed.toDouble / out.attempted, "ratio"))
    val record = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "threads" -> threads,
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> named.map { case (k, (v, unit)) => k -> Map("value" -> v, "unit" -> unit) },
      "per_layer" -> (if (trace) out.perLayer ++ tracer.selfTimesMs.map {
        case (k, v) => s"self.$k" -> v } + ("spark.persisted_rdds" -> persisted.toDouble)
        else Map.empty[String, Double]),
      "persisted_rdds" -> persisted,
      "checks" -> out.checks.map { case (name, ok, msg) =>
        Map("check" -> name, "ok" -> ok, "detail" -> msg) },
      "session_s" -> sessionS,
      "host_steal_share" -> steal,
      "phase_s" -> mark.all,
      "load_sentinel_s" -> Map("start" -> calStart, "end" -> calEnd,
        "min" -> math.min(calStart, calEnd),
        "spread" -> math.max(calStart, calEnd) / math.min(calStart, calEnd)),
      "detail" -> out.detail.toMap))
    val w = new java.io.PrintWriter(need("out"), "UTF-8")
    try w.println(record) finally w.close()
    spark.stop()
    out.checks.filterNot(_._2).foreach { case (name, _, msg) =>
      System.err.println(s"CHECK FAILED: $name: $msg")
    }
    System.exit(if (correct) 0 else 1)
  }

  /** Heap in use after forced full collections, once it stops falling:
    * Spark's ContextCleaner frees unreachable checkpoint and broadcast
    * blocks asynchronously after a collection, so one collection can still
    * count blocks that are already garbage.
    */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used(): Double = {
      System.gc(); Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var last = used()
    var next = used()
    var rounds = 2
    while (rounds < 10 && last - next > 0.5) { last = next; next = used(); rounds += 1 }
    next
  }
}

/** Wall time of consecutive phases of a run. */
final class Marks {
  private var last = System.nanoTime()
  private val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def apply(name: String): Unit = {
    val now = System.nanoTime(); marks(name) = (now - last) / 1e9; last = now
  }
  def all: Map[String, Double] = marks.toMap
}

/** Load sentinel, as `Bench`'s calibration probe: the time of a fixed
  * cheap aggregate (read `lineitem.parquet`, `l_returnflag` rollup), min of
  * 5, before the workload's set-up and at the end of a run. The table does
  * not depend on the seed and is generated once per checkout. It reads with
  * plain `spark.read.parquet`, so no library code is in what it times. A
  * spread between the two marks a run on a contended machine; the figures
  * are recorded, never applied to a metric.
  */
final class Sentinel(spark: SparkSession, cache: String, work: String) {
  private val Rows = 20000
  private val path = {
    val table = new java.io.File(cache, s"sentinel/lineitem-$Rows.parquet")
    if (!table.exists) { // written once per checkout, then moved into place whole
      val tmp = Inputs.lineitem(spark, 0L, Rows, s"$work/sentinel")
      table.getParentFile.mkdirs()
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp), table.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    table.getPath
  }
  private def once(): Double = {
    val t0 = System.nanoTime()
    spark.read.parquet(path).groupBy("l_returnflag").agg(sum("l_quantity"), count(lit(1)))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }
  private var warm = false
  /** Min of 5. The first call first runs the probe until two consecutive
    * runs sit within 10% of the best (at most 4 runs), so the first
    * reading does not carry the aggregate's JIT compilation.
    */
  def probe(): Double = {
    if (!warm) {
      var best = Double.MaxValue; var steady = 0; var n = 0
      while (steady < 2 && n < 4) {
        val t = once(); n += 1
        steady = if (best < Double.MaxValue && t <= best * 1.1 && t >= best / 1.1) steady + 1 else 0
        best = math.min(best, t)
      }
      warm = true
    }
    (1 to 5).map(_ => once()).min
  }
}
