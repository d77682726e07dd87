package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call: `op` groups the spans of one operation (a batch, an
  * epoch, a search, an append); `parent` is the enclosing span (0 = none).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. While `enabled` is false every `span` call is a plain
  * timed call and nothing is recorded, so untraced runs pay only
  * `System.nanoTime`. Spans are held in memory and written at the end.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[(Long, Long)] { // (span id, op id)
    override def initialValue(): (Long, Long) = (0L, 0L)
  }
  /** Clock origin shared with Spark's listener events (epoch millis). */
  val originNs: Long = System.nanoTime()
  val originMs: Double = System.currentTimeMillis().toDouble
  def epochMs(ns: Long): Double = originMs + (ns - originNs) / 1e6

  /** Time `f` as span `name`; a top-level span opens a new operation. */
  def span[A](name: String)(f: => A): (A, Span) = {
    val (parent, parentOp) = current.get
    val id = ids.incrementAndGet()
    val op = if (parent == 0L) id else parentOp
    if (enabled) current.set((id, op))
    val t0 = System.nanoTime()
    try {
      val r = f
      val s = Span(id, parent, op, name, t0, System.nanoTime())
      if (enabled) spans.add(s)
      (r, s)
    } finally if (enabled) current.set((parent, parentOp))
  }

  def timed[A](name: String)(f: => A): (A, Double) = {
    val (r, s) = span(name)(f); (r, s.ms)
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time per span name: duration minus the part its children cover. */
  def selfTimesMs: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
        (s.endNs - s.startNs - Intervals.unionLength(kids)) / 1e6
      }.sum
    }
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> epochMs(s.startNs),
        "end_ms" -> epochMs(s.endNs))))
    } finally w.close()
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark runtime counts per job, stage and task, gathered by a listener and
  * attributed afterwards to the operation whose span window holds each job's
  * start (one client issues one operation at a time, so windows are
  * disjoint).
  */
final class SparkMeter extends SparkListener {
  import SparkMeter._
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val submitted = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submitted.add(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks.add(Task(e.stageId, i.launchTime, i.finishTime,
      m.executorRunTime, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Wait until every started job has ended and the counts stop moving. */
  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    while (System.currentTimeMillis() < deadline && {
      val open = jobs.values.asScala.exists(_.end < 0)
      val n = tasks.size
      val moving = n != last; last = n
      open || moving
    }) Thread.sleep(200)
  }

  /** Per-operation counts over the window [fromMs, toMs] (epoch millis). */
  def window(fromMs: Double, toMs: Double): Map[String, Double] = {
    val js = jobs.values.asScala.filter(j => j.start >= fromMs && j.start <= toMs).toSeq
    val stageSet = js.flatMap(_.stages).toSet
    val ran = submitted.asScala.filter(stageSet).toSet
    val ts = tasks.asScala.filter(t => ran(t.stage)).toSeq
    val jobUnion = Intervals.unionLength(js.map(j =>
      (j.start, if (j.end < 0) toMs.toLong else j.end)))
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val d = st.map(t => (t.finish - t.launch).toDouble).sorted
      d.last / math.max(1.0, Stats.median(d))
    }
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ran.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.driver_gap_ms" -> math.max(0.0, toMs - fromMs - jobUnion),
      "spark.executor_run_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.input_rows" -> ts.map(_.rows).sum.toDouble,
      "spark.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "spark.shuffle_write_mb" -> ts.map(_.shWrite).sum / mb,
      "spark.shuffle_read_mb" -> ts.map(_.shRead).sum / mb,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb)
  }
}

object SparkMeter {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
      rows: Long, shWrite: Long, shRead: Long, spill: Long)
}

/** Per-trigger progress of a streaming query (addBatch, walCommit, ...). */
final class StreamMeter extends StreamingQueryListener {
  import StreamingQueryListener._
  import StreamMeter.Trigger
  private val triggers = new ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    triggers.add(Trigger(p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def all: Seq[Trigger] = triggers.asScala.toSeq
}

object StreamMeter {
  final case class Trigger(batchId: Long, startMs: Double, rows: Long,
      durations: Map[String, Long])
}

/** Listener lifecycle around a traced section. */
final class Meters(spark: SparkSession) {
  val spark_ = new SparkMeter
  val stream = new StreamMeter
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(spark_)
    spark.streams.addListener(stream)
  }
  def detach(): Unit = {
    spark_.settle()
    spark.sparkContext.removeSparkListener(spark_)
    spark.streams.removeListener(stream)
  }

  /** Median over the operations' spans of each Spark runtime count. */
  def perOp(tr: Tracer, ops: Seq[Span]): Map[String, Double] = {
    val per = ops.map(s => spark_.window(tr.epochMs(s.startNs), tr.epochMs(s.endNs)))
    per.flatMap(_.keys).distinct.map(k => k -> Stats.median(per.map(_(k)))).toMap
  }
}
