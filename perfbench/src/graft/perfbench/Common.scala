package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

object Stats {
  /** Nearest-rank percentile (p in 0..100) of an unsorted sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Minimal JSON writer for the result record (no external JSON library). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

/** A deterministic stream of pseudo-random numbers keyed by (seed, stream,
  * index): any generated item is a pure function of its key, so the output
  * checks recompute expectations from an id without storing the inputs.
  */
object Rand {
  def mix(x0: Long): Long = { // splitmix64 finalizer
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def long(seed: Long, stream: Long, i: Long): Long = mix(mix(mix(seed) ^ stream) ^ i)
  /** Uniform in [0, 1). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (long(seed, stream, i) >>> 11) * (1.0 / (1L << 53))
  def int(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(long(seed, stream, i), n.toLong).toInt
  def gaussian(seed: Long, stream: Long, i: Long): Double = {
    val u1 = math.max(unit(seed, stream, 2 * i), 1e-12)
    val u2 = unit(seed, stream, 2 * i + 1)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}

/** CPU time of the engine's work: the CPU time of the JVM's Java threads,
  * less that of the benchmark's generator threads and of its output checks.
  * The kernel leaves out of a thread's CPU time the time the hypervisor ran
  * other tenants on its core (steal), so on a shared host this moves far
  * less with the neighbours' load than wall time does. The JVM's
  * own JIT compiler and GC threads are not Java threads and are not
  * counted: JIT compilation goes on for minutes and its share varies from
  * run to run.
  */
object Cpu {
  private val mx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val skipped = ConcurrentHashMap.newKeySet[java.lang.Long]()
  private val open = new ConcurrentHashMap[java.lang.Long, java.lang.Long] // thread -> CPU at entry
  private val closed = new AtomicLong

  /** CPU ns per live thread, and the excluded blocks' CPU ns so far. */
  final case class Mark(threads: Map[Long, Long], excluded: Long)

  /** Leaves the calling thread out of every later [[mark]]. */
  def skipThread(): Unit = skipped.add(Thread.currentThread.getId)

  /** Runs `body` with the calling thread's CPU time left out; blocks do
    * not nest.
    */
  def excluded[A](body: => A): A = {
    val id = Thread.currentThread.getId
    val t0 = mx.getCurrentThreadCpuTime
    open.put(id, t0)
    try body finally {
      val d = mx.getCurrentThreadCpuTime - t0
      open.remove(id); closed.addAndGet(d)
    }
  }

  def mark(): Mark = {
    val ids = mx.getAllThreadIds.filterNot(id => skipped.contains(id))
    val cpu = mx.getThreadCpuTime(ids)
    val threads = ids.indices.collect { case i if cpu(i) >= 0 => ids(i) -> cpu(i) }.toMap
    var ex = closed.get
    open.forEach((id, t0) => threads.get(id).foreach(c => ex += math.max(0L, c - t0)))
    Mark(threads, ex)
  }

  /** CPU ms between two marks. A thread that ended in between loses what
    * it used since `from`; a thread that started counts from zero.
    */
  def ms(from: Mark, to: Mark): Double =
    (to.threads.iterator.map { case (id, c) => c - from.threads.getOrElse(id, 0L) }.sum -
      (to.excluded - from.excluded)) / 1e6

  /** (result, CPU ms) of `body`; meant for calls nothing else overlaps. */
  def timed[A](body: => A): (A, Double) = {
    val m0 = mark(); val r = body; (r, ms(m0, mark()))
  }
}

/** Share of the VM's CPU time the hypervisor gave to other tenants (steal),
  * from `/proc/stat`; NaN where that file is missing.
  */
object Steal {
  def sample(): Option[(Long, Long)] = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    val v = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
    (v.sum, v(7))
  }.toOption
  def share(from: Option[(Long, Long)], to: Option[(Long, Long)]): Double = (from, to) match {
    case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
    case _ => Double.NaN
  }
}

/** What a workload run hands back to [[Main]]. */
final case class Outcome(
    named: Map[String, (Double, String)], // name -> (value, unit)
    perLayer: Map[String, Double],
    detail: Seq[(String, Any)],
    attempted: Long,
    failed: Long,
    checks: Seq[(String, Boolean, String)])

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    tracer: Tracer, meters: Option[Meters], work: String, setupReps: Int) {
  def dir(name: String): String = {
    val d = new java.io.File(work, name); d.mkdirs(); d.getPath
  }
}

object Files {
  /** (file count, MB) of every regular file under `root`. */
  def usage(root: String): (Long, Double) = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) (0L, 0.0)
    else scala.util.Using.resource(java.nio.file.Files.walk(p)) { w =>
      import scala.jdk.CollectionConverters._
      val fs = w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).toSeq
      (fs.size.toLong, fs.sum / (1024.0 * 1024.0))
    }
  }
}
