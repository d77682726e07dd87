package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session: one per suite (lazy), UTC, small shuffle width. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Data files a plan's scans actually read (collect to settle AQE +
    * populate metrics, unwrap AdaptiveSparkPlanExec, sum the leaves'
    * numFiles) — the partition-pruning assertion shared by the q244 /
    * q254 / edge-bucket / pair-bucket specs (one implementation, r18
    * review: a Spark plan-shape change must be fixed in ONE place).
    */
  def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, s"no FileSourceScan in:\n$plan")
    scans.map(_.metrics("numFiles").value).sum
  }

  /** The reference answer of incremental CC maintenance: the full
    * rebuild — connected components of the whole corpus's k-shingle
    * Jaccard graph — plus a self-label for each batch doc that never
    * pairs (a maintenance step labels every batch doc; the rebuild labels
    * only pair endpoints). Batch-boundary independence makes this every
    * maintenance loop's final label table, however the ingest splits.
    * `docs` is the whole corpus, batch docs included; `batch` holds the
    * streamed docs' `doc_id`s. Sorted (id, label) pairs.
    */
  def ccRebuildLabels(docs: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame, k: Int = 3,
      threshold: Double = 0.5): Seq[(Long, Long)] = {
    import graft.ext.Dedup
    val comp = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", k, threshold))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(comp.nonEmpty, "fixture produced no components")
    val compIds = comp.map(_._1).toSet
    val singles = batch.select("doc_id").collect().map(_.getLong(0))
      .filterNot(compIds).map(id => (id, id))
    (comp ++ singles).sorted.toSeq
  }

  /** The latest-wins merge as a per-id ranking: each id's row from the
    * largest live epoch, picked by a `row_number` window over the live
    * deltas, and the winners' ids anti-joined out of the base. The
    * reference [[graft.util.GenStore.latestWinsView]]'s anti-join is
    * compared with (it is how that view was written before).
    */
  def latestWinsByWindow(store: graft.util.GenStore, bound: Long,
      idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val g = store.latestCompleteBase(bound)
    val base = store.read(spark, store.basePath(g))
    val live = store.completeDeltaEpochs(g, bound)
    if (live.isEmpty) base
    else {
      val latest = store.read(spark, store.deltaDir)
        .filter(col(store.deltaCol).isin(live: _*))
        .withColumn("rn", row_number().over(Window.partitionBy(idCol)
          .orderBy(col(store.deltaCol).desc)))
        .filter(col("rn") === 1).drop("rn", store.deltaCol)
      base.join(latest.select(idCol), Seq(idCol), "left_anti")
        .unionByName(latest)
    }
  }

  /** Parquet data files under `dir` (partition subdirectories included)
    * and their total bytes.
    */
  def dataFiles(dir: String): (Long, Long) =
    scala.util.Using.resource(java.nio.file.Files.walk(
        java.nio.file.Paths.get(dir))) { w =>
      import scala.jdk.CollectionConverters._
      val fs = w.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      (fs.size.toLong, fs.map(java.nio.file.Files.size(_)).sum)
    }

  /** Pins a maintenance demo's bench depth to its full depth: the
    * registered `benchFn` (one trigger, production fold cadence, no kill
    * leg) serves exactly the rows, in order, that `fn` serves on `dir` —
    * the batch-boundary independence that lets Bench time the cheaper
    * depth.
    */
  def assertBenchDepthMatchesFull(name: String, dir: String): Unit = {
    val d = SparkEntry.allDefs.find(_.name == name)
      .getOrElse(fail(s"no query named $name"))
    val benchFn = d.benchFn.getOrElse(fail(s"$name has no benchFn"))
    def rows(f: (SparkSession, String) => org.apache.spark.sql.DataFrame) =
      f(spark, dir).collect().map(_.mkString("|")).toSeq
    val full = rows(d.fn)
    val bench = rows(benchFn)
    assert(bench.nonEmpty && bench == full,
      s"$name: bench-depth output diverged from full depth " +
        s"(${bench.size} vs ${full.size} rows)")
  }

  /** Runs `body` with `.pin()` in reliable mode against a fresh checkpoint
    * dir, which `body` is passed; local mode is restored and the dir
    * deleted afterwards.
    */
  def inReliableMode[A](body: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_reliable")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(graft.util.Pin.ModeConf, "reliable")
    try body(dir)
    finally {
      spark.conf.unset(graft.util.Pin.ModeConf)
      graft.util.Dirs.rmTree(dir.toString)
    }
  }

  /** What reliable pins hold under checkpoint dir `dir`: its `rdd-*` dirs
    * and every file, as paths relative to `dir`, sorted.
    */
  def checkpointEntries(dir: java.nio.file.Path): Seq[String] =
    scala.util.Using.resource(java.nio.file.Files.walk(dir)) { w =>
      import scala.jdk.CollectionConverters._
      w.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) ||
          p.getFileName.toString.startsWith("rdd-"))
        .map(dir.relativize(_).toString).toSeq.sorted
    }

  /** A frame's rows as sorted strings (column order kept). */
  def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).sorted.toSeq

  /** `f`'s result and the Spark jobs it launched, on any thread. A
    * listener counts job starts between two marker jobs: the listener bus
    * delivers in order, so every job `f` submitted arrives between the
    * markers' starts (job counts of a fixed plan on a fixed fixture are
    * deterministic).
    */
  def withJobCount[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = s"job-count-marker-${System.nanoTime()}"
    val markers = new java.util.concurrent.Semaphore(0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == marker)) {
          counting = !counting; markers.release()
        } else if (counting) { jobs.incrementAndGet(); () }
    }
    def markerJob(): Unit = {
      sc.setJobGroup(marker, "job-count marker")
      try { sc.parallelize(Seq(1), 1).count(); () } finally sc.clearJobGroup()
      assert(markers.tryAcquire(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the marker job")
    }
    sc.addSparkListener(listener)
    try {
      markerJob()
      val out = f
      markerJob()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
