package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, explode, lit,
  sequence, sum, xxhash64}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.util.{Dirs, GenStore}

/** `GenStore.latestWinsView`'s epoch-ordered anti-join equals the per-id
  * ranking it replaced ([[SparkSpec.latestWinsByWindow]]) on the
  * shapes the merge must get right: one id rewritten in several live
  * deltas, a torn delta, a fold point that retires deltas, a store with no
  * declared schema, and the hinted and unhinted probes. Round16Spec runs
  * the same comparison over whole `ccStoreStep` streams.
  *
  * `GenStore.foldIfDue`, the fold-lag rule every epoch-lagged store
  * fold goes through: fold point E−1, a trigger over exactly the
  * complete deltas in (g, E), the re-delivered-epoch skip and the torn
  * base that does not count.
  *
  * The write path's file-count rule ([[GenStore.fileCount]]): a tiny
  * delta lands as one file, a pinned exploded frame whose plan estimate
  * undercounts it still lands as at least one file per target bytes, a
  * pinned join whose plan estimate overcounts it lands as one file, both
  * for local and for reliable checkpoints, and choosing the count
  * launches no job.
  */
class GenStoreMergeSpec extends SparkSpec {
  import spark.implicits._

  private val LabelSchema = StructType(
    Seq("id", "label").map(StructField(_, LongType)))

  private def tempRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_merge_$tag").toString

  /** Stage base g=-1 (ids 0..9 → 0) and three live deltas; id 1 is
    * rewritten in all three, ids 2..4 in one each, ids 20 and 21 are new.
    */
  private def stage(store: GenStore, valueCol: String): Unit = {
    def put(rows: Seq[(Long, Long)], path: String): Unit =
      rows.toDF("id", valueCol).write.parquet(path)
    put((0L until 10L).map((_, 0L)), store.basePath(-1))
    put(Seq((1L, 10L), (2L, 10L)), store.deltaPath(0))
    put(Seq((1L, 11L), (3L, 11L), (20L, 11L)), store.deltaPath(1))
    put(Seq((1L, 12L), (4L, 12L), (21L, 12L)), store.deltaPath(2))
  }

  private val broadcastHint: DataFrame => DataFrame = broadcast(_)

  /** Merge == ranking reference at every bound, hinted and unhinted. */
  private def assertSameAsWindow(store: GenStore, what: String): Unit =
    for (bound <- Seq(0L, 1L, 2L, 3L, Long.MaxValue);
         (hintName, hint) <- Seq("unhinted" -> identity[DataFrame] _,
           "broadcast" -> broadcastHint)) {
      val got = store.latestWinsView(spark, bound, "id", hint)
      val want = latestWinsByWindow(store, bound, "id")
      assert(got.columns.toSeq == want.columns.toSeq,
        s"$what bound=$bound $hintName: column order changed")
      assert(sortedRows(got) == sortedRows(want),
        s"$what bound=$bound $hintName: the merge diverged from the ranking")
    }

  test("latestWinsView's anti-join == the per-id ranking merge: one id " +
      "rewritten in three live deltas, every bound, hinted and unhinted; " +
      "resolving the declared-schema view launches no job, and a hinted " +
      "read launches one broadcast plus its own job however many deltas " +
      "are live") {
    val root = tempRoot("rewrite")
    try {
      val store = GenStore(s"$root/base", s"$root/upd", "g=", "batch=",
        Some(LabelSchema))
      stage(store, "label")
      assertSameAsWindow(store, "declared schema")
      for (live <- 1 to 3) {
        val (view, jobs) = withJobCount(
          store.latestWinsView(spark, live.toLong, "id", broadcastHint))
        assert(jobs == 0, s"resolving the view launched $jobs jobs")
        val (_, readJobs) = withJobCount(view.collect())
        assert(readJobs == 2,
          s"a read over $live live deltas launched $readJobs jobs")
      }
      val got = sortedRows(store.latestWinsView(spark, Long.MaxValue, "id"))
      // id 1 reads its newest row; ids 2..4 their one rewrite; 20, 21 new
      assert(got == ((0L until 10L).map {
        case 1L => "1,12"; case 2L => "2,10"; case 3L => "3,11"
        case 4L => "4,12"; case i => s"$i,0"
      } ++ Seq("20,11", "21,12")).sorted)
    } finally Dirs.rmTree(root)
  }

  test("latestWinsView == the ranking merge with a torn delta (no " +
      "_SUCCESS) and after a fold retires the deltas at or below it") {
    val root = tempRoot("torn")
    try {
      val store = GenStore(s"$root/base", s"$root/upd", "g=", "batch=",
        Some(LabelSchema))
      stage(store, "label")
      // a crashed epoch-3 write: rows for ids 1 and 5 with no _SUCCESS
      Seq((1L, 13L), (5L, 13L)).toDF("id", "label")
        .write.parquet(store.deltaPath(3))
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(store.deltaPath(3), "_SUCCESS"))
      assertSameAsWindow(store, "torn delta")
      assert(!sortedRows(store.latestWinsView(spark, Long.MaxValue, "id"))
        .exists(_.endsWith(",13")), "the torn delta leaked into the view")
      // fold epochs <= 1 into base g=1: deltas 0 and 1 leave the merge
      store.latestWinsView(spark, 2, "id").write.parquet(store.basePath(1))
      assertSameAsWindow(store, "after a fold")
    } finally Dirs.rmTree(root)
  }

  test("foldIfDue folds into g = E-1, shows its trigger exactly the " +
      "complete deltas in (g, E), skips a re-delivered E once a complete " +
      "base is at E-1, and re-runs over a torn base at E-1") {
    val root = tempRoot("fold")
    try {
      val store = GenStore(s"$root/base", s"$root/upd", "g=", "batch=",
        Some(LabelSchema))
      stage(store, "label") // base g=-1, complete deltas 0, 1, 2
      def put(rows: Seq[(Long, Long)], e: Long): Unit =
        rows.toDF("id", "label").write.parquet(store.deltaPath(e))
      // a torn epoch-3 delta, complete deltas 4 and 5 (5 is the epoch
      // being stepped: written before its fold runs, never in the fold)
      put(Seq((1L, 13L)), 3)
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(store.deltaPath(3), "_SUCCESS"))
      put(Seq((2L, 14L), (22L, 14L)), 4)
      put(Seq((1L, 15L)), 5)
      assert(store.liveDeltaRows(spark, 3) == 8L, "rows of deltas 0..2")
      val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      def fold(e: Long): Boolean = store.foldIfDue(e) { es =>
        seen += es; es.size > 1
      }(g => store.writeBase(store.latestWinsView(spark, e, "id"), g))
      val want = sortedRows(store.latestWinsView(spark, 5, "id"))
      def base4 = sortedRows(store.read(spark, store.basePath(4)))

      assert(fold(5), "four live deltas and a > 1 trigger: the fold is due")
      assert(seen.toSeq == Seq(Seq(0L, 1L, 2L, 4L)),
        "the trigger must see the complete deltas in (-1, 5) only")
      assert(store.latestCompleteBase() == 4L, "the fold point is E-1")
      assert(base4 == want, "the folded base differs from the view at E")
      assert(store.liveDeltaRows(spark, 6) == 1L, "only delta 5 is live")

      // a re-delivered epoch 5 (and a later step at 4 <= g) reads the
      // base at the fold point: no trigger call, no write
      assert(!fold(5) && !fold(4) && seen.size == 1,
        "a complete base at E-1 must skip the fold")

      // a crash mid-fold: base 4 holds other rows and no _SUCCESS — it
      // is not complete, so the re-delivered epoch folds again over it
      Seq((7L, 99L)).toDF("id", "label").write.mode("overwrite")
        .parquet(store.basePath(4))
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(store.basePath(4), "_SUCCESS"))
      assert(store.latestCompleteBase() == -1L)
      assert(fold(5), "a torn base at E-1 must not count")
      assert(seen.last == Seq(0L, 1L, 2L, 4L) && seen.size == 2)
      assert(store.latestCompleteBase() == 4L && base4 == want,
        "the re-run fold must overwrite the torn base")
      assert(!fold(5), "and a second re-delivery skips again")
    } finally Dirs.rmTree(root)
  }

  test("latestWinsView == the ranking merge on a store with no declared " +
      "schema (q264's coreness store shape), and resolving it infers no " +
      "more schemas than the ranking did") {
    val root = tempRoot("noschema")
    try {
      val store = GenStore(s"$root/core_base", s"$root/core", "g=", "epoch=")
      stage(store, "coreness")
      assertSameAsWindow(store, "inferred schema")
      val (_, mergeJobs) = withJobCount(
        store.latestWinsView(spark, Long.MaxValue, "id"))
      val (_, windowJobs) = withJobCount(
        latestWinsByWindow(store, Long.MaxValue, "id"))
      assert(mergeJobs <= windowJobs, s"resolving the merge launched " +
        s"$mergeJobs jobs, the ranking merge $windowJobs")
    } finally Dirs.rmTree(root)
  }

  test("writeDelta lands a tiny delta as exactly one data file, whatever " +
      "partitioning it inherited") {
    val root = tempRoot("tiny")
    try {
      val store = GenStore(s"$root/base", s"$root/upd", "g=", "batch=",
        Some(LabelSchema))
      val delta = (0L until 100L).map(i => (i, i % 7)).toDF("id", "label")
        .repartition(16)
      store.writeDelta(delta, 0)
      assert(dataFiles(store.deltaPath(0))._1 == 1)
      assert(sortedRows(store.read(spark, store.deltaPath(0))) ==
        sortedRows(delta))
    } finally Dirs.rmTree(root)
  }

  /** Pin `df` eagerly through [[graft.util.Pin]] in `mode` ("local" or
    * "reliable", the latter against the fresh checkpoint dir `ckpt`);
    * callers free it with `Pin.release`, in either mode.
    */
  private def pinIn(mode: String, df: DataFrame, ckpt: String): DataFrame = {
    import graft.util.Pin._
    if (mode == "local") df.pin()
    else {
      spark.sparkContext.setCheckpointDir(ckpt)
      spark.conf.set(graft.util.Pin.ModeConf, "reliable")
      try df.pin() finally spark.conf.unset(graft.util.Pin.ModeConf)
    }
  }

  /** A pinned exploded frame: at least one file per target bytes. */
  private def explodedCase(mode: String): Unit = {
    val root = tempRoot("exploded")
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    val target = 256L * 1024
    spark.conf.set(key, target.toString)
    try {
      // 200 ids × 500 hashed keys: Catalyst sizes the explode as its
      // 200-row child, the output is ~1.6 MB of incompressible longs
      val postings = pinIn(mode, spark.range(0, 200, 1, 16)
        .select(col("id").as("i"),
          explode(sequence(lit(0L), lit(499L))).as("k"))
        .select(col("i"), xxhash64(col("i"), col("k")).as("sk")),
        s"$root/ckpt")
      val estimate = postings.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(estimate < target, s"$mode: the plan estimate $estimate no " +
        "longer undercounts the frame; the spec needs a larger one")
      val store = GenStore(s"$root/base", s"$root/upd")
      store.writeBase(postings, -1)
      val (files, bytes) = dataFiles(store.basePath(-1))
      assert(bytes > 2 * target, s"$mode: only $bytes bytes written")
      assert(files >= (bytes + target - 1) / target, s"$mode: $bytes bytes " +
        s"landed in $files files at a $target-byte target")
      assert(files <= 16, s"$mode: coalesce raised the partition count")
      val back = store.read(spark, store.basePath(-1))
      assert(back.count() == postings.count() &&
        back.exceptAll(postings).isEmpty)
      graft.util.Pin.release(postings)
    } finally {
      prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      Dirs.rmTree(root)
    }
  }

  /** A pinned join output: one file, where its estimate gives many; a
    * join over the pinned output keeps the estimate's count.
    */
  private def joinCase(mode: String): Unit = {
    val root = tempRoot("pinned_join")
    try {
      def side(name: String) = spark.range(0, 4000, 1, 4)
        .select(col("id").as("k"), (col("id") * 3).as(name))
      val joined =
        pinIn(mode, side("v").join(side("w"), "k"), s"$root/ckpt")
      val target = spark.sessionState.conf.filesMaxPartitionBytes
      val estimate = joined.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(estimate > 4 * target, s"$mode: the plan estimate $estimate " +
        "no longer overcounts the join; the spec needs a larger one")
      assert(GenStore.fileCount(joined) == 1, mode)
      val selfJoin = joined.as("a").join(joined.as("b"), "k")
      assert(GenStore.fileCount(selfJoin) > 1, s"$mode: a join over pinned " +
        "leaves was sized by their stored bytes alone")
      val store = GenStore(s"$root/base", s"$root/upd")
      store.writeBase(joined, -1)
      assert(dataFiles(store.basePath(-1))._1 == 1, mode)
      assert(sortedRows(store.read(spark, store.basePath(-1))) ==
        sortedRows(joined))
      graft.util.Pin.release(joined)
    } finally Dirs.rmTree(root)
  }

  test("writeBase sizes a pinned exploded frame by its stored bytes: at " +
      "least one file per maxPartitionBytes of output, where the plan's " +
      "estimate alone would give one file") {
    explodedCase("local")
  }

  test("fileCount sizes a pinned join output by its stored bytes, not by " +
      "the plan's product-of-children estimate") {
    joinCase("local")
  }

  test("fileCount sizes reliable-checkpoint pins by their checkpoint " +
      "files: a pinned exploded frame lands as one file per target bytes, " +
      "a pinned join as one file") {
    explodedCase("reliable")
    joinCase("reliable")
  }

  test("choosing the file count launches no job: fileCount of a " +
      "shuffle-bearing frame runs none, and a sized write launches as " +
      "many jobs as an unsized one") {
    val root = tempRoot("jobs")
    try {
      val agg = (0L until 1000L).map(i => (i % 37, i)).toDF("id", "label")
        .groupBy("id").agg(sum("label").as("label"))
      val (n, countJobs) = withJobCount(GenStore.fileCount(agg))
      assert(n == 1 && countJobs == 0,
        s"fileCount gave $n after launching $countJobs jobs")
      val store = GenStore(s"$root/base", s"$root/upd")
      val (_, sizedJobs) = withJobCount(store.writeDelta(agg, 0))
      val (_, plainJobs) = withJobCount(
        agg.write.mode("overwrite").parquet(s"$root/plain"))
      assert(sizedJobs == plainJobs, s"a sized write launched $sizedJobs " +
        s"jobs, an unsized one $plainJobs")
    } finally Dirs.rmTree(root)
  }
}
