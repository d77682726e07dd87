package graft

import org.apache.spark.sql.functions._
import graft.ext.Dedup

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents: chain and separate pair collapse to min labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("i", "j")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(10L) == 10L && labels(11L) == 10L)
  }

  test("connectedComponents: 40-node chain converges (pointer jumping)") {
    // path graph 0-1-...-39: diameter 39 ≫ the 8 default rounds — covered
    // because each round also jumps label-of-label (doubling reach)
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("i", "j")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels.values.toSet == Set(0L))
  }

  /** Runs `body` once per pin storage mode, passing the mode and the pins
    * alive now: the persisted RDD ids in local mode, the `rdd-*` dirs under
    * a fresh checkpoint dir in reliable mode.
    */
  private def inEachPinMode(body: (String, () => Set[String]) => Unit): Unit = {
    body("local",
      () => spark.sparkContext.getPersistentRDDs.keySet.map(_.toString).toSet)
    inReliableMode(dir => body("reliable", () => checkpointEntries(dir)
      .filter(_.split('/').last.startsWith("rdd-")).toSet))
  }

  test("iterative loops release every checkpoint generation but the result") {
    // a convergence loop that pins a checkpoint per materialization would
    // grow its storage linearly in rounds — the operators must leave ONLY
    // the returned table pinned, however many rounds they ran
    inEachPinMode { (mode, live) =>
      // held: see the q240/q258 test below
      val held = spark.sparkContext.getPersistentRDDs
      val before = live()
      def pinned: Int = (live() -- before).size
      // 64-node path → multiple outer iterations (reach ×4 per checkpoint)
      val chain = (0L until 63L).map(i => (i, i + 1)).toDF("i", "j")
      val labels = Dedup.connectedComponents(chain)
      assert(labels.as[(Long, Long)].collect().toMap.values.toSet == Set(0L))
      assert(pinned <= 1, s"$mode: connectedComponents left " +
        s"$pinned pins (want ≤1: the labels)")
      val ranks = graft.ext.Graph.pageRank(chain.toDF("src", "dst"),
        iterations = 6)
      assert(ranks.count() == 64)
      assert(pinned <= 2, s"$mode: pageRank left ${pinned - 1} extra " +
        "pins (want ≤1: the ranks)")
      graft.util.Pin.release(labels)
      graft.util.Pin.release(ranks)
      assert(pinned == 0, s"$mode: $pinned pins left after releasing the " +
        "results")
      java.lang.ref.Reference.reachabilityFence(held)
    }
  }

  test("q240 and q258 leave only their result's own pins behind") {
    inEachPinMode { (mode, live) =>
      for (name <- Seq("q240_incremental_cc_updates",
          "q258_incremental_coreness")) {
        // held: the registry keeps entries by weak reference, so a GC could
        // otherwise drop an entry and hide a leak or fake a release
        val held = spark.sparkContext.getPersistentRDDs
        val before = live()
        val out = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        assert((live() -- before).nonEmpty,
          s"$mode: $name returned an unpinned frame")
        graft.util.Pin.release(out)
        val left = live() -- before
        assert(left.isEmpty,
          s"$mode: $name left ${left.size} intermediate pins behind")
        java.lang.ref.Reference.reachabilityFence(held)
      }
    }
  }

  test("hash split is a pure function of the key: stable across recomputation") {
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
      .cast("long")
    val a = docs.select(col("doc_id"), (h % 10 < 8).as("train")).as[(Long, Boolean)].collect().toMap
    val b = docs.repartition(7).select(col("doc_id"), (h % 10 < 8).as("train"))
      .as[(Long, Boolean)].collect().toMap
    assert(a == b) // partition layout must not affect assignment
    val frac = a.values.count(identity).toDouble / a.size
    assert(frac > 0.6 && frac < 0.95) // ~80% expected
  }

  test("forward as-of join matches equal-time rows and respects tolerance") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val left = Seq((1L, ts(100), 10L), (1L, ts(200), 11L), (1L, ts(900), 12L))
      .toDF("k", "t", "eid")
    val right = Seq((1L, ts(200), 5L, 2.0), (1L, ts(300), 6L, 3.0),
        (1L, ts(200), 4L, 1.0))
      .toDF("k", "rt", "okey", "oval")
    val out = graft.ops.AsOfJoin.leftAsOfForward(left, right, "k", "t", "rt",
        payload = Seq("okey", "oval"), tieBreak = "okey")
      .orderBy("eid").collect()
    // t=100 → next right at 200, tie (okey 4 vs 5) → lowest (4)
    assert(out(0).getAs[Long]("asof_okey") == 4L)
    // t=200 → equal-time right row DOES match (forward is >=)
    assert(out(1).getAs[Long]("asof_okey") == 4L)
    // t=900 → nothing ahead → NULL
    assert(out(2).isNullAt(out(2).fieldIndex("asof_okey")))
    val tol = graft.ops.AsOfJoin.leftAsOfForward(left, right, "k", "t", "rt",
        Seq("okey", "oval"), "okey",
        tolerance = Some(expr("INTERVAL 50 SECONDS")))
      .orderBy("eid").collect()
    // t=100: next right at 200 is 100 s ahead — outside the 50 s tolerance
    assert(tol(0).isNullAt(tol(0).fieldIndex("asof_okey")))
    assert(tol(1).getAs[Long]("asof_okey") == 4L)
  }

  test("pageRank: fixed-point micro-unit propagation on a hand-checked path") {
    // path 1—2—3 (undirected), 2 iterations; degrees 1,2,1.
    // iter1: c(1)=c(3)=(1e6·17)div 40=425000 → r=575000;
    //        c(2)=850000·2 → r=1850000
    // iter2: c(1)=(1850000·17)div 40=786250 → r=936250 → 0.93625;
    //        c(2)=(575000·17)div 20=488750, ×2 → r=1127500 → 1.1275
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r = graft.ext.Graph.pageRank(edges, iterations = 2)
      .as[(Long, Double)].collect().toMap
    assert(r == Map(1L -> 0.93625, 2L -> 1.1275, 3L -> 0.93625))
  }

  test("pageRank: total rank mass stays ~N (stochastic propagation)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val total = graft.ext.Graph.pageRank(edges, 5)
      .agg(sum("rank")).as[Double].head()
    // floor quantization loses at most a few micro-units per node
    assert(math.abs(total - 4.0) < 0.001)
  }
}
