package graft

import org.apache.spark.sql.functions._

/** Round-20 invariants: the shard-parallel pack family (r19 verdict
  * #1/#2/#8) — the scalable total-order rank, the streaming per-shard
  * first-fit recurrence, the serpentine balance guarantee, and the
  * stated ≤1-underfilled-bin-per-shard trade.
  */
class Round20Spec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"

  test("rankByTotalOrder: rank is the exact global sort position, " +
      "deterministic on a 2-value mass grid (the very case the census " +
      "rank's parallelism was capped by)") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, (i % 2) + 1)).toDF("id", "mass")
    val out = graft.queries.PipelineQueries
      .rankByTotalOrder(df, Seq(col("mass").desc, col("id")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = (1L to 1000L).map(i => (i, (i % 2) + 1))
      .sortBy { case (id, m) => (-m, id) }
      .zipWithIndex.map { case ((id, m), k) => (id, m, k + 1L) }.toSet
    assert(out.length == 1000 && out.toSet == expected,
      "total-order rank must reconstruct the global sort position")
  }

  /** The pack-family audit: serpentine balance (row counts within 1,
    * mass spread within the largest single row) and the first-fit
    * invariant — a bin closes ONLY because its successor's first chunk
    * did not fit, so only the LAST bin of each shard can be underfilled
    * (the stated ≤1-underfilled-bin-per-shard trade).
    */
  private def auditPack(rows: Seq[(Long, Long, Long, Long)], cap: Long,
      nShards: Int): Unit = {
    val byShard = rows.groupBy(_._1)
    assert(byShard.size == nShards,
      s"expected $nShards shards, got ${byShard.size}")
    val counts = byShard.values.map(_.size.toLong)
    assert(counts.max - counts.min <= 1L,
      s"serpentine row balance broken: ${counts.mkString(",")}")
    val maxMass = rows.map(_._3).max
    val masses = byShard.values.map(_.map(_._3).sum)
    assert(masses.max - masses.min <= maxMass,
      s"mass spread ${masses.max - masses.min} > largest row $maxMass")
    byShard.foreach { case (sh, rs) =>
      val bins = rs.groupBy(_._4)
      val maxBin = bins.keys.max
      assert(bins.keys.toSet == (0L to maxBin).toSet,
        s"shard $sh bin ids not contiguous")
      val binTok = bins.map { case (b, cs) => b -> cs.map(_._3).sum }
      binTok.foreach { case (b, t) =>
        assert(t <= cap || bins(b).size == 1,
          s"shard $sh bin $b overfilled at $t with ${bins(b).size} rows") }
      val firstOf = bins.map { case (b, cs) => b -> cs.minBy(_._2)._3 }
      (0L until maxBin).foreach { b =>
        assert(binTok(b) + firstOf(b + 1) > cap,
          s"shard $sh bin $b closed at ${binTok(b)} though the next " +
            s"chunk (${firstOf(b + 1)}) fit — not first-fit")
      }
    }
  }

  test("q268: streamed shard-parallel pack keeps the serpentine balance " +
      "and the ≤1-underfilled-bin-per-shard trade") {
    val out = SparkEntry.queries("q268_shard_parallel_packing")(spark, Dir)
      .select("shard", "r", "n_tok", "bin")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    auditPack(out.toSeq, 512, 8)
  }

  test("q269: the landed tokenized tail packs BPE masses shard-parallel " +
      "— balance + trade audits hold on the disk read-back") {
    val out = SparkEntry
      .queries("q269_landed_shard_parallel_tail")(spark, Dir)
      .select("shard", "r", "n_bpe", "bin")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    auditPack(out.toSeq, 512, 8)
  }

  test("packWithinShards streams shards that share a task: with fewer " +
      "partitions than shards (4 < 8 here) the fold must reset at each " +
      "(shard, r) boundary — pinned against a driver-side reference fold") {
    import spark.implicits._
    val rows = (1L to 400L).map(i => (i % 8, i / 8 + 1, (i % 5) + 1))
    val out = graft.queries.PipelineQueries
      .packWithinShards(rows.toDF("shard", "r", "mass"), "mass", 7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (sh, rs) =>
      var bin = 0L; var fill = 0L; var first = true
      rs.sortBy(_._2).map { case (_, r, m) =>
        if (first) { first = false; fill = m }
        else if (fill + m > 7) { bin += 1; fill = m }
        else fill += m
        (sh, r, m, bin, fill - m)
      }
    }.toSet
    assert(out == expected,
      "streamed fold diverged from the reference first-fit")
  }

  test("q270: reduced-demo depth cuts the identical tokenized snapshot " +
      "the production-cadence 3-epoch depth cuts (the q263/Round17Spec " +
      "pin, extended through the shard-parallel tokenized serve)") {
    assertBenchDepthMatchesFull("q270_stream_tokenized_tail", Dir)
  }

  test("bench re-pass policy (r19 verdict #4): the synthetic r19 replay " +
      "— a mid-run-loaded pass (cal_spread 1.34, 519.2 s) vs an idle " +
      "re-pass (1.02, 278.2 s) — stamps the cal-consistent pass as the " +
      "headline, order-independently; ties on consistency go to the " +
      "faster measurement") {
    assert(Bench.cleanerPass(0, 1.34, 519.2, 0, 1.02, 278.2) == 1)
    assert(Bench.cleanerPass(0, 1.02, 278.2, 0, 1.34, 519.2) == 0)
    assert(Bench.cleanerPass(0, 1.05, 300.0, 0, 1.03, 280.0) == 1)
    assert(Bench.cleanerPass(0, 1.03, 280.0, 0, 1.05, 300.0) == 0)
    // an errored pass never wins on its (incomparable) smaller total —
    // a crashed heavy query's time is excluded from Pass.total
    assert(Bench.cleanerPass(0, 1.05, 300.0, 1, 1.03, 280.0) == 0)
    assert(Bench.cleanerPass(1, 1.03, 280.0, 0, 1.05, 300.0) == 1)
  }
}
