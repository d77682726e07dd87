package graft.ext
import graft.util.Pin._
import graft.util.DevTiming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over edge DataFrames — the iterative-dataflow family
  * (connected components lives in [[Dedup.connectedComponents]]; this hosts
  * the rank-propagation side). The reference has no graph surface at all;
  * these are the standard link-analysis steps a training-data pipeline runs
  * over citation/hyperlink graphs (the O5 script surface could only do this
  * single-node, `/root/reference/plugin.cpp:113-117`).
  */
object Graph {

  /** PageRank by fixed-iteration power method over an undirected edge list
    * `(src, dst)` (callers pass each edge once; both directions are walked,
    * so every node has out-degree ≥ 1 — no dangling-mass correction
    * needed). Ranks are N-scaled (init 1.0, update `0.15 + 0.85·Σ r/deg`),
    * the standard damping-0.85 form.
    *
    * Spark shape: the doubled edge list joins the (small) rank table on
    * `src` and hash-aggregates contributions on `dst` — one shuffle per
    * iteration, partial aggregation map-side. Each round references the
    * previous ranks exactly ONCE, so the logical plan grows linearly in
    * `iterations` (not the 2^k self-join blowup of
    * [[Dedup.connectedComponents]], which must checkpoint): for the fixed
    * small iteration counts of power-method PageRank that is cheap to
    * analyze and needs no per-round materialization. For a convergence
    * loop with large/unbounded rounds, add a periodic
    * `localCheckpoint`/`checkpoint` to bound planning cost, and at 10^9
    * nodes drop the broadcast hint so AQE picks the join side.
    *
    * Determinism: ranks live in FIXED-POINT micro-units (BIGINT, 10^-6) and
    * every step is integer arithmetic — per-edge contribution
    * `(r·17) div (20·deg)` (= r·0.85/deg floored to a micro-unit), summed
    * as BIGINT, update `150000 + Σ`. Floating-point propagation was tried
    * first and diverged from the oracle: rational contributions like
    * 0.85/32 = 17/640 have exact 7-decimal expansions ending in 5, and
    * Spark's double→decimal cast (rounds the SHORTEST decimal repr — which
    * recovers the rational midpoint) disagrees there with engines that
    * round the exact binary expansion (413 casts flipped at sf0.1,
    * iteration 1). Integer micro-units have no rounding AT ALL, on any
    * engine, at any parallelism — the oracle is the identical integer
    * recursion unrolled as chained CTEs. Quantization bias is one
    * micro-unit per edge per iteration — beneath any ranking use.
    */
  /** @param partitions parallelism for the propagation loop. The rank
    *   table is |V|, orders of magnitude smaller than the fact tables the
    *   edges derive from — the loop must not inherit a corpus-sized
    *   shuffle width (same sizing rule as
    *   [[Dedup.connectedComponents]]). Size to |E|; at billion-node scale
    *   raise it and drop the broadcast hint (AQE then picks the join side).
    */
  def pageRank(undirectedEdges: DataFrame, iterations: Int,
               partitions: Int = 8): DataFrame = {
    require(iterations >= 1, s"pageRank needs >= 1 iteration (got $iterations)")
    // the loop runs on a CHILD session with the narrow width pinned at
    // session scope (no set/restore race on the caller's conf); the edge
    // build itself executes in the caller's plan at full width via .rdd
    val caller = undirectedEdges.sparkSession
    val spark = caller.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    // AQE's stage-wise re-planning pays off on big shuffles, not on an
    // iterative chain of sub-second jobs whose shapes are already known —
    // off for the loop (session-scoped; the caller's conf is untouched)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val sc = spark.sparkContext
    // checkpoint-generation tracking, same discipline as
    // [[Dedup.connectedComponents]]: every pinned block set is released as
    // soon as its successor is materialized, so the operator's resident
    // footprint is ONE edge copy during the loop and only the |V|-row final
    // ranks after it returns — not session-lifetime pins of 2|E| rows.
    // Ids come from the checkpointed frame's own (truncated) rdd lineage,
    // not a getPersistentRDDs diff — the registry is SparkContext-global,
    // so a diff could capture and wrongly release blocks pinned by a
    // concurrent query or streaming trigger during the window (shared
    // discipline: graft.util.CheckpointGen).
    def checkpointed(df: => DataFrame): (DataFrame, Set[Int]) = {
      val out = df
      (out, graft.util.CheckpointGen.pinnedIds(out))
    }
    def release(ids: Set[Int]): Unit =
      graft.util.CheckpointGen.release(sc, ids)
    val result = locally {
      // materialize the caller-built edge list ONCE before doubling it:
      // the two union branches below would otherwise each recompute the
      // full upstream build (exchange reuse does not cross union branches
      // here — measured as the dominant cost of the whole operator)
      val (pairs0, pairs0Ids) = checkpointed {
        DevTiming("pr", "edge build ckpt")(spark.createDataFrame(
          undirectedEdges.select(col("src"), col("dst")).rdd,
          undirectedEdges.select(col("src"), col("dst")).schema)
          .pin())
      }
      val both = pairs0.unionAll(
        pairs0.select(col("dst").as("src"), col("src").as("dst")))
      // the degree table is checkpointed EAGERLY (it is tiny — |V| rows)
      // so that (a) the aggregation over 2|E| runs once, reused by both
      // the edge join and the initial ranks (the lazy plan would compute
      // it twice), and (b) nothing downstream references pairs0 once
      // edgesW is live — releasing pairs0 early with a live lazy `deg`
      // would lose its checkpoint blocks mid-broadcast.
      val (deg, degIds) = checkpointed {
        DevTiming("pr", "degree ckpt")(
          both.groupBy("src").agg(count(lit(1)).as("deg")).pin())
      }
      val (edgesW, edgesWIds) = checkpointed {
        DevTiming("pr", "edgesW ckpt")(both.join(broadcast(deg), "src").pin())
      }
      release(pairs0Ids) // edgesW is truncated — the raw pair copy is dead
      var ranks = deg.select(col("src").as("id"), lit(1000000L).as("r"))
      for (_ <- 1 to iterations) ranks = rankStep(edgesW, ranks)
      // materialize the final ranks (|V| rows) so the 2|E| weighted edge
      // list can be released NOW instead of staying pinned for the session,
      // and so downstream actions replay a table read, not the whole loop
      val out = DevTiming("pr", s"$iterations rank rounds + final ckpt")(
        ranks.select(col("id"), (col("r") / 1000000.0).as("rank"))
          .pin())
      release(edgesWIds)
      release(degIds)
      out
    }
    // re-anchor on the caller's session so downstream ops do not silently
    // inherit the narrow loop width
    caller.createDataFrame(result.rdd, result.schema)
  }

  /** One propagation round over `(src, dst, deg)` edges and `(id, r)`
    * micro-unit ranks. Ranks broadcast per round — the 2|E| edge table is
    * never reshuffled; the logical plan nests one join+agg per round
    * (linear growth, see [[pageRank]]'s scaladoc). Package-visible so the
    * plan-shape suite can assert the broadcast on the real building block
    * (the public API hides the loop behind the session re-anchor).
    */
  private[graft] def rankStep(edgesW: DataFrame, ranks: DataFrame): DataFrame =
    edgesW.join(broadcast(ranks), edgesW("src") === ranks("id"))
      .groupBy(col("dst"))
      .agg(sum(expr("(r * 17) div (20 * deg)")).as("contrib"))
      .select(col("dst").as("id"), (lit(150000L) + col("contrib")).as("r"))

  /** Coreness (k-core number) of every vertex of an undirected edge list
    * `(src, dst)` (each edge once; isolated vertices are absent from the
    * edge list and so from the output). Returns `(id, coreness)` with
    * coreness BIGINT.
    *
    * Computed by neighborhood h-index iteration (Lü et al., "The H-index
    * of a network node and its relation to degree and coreness", Nature
    * Communications 7:10168, 2016 — public result): start from
    * c = degree and repeatedly replace each vertex's value with the
    * h-index of its neighbors' values (the largest h such that ≥ h
    * neighbors have value ≥ h); the fixpoint is exactly the coreness.
    * Unlike the sequential min-degree peel (inherently ordered, the
    * textbook O(E) algorithm), every h-index step is one relational
    * pass — join + window + aggregate — so the same plan runs identically
    * on `local[32]` or a 1000-executor cluster, and the oracle is the
    * identical integer recursion unrolled as chained CTEs.
    *
    * Spark shape per round: the doubled edge list — pre-partitioned by
    * the vertex key ONCE, a partitioning every later stage reuses — is
    * semi-joined to the frontier (the vertices that can still move, see
    * below), joins the (|V|-row, broadcast) value table on the NEIGHBOR
    * end, then the h-index is evaluated over DISTINCT neighbor values:
    * h = max_d min(d, N_{>=d}) with d ranging over the distinct values
    * (for d <= h, N_{>=d} >= h >= d caps the min at d; for d > h,
    * N_{>=d} <= h by h's maximality; the smallest distinct value >= h
    * attains min = h, and h = 0 iff no value >= 1). A groupBy(v, value)
    * count partial-aggregates map-side, so the shuffle and the
    * cumulative-count window see (vertex, distinct value) rows — a few
    * per vertex on clustered graphs — instead of sorting one row per
    * edge per round (2|E| rows) as the row_number formulation did.
    * Values are BIGINT degrees throughout — no floating point anywhere.
    *
    * DELTA SCHEDULING (r15 verdict #4; the asynchronous/partial-update
    * variant Lü et al. prove convergent): a vertex's h value depends
    * only on its neighbors' values, so after round 1 each round
    * re-evaluates only neighbors of last round's changed set — refined
    * VALUE-AWARE: v re-evaluates only if some changed neighbor's NEW
    * value dropped BELOW v's current h (otherwise every count N_{>=d}
    * for d <= h_v is untouched — old and new value both >= h_v — and
    * h_v stays attainable while monotonicity forbids a rise). The
    * restriction drops only provably-unchanged evaluations, so the
    * iterates (and hence checksums) equal the full synchronous
    * schedule's round for round and convergence can only come EARLIER
    * (an empty frontier certifies the sync round would move nothing).
    * Per-round work falls from Θ(|E|) to the frontier's incident edges;
    * the ring-of-cliques converges after ONE full-width round (heads
    * drop 9 -> 7, no neighbor's h is undercut, frontier = ∅) instead of
    * re-ranking 29M edges per round.
    *
    * FRONTIER-LOCAL ROUNDS (r16 verdict #3 — the per-round fixed-cost
    * floor): the r16 shape paid two |V|-row broadcast builds PLUS a
    * second full edge scan every delta round regardless of frontier
    * size — on the 2M-vertex tree the delta schedule did 16.8× less
    * work than sync yet measured SLOWER, because the floor, not the
    * work, dominated. Once the frontier is small (its exact incident
    * edge count — Σ deg over the frontier, computed as a free aggregate
    * over the checkpointed frontier since the value table carries each
    * vertex's initial degree) the round flips data flow to
    * frontier-local:
    *   - `touched` (the frontier's incident edges) is materialized once
    *     and BROADCAST into a stream-scan of the |V|-row value table —
    *     the value table is never collected to the driver again;
    *   - the frontier pass reuses `touched` instead of re-scanning the
    *     edge table: the doubled edge list is symmetric, so edges
    *     INTO the changed set are exactly the mirror of `touched` rows
    *     whose v changed (changed ⊆ active) — `touched ⋈
    *     broadcast(changed)`, min(cnew) per candidate map-side, then one
    *     broadcast-filtered scan of the merged value table; no distinct
    *     shuffle (value-table ids are unique).
    * Per round that leaves ONE full edge scan and ~three |V|-row
    * stream scans, all broadcast-probe joins of frontier-sized frames —
    * no |V|-sized driver builds. Rounds whose frontier is still wide
    * (incident edges ≥ |V|, or past `broadcastVertexCeiling`) keep the
    * classic wide shape. Join strategy only — the iterates, per-round
    * eval counts, and convergence depth are unchanged (Round16Spec pins
    * them; Round14Spec pins ceiling-0 path equivalence).
    *
    * Termination: starting from degree the iteration is pointwise
    * monotone non-increasing (h-index ≤ neighbor count = degree; the
    * h-index operator is monotone in its inputs, so decrease propagates
    * by induction), hence the changed set is eventually empty and the
    * loop stops on the first round that moves nothing. Rounds needed are
    * small (tight near-dup clusters converge in 1–2; bounded by a
    * diameter-ish quantity); each round localCheckpoints and releases
    * its predecessor (CheckpointGen), bounding resident state to one
    * edge copy + two |V|-row tables + a frontier. Fails loudly if
    * `maxRounds` is hit without convergence rather than returning a
    * non-fixpoint.
    *
    * @param partitions loop parallelism — |E|-sized, same rule as
    *   [[pageRank]]: the value table is orders of magnitude smaller than
    *   the corpus the edges derive from.
    * @param maxRounds convergence bound; also the spec's lever to PIN a
    *   convergence depth (calling with the oracle's unroll depth proves
    *   the unrolled oracle reached the fixpoint).
    * @param broadcastVertexCeiling largest row count for which a
    *   per-round frame (the value table into the edge join; the
    *   frontier/changed/evaluation frames into theirs) is broadcast;
    *   above it that join degrades to a keyed shuffle instead of failing
    *   on the broadcast size limit. The frontier frames shrink with
    *   convergence, so they keep broadcasting long after the value table
    *   stops fitting. Round14Spec pins path equivalence (ceiling 0 ≡
    *   default). The ceiling is a MEMORY safety valve, not a perf
    *   lever: the r16 2×2 sweep (bench/scale_sweep_r16, per-field
    *   minima over reps — this box's ambient swing is 5-10×) measured
    *   the in-process broadcast strictly faster at every size that fits
    *   (a local-mode broadcast is a hash-map build, no network), and a
    *   mid-round experiment that lowered the default to 2M made every
    *   multi-M-vertex leg WORSE (the keyed value join re-shuffles the
    *   2|E| edge table by u every round). On a real cluster the
    *   crossover moves with network cost; the knob exists for that
    *   tuning, the default stays at the largest value-table broadcast a
    *   48 GiB driver comfortably builds.
    * @param schedule "auto" (default — r18 verdict #3: q266 measured
    *   auto matching-or-beating the better FIXED schedule on both the
    *   peeling-tree and one-round-ring shapes, so production callers
    *   should not have to know their graph's shape), "delta", or "sync".
    *   sync re-evaluates every vertex each round and terminates on a
    *   no-change round — the comparator the archived sweeps timed
    *   against the delta schedule (`bench/scale_sweep_r16`…`r19`), and
    *   Round16Spec pins exact-equal to.
    *   The restriction the delta schedule applies drops only
    *   provably-unchanged evaluations, so all schedules produce the same
    *   fixpoint; they differ only in per-round work (full |E| vs the
    *   frontier's incident edges) and in how convergence is detected
    *   (no-change round vs empty frontier). The fixed schedules remain
    *   test/bench knobs.
    * @param onRoundStats called once per round with (round index, number
    *   of vertices evaluated that round) — the DETERMINISTIC work
    *   measure. Wall-clock comparisons of the two schedules on a shared
    *   box sit below its ambient noise floor (r16 measured 2-5× swings
    *   on identical multi-minute legs); vertex-evaluation counts are
    *   exact, reproducible, and the quantity the schedules actually
    *   differ in. Round16Spec pins them per-round on a fixture.
    */
  def coreness(undirectedEdges: DataFrame, partitions: Int = 8,
               maxRounds: Int = 64,
               broadcastVertexCeiling: Long = 10000000L,
               schedule: String = "auto",
               onRoundStats: (Int, Long) => Unit = noStats)
      : DataFrame =
    corenessImpl(undirectedEdges.sparkSession, Left(undirectedEdges),
      partitions, maxRounds, broadcastVertexCeiling, schedule,
      onRoundStats, noScan)

  /** ADAPTIVE schedule (r17 verdict #2): sync vs delta was a caller knob
    * where it should be a measurement — delta wins 2.2× on peeling
    * graphs (trees) and loses ~1.1× on 1-effective-round graphs (the 8M
    * ring-of-cliques), and the caller rarely knows the shape in advance.
    * Auto starts SYNCHRONOUS (no frontier bookkeeping) and flips to the
    * delta schedule permanently the first round the flip provably pays:
    * the sync round's one termination action is widened to
    * `(count, Σ deg)` over the changed set (same single job), and the
    * engine flips when `2·Σ deg(changed) < |V|` — candidates for the
    * next round number at most Σ deg(changed) (each changed vertex can
    * activate at most deg neighbors), so the evals saved next round are
    * ≥ |V|/2, which covers the frontier pass's cost (measured ≈ one
    * full-width evaluation round on the ring, SCALING.md r17). The flip
    * re-uses this round's changed FRAME through the same value-aware
    * frontier pass delta rounds run, so the iterates — and hence
    * checksums — equal BOTH fixed schedules round for round (the delta
    * restriction drops only provably-unchanged evaluations; sync rounds
    * are supersets). On the ring the rule never fires before convergence
    * (Σ deg(changed) = 9M ≥ |V|/2 = 4M) → auto ≡ sync; on the tree it
    * fires as soon as the peel's frontier collapses → auto ≡ delta plus
    * at most the pre-flip sync rounds. Its timings on both shapes are
    * archived in `bench/scale_sweep_r18/core_*.json` and
    * `bench/scale_sweep_r19/core_*.json`.
    */
  def corenessAdaptive(undirectedEdges: DataFrame, partitions: Int = 8,
               maxRounds: Int = 64,
               broadcastVertexCeiling: Long = 10000000L,
               onRoundStats: (Int, Long) => Unit = noStats)
      : DataFrame =
    corenessImpl(undirectedEdges.sparkSession, Left(undirectedEdges),
      partitions, maxRounds, broadcastVertexCeiling, "auto",
      onRoundStats, noScan)

  /** Storage bucket of a doubled-edge row, keyed by its PROBE end `v` —
    * the partition column of the bucketed edge layout
    * ([[writeBucketedEdges]]). Delegates to
    * [[graft.ext.Dedup.postingBucket]] — ONE bucket function across the
    * posting, pair, and edge layouts, so a change to the hash can never
    * silently break cross-store bucket compatibility (r18 review).
    */
  def edgeBucket(v: Column, nBuckets: Int): Column =
    Dedup.postingBucket(v, nBuckets)

  /** Persist the DOUBLED edge list hive-partitioned by
    * `b = pmod(v, nBuckets)` — one file per bucket dir (the q244/q260
    * posting layout applied to edges, r17 verdict #1). [[corenessBucketed]]
    * then prunes each small-frontier round's semi-join probe to the
    * frontier's bucket set AT THE SCAN (PartitionFilters), making those
    * rounds delta-READ-sized instead of paying a full 2|E| scan — on a
    * 100 TB near-dup graph the full probe scan is the whole cost of a
    * 1-vertex round. Sizing law (the posting-bucket rationale,
    * `Dedup.ngramPostingsBucketed`): nBuckets ∝ |V| for constant rows
    * per bucket; once the frontier's vertex count approaches nBuckets
    * every bucket is hit and pruning degrades to the full scan — which
    * is exactly the wide-round regime where the probe needed the full
    * scan anyway. Two refinements for the MID-WIDTH regime (r18 verdict
    * #2 — frontiers that hit every bucket but cover only a slice of the
    * id space, e.g. the contiguous leaf-level ranges of a BFS-numbered
    * tree peel):
    *   - rows are sorted by `v` WITHIN each bucket file, so parquet
    *     rowgroup/page min-max statistics on `v` cover contiguous
    *     id-ranges, and
    *   - [[corenessBucketed]] pushes the frontier's [min(v), max(v)]
    *     range into the probe scan alongside the bucket in-filter, so
    *     the parquet reader skips rowgroups/pages wholly outside the
    *     frontier's id-range even inside hit files (at 100 TB each
    *     bucket file is many 128 MB rowgroups — this is the pruning
    *     unit between "whole file" and "row").
    * The bucket count is persisted with the layout (a `_buckets`
    * sidecar) and [[corenessBucketed]] derives it from there — a caller
    * can never probe with a mismatched modulus, which would silently
    * drop live frontier edges (r18 ADVICE, medium).
    */
  def writeBucketedEdges(undirectedEdges: DataFrame, dir: String,
      nBuckets: Int): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive (got $nBuckets)")
    val s = undirectedEdges.sparkSession
    // materialize once before doubling (union branches do not share
    // exchanges — the pageRank lesson)
    val pairs0 = undirectedEdges.select(col("src"), col("dst"))
      .pin()
    val pins = graft.util.CheckpointGen.pinnedIds(pairs0)
    pairs0.unionAll(
        pairs0.select(col("dst").as("src"), col("src").as("dst")))
      .select(col("src").as("v"), col("dst").as("u"))
      .withColumn("b", edgeBucket(col("v"), nBuckets))
      .repartition(col("b"))
      .sortWithinPartitions(col("b"), col("v"))
      // finer pages than the 20k-row default: the page is the reader's
      // within-rowgroup pruning unit (column-index min-max), and this
      // layout exists to serve NARROW v-range probes — 4096-row pages
      // (~64 KB of raw longs) put the pruning floor at
      // 4096·files instead of 20000·files for ~0.5% metadata overhead.
      // Measured on the 500k-vertex tree peel: the mid-width rounds'
      // probe reads floor at 1 page per hit file either way, so finer
      // pages cut the floor 5×.
      .write.mode("overwrite").partitionBy("b")
      .option("parquet.page.row.count.limit", "4096")
      .parquet(dir)
    // sidecar AFTER the data write (overwrite mode clears the dir first)
    val p = new org.apache.hadoop.fs.Path(dir, "_buckets")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(nBuckets.toString.getBytes("UTF-8")) finally out.close()
    graft.util.CheckpointGen.release(s.sparkContext, pins)
  }

  /** The bucket count a [[writeBucketedEdges]] layout was written with
    * (its `_buckets` sidecar). [[corenessBucketed]] derives its probe
    * modulus from this — see the writer's scaladoc for why it is not a
    * caller parameter.
    */
  def readBucketCount(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir, "_buckets")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$dir has no _buckets sidecar — not a writeBucketedEdges layout")
    val in = fs.open(p)
    try {
      val n = new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toInt
      require(n > 0, s"corrupt _buckets sidecar in $dir: $n")
      n
    } finally in.close()
  }

  /** [[coreness]] over a PERSISTED bucketed edge layout
    * ([[writeBucketedEdges]]) instead of an in-memory edge frame. Wide
    * rounds (round 0, sync rounds, past-ceiling frontiers) scan the full
    * layout — the same full probe the in-memory path pays, traded
    * against NOT pinning a 2|E| localCheckpoint for the fixpoint's
    * lifetime (at 100 TB the edge table lives on disk regardless).
    * Frontier-local rounds prune the probe to the frontier's bucket set
    * at the scan: the bucket set rides the SAME per-round stats action
    * that already sizes the frontier (one `collect_set(pmod(v, B))`,
    * bounded by nBuckets), is planted as a literal in-filter on the
    * partition column, and Catalyst skips the non-hit bucket dirs
    * (PartitionFilters — Round18Spec asserts via numFiles, the
    * Round14Spec:q244 pattern, through [[corenessBucketed]]'s
    * `onRoundScan` hook). Dropped rows cannot change the result: a
    * pruned bucket holds no frontier vertex on its probe end, so none of
    * its rows can survive the `v` semi-join (iterates — and checksums —
    * are bit-equal to the in-memory path; spec-pinned). Trade-off vs the
    * in-memory path, documented not hidden: the disk layout is not
    * pre-partitioned by `v`, so each WIDE round's h-eval pays one
    * exchange of map-side partially-aggregated (v, distinct value) rows
    * — a few per vertex — where the checkpointed path pays none; the
    * frontier-local tail (where delta scheduling matters) broadcasts
    * `touched` and never needed that partitioning.
    *
    * @param onRoundScan called once per frontier-local round with
    *   (round, data files read by the pruned probe scan, hit bucket
    *   count, rows the scan output after parquet rowgroup/page pruning
    *   on the pushed v-range) — the spec's lever to pin that
    *   small-frontier rounds are delta-READ-sized and that mid-width
    *   rounds prune WITHIN hit files (r18 verdict #2).
    */
  def corenessBucketed(spark: SparkSession, bucketedEdgeDir: String,
               partitions: Int = 8,
               maxRounds: Int = 64,
               broadcastVertexCeiling: Long = 10000000L,
               schedule: String = "auto",
               onRoundStats: (Int, Long) => Unit = noStats,
               onRoundScan: (Int, Long, Long, Long) => Unit = noScan)
      : DataFrame =
    corenessImpl(spark,
      Right((bucketedEdgeDir, readBucketCount(spark, bucketedEdgeDir))),
      partitions, maxRounds, broadcastVertexCeiling, schedule,
      onRoundStats, onRoundScan)

  private val noScan: (Int, Long, Long, Long) => Unit = (_, _, _, _) => ()

  /** Shared no-op default for `onRoundStats` — a VAL, not a fresh lambda
    * per call, so [[corenessImpl]] can detect "no telemetry consumer" by
    * reference and keep the distributed loop whenever a caller (the
    * schedule specs) actually reads per-round vectors.
    */
  private val noStats: (Int, Long) => Unit = (_, _) => ()

  /** Guarded LOCAL h-index fixpoint — the [[Dedup.connectedComponents]]
    * r20 treatment applied to coreness: an in-memory edge list at or
    * under [[Dedup.LocalCcMaxEdges]] long-keyed rows (~8 MB; the
    * bounded-driver-state class) folds on the driver instead of paying
    * ~4 distributed jobs per h-index round on kilobytes of data. The
    * recurrence, the per-schedule round bookkeeping (sync no-change
    * round / delta value-aware frontier / auto flip at
    * 2·Σdeg(changed) < |V|), and the maxRounds failure are replicated
    * exactly, so iterates, round counts, and the non-convergence throw
    * match the distributed loop (which larger graphs, bucketed layouts,
    * and telemetry consumers keep).
    */
  private def corenessLocal(edges: Array[(Long, Long)], schedule: String,
      maxRounds: Int): Seq[(Long, Long)] = {
    import scala.collection.mutable
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    def nb(x: Long) = adj.getOrElseUpdate(x, mutable.ArrayBuffer.empty[Long])
    edges.foreach { case (a, b) => nb(a) += b; nb(b) += a }
    val c = mutable.HashMap.empty[Long, Long]
    adj.foreach { case (v, ns) => c(v) = ns.length.toLong }
    val nVerts = adj.size.toLong
    def hIndex(v: Long): Long = {
      val vals = adj(v).map(c).toArray
      java.util.Arrays.sort(vals)
      // descending h-index over the ascending sort: h = max i such that
      // the i-th largest value >= i
      var h = 0L
      var i = vals.length - 1
      while (i >= 0 && vals(i) >= (vals.length - i).toLong) {
        h = (vals.length - i).toLong; i -= 1
      }
      h
    }
    val auto = schedule == "auto"
    var delta = schedule == "delta"
    var active: Option[Seq[Long]] = None // None = all vertices
    var nActive = nVerts
    var rounds = 0
    while (nActive > 0) {
      require(rounds < maxRounds,
        s"coreness did not converge within $maxRounds h-index rounds")
      val evalSet = active.getOrElse(adj.keys.toSeq)
      val newVals = evalSet.iterator.map(v => (v, hIndex(v))).toArray
      val changed = newVals.filter { case (v, h) => h != c(v) }
      newVals.foreach { case (v, h) => c(v) = h }
      // value-aware frontier: u re-evaluates iff SOME changed neighbor's
      // new value undercuts u's current value (values only decrease)
      def frontier(): Seq[Long] = {
        val f = mutable.HashSet.empty[Long]
        changed.foreach { case (ch, cnew) =>
          adj(ch).foreach { u => if (cnew < c(u)) { f += u; () } }
        }
        f.toSeq
      }
      if (delta) {
        val f = frontier()
        nActive = f.size.toLong
        active = if (f.isEmpty) None else Some(f)
      } else if (!auto) {
        nActive = if (changed.isEmpty) 0L else nVerts
      } else {
        val chDeg = changed.map { case (v, _) => adj(v).length.toLong }.sum
        if (changed.isEmpty) nActive = 0L
        else if (2 * chDeg < nVerts) {
          delta = true
          val f = frontier()
          nActive = f.size.toLong
          active = if (f.isEmpty) None else Some(f)
        } else nActive = nVerts
      }
      rounds += 1
    }
    c.toSeq
  }

  private def corenessImpl(caller: SparkSession,
      edgesIn: Either[DataFrame, (String, Int)],
      partitions: Int, maxRounds: Int, broadcastVertexCeiling: Long,
      schedule: String, onRoundStats: (Int, Long) => Unit,
      onRoundScan: (Int, Long, Long, Long) => Unit): DataFrame = {
    require(maxRounds >= 1, s"coreness needs maxRounds >= 1 (got $maxRounds)")
    require(Set("sync", "delta", "auto")(schedule),
      s"schedule must be sync|delta|auto (got $schedule)")
    val spark = caller.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val sc = spark.sparkContext
    def release(ids: Set[Int]): Unit =
      graft.util.CheckpointGen.release(sc, ids)
    val result = locally {
      // edge source: in-memory (Left) doubles + pre-partitions +
      // checkpoints the caller's frame; bucketed (Right) reads the
      // persisted doubled layout — nothing 2|E|-sized is ever pinned,
      // and frontier-local rounds prune the scan to hit buckets.
      val (bothAll, both, bothIds, nBuckets) = edgesIn match {
        case Left(undirectedEdges) =>
          // materialize the caller-built edges once before doubling
          // (union branches do not share exchanges — the pageRank lesson)
          val pairs0 = spark.createDataFrame(
              undirectedEdges.select(col("src"), col("dst")).rdd,
              undirectedEdges.select(col("src"), col("dst")).schema)
            .pin()
          val pairs0Ids = graft.util.CheckpointGen.pinnedIds(pairs0)
          // guarded local fixpoint (see [[corenessLocal]]): only when no
          // telemetry consumer is attached (the schedule specs read
          // per-round vectors from the distributed loop) and the
          // checkpointed edge list probes driver-bounded
          if ((onRoundStats eq noStats) && (onRoundScan eq noScan) &&
              pairs0.schema.fields.forall(
                _.dataType == org.apache.spark.sql.types.LongType)) {
            val h = pairs0.limit(Dedup.LocalCcMaxEdges + 1).collect()
            if (h.length <= Dedup.LocalCcMaxEdges &&
                !h.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
              release(pairs0Ids)
              val local = corenessLocal(
                h.map(r => (r.getLong(0), r.getLong(1))), schedule,
                maxRounds)
              import scala.jdk.CollectionConverters._
              val rows: java.util.List[org.apache.spark.sql.Row] =
                local.map { case (id, cv) =>
                  org.apache.spark.sql.Row(id, cv) }.asJava
              val schema = org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("id",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("coreness",
                  org.apache.spark.sql.types.LongType)))
              return caller.createDataFrame(rows, schema)
            }
          }
          // pre-partition the doubled edges BY v once: every per-round
          // consumer clusters on v (the active-set semi join, the h-eval
          // window+groupBy, the next-active distinct), and localCheckpoint
          // preserves the physical partitioning, so the edge table pays its
          // exchange ONCE for the whole fixpoint instead of once per round.
          val b = DevTiming("coreness", "setup: double+repartition edges")(
            pairs0.unionAll(
                pairs0.select(col("dst").as("src"), col("src").as("dst")))
              .select(col("src").as("v"), col("dst").as("u"))
              .repartition(partitions, col("v"))
              .pin())
          val ids = graft.util.CheckpointGen.pinnedIds(b)
          release(pairs0Ids)
          (b, b, ids, 0)
        case Right((dir, nb)) =>
          require(nb > 0, s"nBuckets must be positive (got $nb)")
          val all = spark.read.parquet(dir) // (v, u, b)
          (all, all.drop("b"), Set.empty[Int], nb)
      }
      val bucketedMode = nBuckets > 0
      // the value table carries each vertex's INITIAL degree alongside its
      // current value for the whole loop: deg is what makes the frontier's
      // exact incident-edge count (Σ deg over the frontier) a free
      // aggregate over the already-checkpointed frontier — the quantity
      // that decides each round's join direction (see scaladoc).
      var c = DevTiming("coreness", "setup: degrees")(
        both.groupBy("v").agg(count(lit(1)).as("c"))
          .select(col("v").as("id"), col("c"), col("c").as("deg"))
          .pin())
      var cIds = graft.util.CheckpointGen.pinnedIds(c)
      val nVerts = c.count()
      // DELTA SCHEDULING (the asynchronous variant of Lü et al. 2016,
      // r15 verdict #4): a vertex's h value is a function of its
      // NEIGHBORS' values only, so a vertex none of whose neighbors
      // changed last round cannot change this round. Each round
      // re-evaluates exactly the neighbors of last round's changed set;
      // the iterates equal the full synchronous schedule's round for
      // round (the restriction drops only provably-unchanged work), so
      // checksums, convergence depth, and the maxRounds pin are
      // unchanged — only the per-round work shrinks, from Θ(|E|) every
      // round to |edges incident to the still-moving frontier|.
      // Broadcast-vs-shuffle is decided per frame by the same ceiling:
      // the frontier frames (active/evald/changed) are frontier-sized
      // and broadcast long after the value table stops fitting.
      val auto = schedule == "auto"
      // current schedule mode; auto starts synchronous (no frontier
      // bookkeeping) and flips permanently when the rule fires
      var delta = schedule == "delta"
      var active: Option[DataFrame] = None // None = all vertices (round 1)
      var activeIds = Set.empty[Int]
      var nActive = nVerts
      // bucketed mode: the frontier's bucket set (≤ nBuckets ints,
      // collected on the SAME stats action that sizes the frontier) —
      // next round's pruned-probe in-filter — plus its [min(v), max(v)]
      // id-range, pushed into the scan so parquet rowgroup/page min-max
      // stats on the v-sorted layout prune WITHIN hit files (the
      // mid-width regime, r18 verdict #2)
      var hitBuckets: Seq[Int] = Seq.empty
      var vRange: Option[(Any, Any)] = None
      // exact incident-edge count of the current frontier (Σ deg), the
      // quantity that decides this round's join direction; MaxValue while
      // the frontier is "all vertices" (round 1 / sync rounds)
      var nIncident = Long.MaxValue
      var rounds = 0
      val byV = org.apache.spark.sql.expressions.Window
        .partitionBy("v").orderBy(col("cu").desc)
      while (nActive > 0) {
        require(rounds < maxRounds,
          s"coreness did not converge within $maxRounds h-index rounds")
        onRoundStats(rounds, nActive)
        // FRONTIER-LOCAL round (see scaladoc): once the frontier's
        // incident edges fit the broadcast ceiling and undercut |V|, the
        // touched edges are materialized once and broadcast into
        // stream-scans of the value table — no |V|-row driver builds.
        val frontierLocal = delta && active.isDefined &&
          nIncident <= broadcastVertexCeiling && nIncident < nVerts
        val (touched, touchedIds) = active match {
          case None => (both, Set.empty[Int])
          case Some(a) =>
            val aSide =
              if (nActive <= broadcastVertexCeiling) broadcast(a) else a
            // bucketed mode, frontier-local round: prune the probe to
            // the frontier's bucket set AT THE SCAN — the in-filter on
            // the partition column reaches PartitionFilters, so non-hit
            // bucket dirs are never read. Dropped rows cannot survive
            // the v semi-join (their bucket holds no frontier vertex),
            // so the iterates are unchanged (Round18Spec pins both the
            // equality and, via onRoundScan, the file-count shrink).
            val src =
              if (bucketedMode && frontierLocal) {
                // every frontier vertex satisfies both pushed predicates
                // by construction (its bucket is in the hit set, its id
                // inside the frontier's [min, max]), so no edge that
                // could survive the v semi-join is dropped; the range
                // reaches the parquet reader's rowgroup/page stats on
                // the v-sorted layout
                val pruned = bothAll
                  .filter(col("b").isInCollection(hitBuckets))
                vRange.fold(pruned) { case (lo, hi) =>
                  pruned.filter(col("v").between(lit(lo), lit(hi)))
                }.drop("b")
              } else both
            val t = src.join(aSide, Seq("v"), "left_semi")
            if (!frontierLocal) (t, Set.empty[Int])
            else {
              val tPlan = t.select(col("v"), col("u"))
              val tm = DevTiming("coreness", s"round $rounds: touched")(
                tPlan.pin())
              if (bucketedMode) {
                // scan telemetry off the just-executed plan (driver-side
                // metric walk, no extra job): files read, and the rows
                // the file scan OUTPUT — after parquet rowgroup/page
                // pruning on the pushed v-range, so the mid-width
                // within-file prune is visible per round
                val fileLeaves = tPlan.queryExecution.executedPlan
                  .collectLeaves()
                  .filter(_.metrics.contains("numFiles"))
                val files =
                  fileLeaves.flatMap(_.metrics.get("numFiles")).map(_.value).sum
                val rowsOut = fileLeaves
                  .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
                onRoundScan(rounds, files, hitBuckets.size.toLong, rowsOut)
              }
              (tm, graft.util.CheckpointGen.pinnedIds(tm))
            }
        }
        // h-index over DISTINCT neighbor values: h = max_d min(d, N>=d)
        // for d ranging over the distinct values (exact — see scaladoc).
        // The groupBy(v, cu) partial-aggregates map-side, so the shuffle
        // and the window sort see (vertex, distinct value) rows — on a
        // clustered graph a few per vertex — instead of one row PER EDGE
        // (the former row_number formulation sorted all 2|E| rows every
        // round; on the 29M-edge ring-of-cliques that sort was the whole
        // cost). Join direction by round shape: wide rounds broadcast the
        // value table into the edge scan (ceiling-guarded);
        // frontier-local rounds broadcast the touched edges and STREAM
        // the value table.
        val neighborVals =
          if (frontierLocal)
            c.join(broadcast(touched), c("id") === touched("u"))
          else {
            val cSide =
              if (nVerts <= broadcastVertexCeiling) broadcast(c) else c
            touched.join(cSide, touched("u") === cSide("id"))
          }
        val evald = neighborVals
          .select(col("v"), col("c").as("cu"))
          .groupBy("v", "cu").agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum(col("cnt")).over(byV
            .rowsBetween(org.apache.spark.sql.expressions
              .Window.unboundedPreceding, 0)))
          .groupBy("v").agg(max(least(col("cu"), col("cum"))).as("h"))
        // merge the (active-only) evaluation back into the value table;
        // `chg` marks the rows that actually moved. evald is
        // frontier-sized, so it broadcasts into the left join and the
        // |V|-row value table streams map-side.
        val eSide =
          if (nActive <= broadcastVertexCeiling && nActive * 2 < nVerts)
            broadcast(evald)
          else evald
        val merged = DevTiming("coreness", s"round $rounds: eval+merge") {
          c.join(eSide, c("id") === eSide("v"), "left")
          .select(col("id"), coalesce(col("h"), col("c")).as("c"),
            col("deg"),
            (col("h").isNotNull && col("h") =!= col("c")).as("chg"))
          .pin()
        }
        val mergedIds = graft.util.CheckpointGen.pinnedIds(merged)
        // VALUE-AWARE frontier pass (see scaladoc): a changed neighbor
        // whose NEW value is still >= h_v cannot move v — for every
        // d <= h_v both the old and the new value count toward N_{>=d},
        // so N_{>=h_v} is untouched and h_v stays attainable (values
        // only decrease, so h cannot rise). Hence v re-evaluates ONLY if
        // SOME changed neighbor's new value undercuts its current h.
        // Termination is frontier-empty (implied by nothing-changed).
        // Shared by the delta schedule's per-round advance and the auto
        // schedule's sync→delta flip (which passes its already-known
        // changed count so no job repeats).
        def advanceFrontier(knownChanged: Option[Long]): Unit = {
          val changed = merged.filter(col("chg"))
            .select(col("id").as("chid"), col("c").as("cnew"))
          val nextActive = DevTiming("coreness", s"round $rounds: frontier")(
            if (frontierLocal) {
              // reuse the materialized touched edges: both is symmetric
              // and changed ⊆ active, so edges INTO the changed set are
              // the mirror of touched rows whose v changed. min(cnew)
              // per candidate partial-aggregates map-side
              // (candidate-sized shuffle), then ONE broadcast-filtered
              // scan of merged; merged ids are unique, so no distinct.
              val candMin = touched
                .join(broadcast(changed), touched("v") === col("chid"))
                .groupBy(touched("u").as("cand"))
                .agg(min(col("cnew")).as("cmin"))
              merged.join(broadcast(candMin), col("id") === col("cand"))
                .filter(col("cmin") < col("c"))
                .select(col("id").as("v"), col("deg"))
                .pin()
            } else {
              // wide-frontier shape: scan the edge table against the
              // changed set and attach v's current value broadcast-side;
              // only the survivors reach the distinct + checkpoint.
              // Broadcast guard on the CHANGED count, not the active
              // count: a wide round can evaluate >ceiling vertices yet
              // move only a handful, and losing the changed-set
              // broadcast there degrades the frontier pass to a full
              // 2|E| keyed shuffle. nActive <= ceiling already bounds
              // nChanged (changed ⊆ evaluated) with no action; only in
              // the >ceiling regime — where the round is already
              // full-shuffle-expensive — is one count job spent to
              // decide (skipped when the auto flip already measured it).
              // The count runs as its own TIMED val (visible in
              // GRAFT_DEMO_TIMING, computed exactly once per round)
              // rather than inline in the broadcast condition.
              val chBounded = nActive <= broadcastVertexCeiling ||
                knownChanged.getOrElse {
                  DevTiming("coreness", s"round $rounds: changed count")(
                    merged.filter(col("chg")).count())
                } <= broadcastVertexCeiling
              val chSide = if (chBounded) broadcast(changed) else changed
              val cNow = merged.select(col("id").as("cid"),
                col("c").as("cv"), col("deg"))
              val cvSide =
                if (nVerts <= broadcastVertexCeiling) broadcast(cNow)
                else cNow
              both.join(chSide, col("u") === col("chid"))
                .join(cvSide, col("v") === col("cid"))
                .filter(col("cnew") < col("cv"))
                .select(col("v"), col("deg")).distinct()
                .pin()
            })
          val naIds = graft.util.CheckpointGen.pinnedIds(nextActive)
          // ONE tiny action on the checkpointed frontier yields its
          // size, its exact incident-edge count (Σ deg) — next round's
          // join-direction decision — and, in bucketed mode, its bucket
          // set (≤ nBuckets ints) plus id-range for the pruned probe.
          val statAggs = Seq(count(lit(1)), sum(col("deg"))) ++
            (if (bucketedMode)
              Seq(collect_set(edgeBucket(col("v"), nBuckets)),
                min(col("v")), max(col("v")))
            else Nil)
          val stats = DevTiming("coreness", s"round $rounds: stats")(
            nextActive.agg(statAggs.head, statAggs.tail: _*).head())
          nActive = stats.getLong(0)
          nIncident = if (stats.isNullAt(1)) 0L else stats.getLong(1)
          hitBuckets =
            if (bucketedMode && nActive > 0) stats.getSeq[Int](2)
            else Seq.empty
          vRange =
            if (bucketedMode && nActive > 0)
              Some((stats.get(3), stats.get(4)))
            else None
          release(activeIds)
          if (nActive == 0) {
            release(naIds); active = None; activeIds = Set.empty
          } else {
            active = Some(nextActive.select(col("v"))); activeIds = naIds
          }
        }
        if (delta) advanceFrontier(knownChanged = None)
        else if (!auto) {
          // synchronous schedule: terminate on a no-change round, else
          // re-evaluate ALL vertices next round (active stays None = full
          // width); the frontier machinery never runs
          val nChanged = DevTiming("coreness", s"round $rounds: count changed")(
            merged.filter(col("chg")).count())
          nActive = if (nChanged == 0) 0 else nVerts
        } else {
          // ADAPTIVE schedule, sync phase: the termination action is
          // widened to (count, Σ deg) over the changed set — the same
          // single job — and the flip rule compares the next round's
          // candidate bound (Σ deg(changed): each changed vertex can
          // activate at most deg neighbors) against |V|/2 (see
          // corenessAdaptive's scaladoc for the measured rationale).
          val chStats = DevTiming("coreness", s"round $rounds: changed stats")(
            merged.filter(col("chg"))
              .agg(count(lit(1)), sum(col("deg"))).head())
          val nChanged = chStats.getLong(0)
          val chDeg = if (chStats.isNullAt(1)) 0L else chStats.getLong(1)
          if (nChanged == 0) nActive = 0
          else if (2 * chDeg < nVerts) {
            delta = true
            advanceFrontier(knownChanged = Some(nChanged))
          } else nActive = nVerts
        }
        release(touchedIds)
        release(cIds)
        c = merged.select(col("id"), col("c"), col("deg")); cIds = mergedIds
        rounds += 1
      }
      release(bothIds ++ activeIds)
      c.select(col("id"), col("c"))
    }
    caller.createDataFrame(result.rdd, result.schema)
      .select(col("id"), col("c").as("coreness"))
  }
}
