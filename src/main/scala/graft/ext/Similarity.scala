package graft.ext
import graft.util.Pin._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (SURVEY.md §2.3 north-star): cosine top-k and
  * near-dup over `Array[Float]` embedding columns.
  *
  * Numeric discipline: all arithmetic in double (cast once), dot products as
  * a left-to-right sequential fold — bit-identical to the DuckDB oracle's
  * list_dot_product over DOUBLE[].
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * streams the corpus — no shuffle at all, embarrassingly parallel, the right
  * baseline even at 100 TB when the query set fits in memory. The bucketed
  * LSH path bounds candidate generation via an equi-join on signature when
  * the query set itself is huge.
  */
object Similarity {

  /** External-query id convention (ADVICE r11): [[ivfPqSearchQueries]]'
    * caller contract is qids DISJOINT from corpus vec_ids — a colliding
    * qid would silently drop that corpus row from the candidates via the
    * nid ≠ qid guard instead of failing. Enforce the convention in one
    * place: offset external query ids by this constant (far outside every
    * fixture's and stress corpus's id space, which tops out at
    * replica·10⁹ + 10⁵ — the offset keeps qids in a band no corpus id
    * occupies because corpus ids within a replica stay < 10⁵). q236/q237's
    * Spark and oracle sides both add it.
    */
  val ExternalQueryIdOffset = 1000000L

  /** Cast a float array column to double once, up front. */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Sequential dot product — the codegen DotProduct expression (identical
    * left-to-right summation to the composable zip_with/aggregate fold, but
    * stays inside whole-stage codegen).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine = dot/(|a|·|b|) with the exact association the oracle uses. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Rank scored (qid, nid, cos) pairs to per-query top-k via the bounded
    * [[graft.functions.TopKNeighborsAgg]] aggregate: partials
    * keep only k rows per query per partition (map-side combine), so the
    * shuffle carries |queries|·k rows — never the full scored pair set the
    * row_number-window formulation would sort. Ties break on nid ASC,
    * identical to `ROW_NUMBER() OVER (ORDER BY cos DESC, nid ASC)`.
    *
    * Measured trade (sf0.1, 500k scored pairs): ~1 s slower than the window
    * locally — the typed aggregate pays a per-row encoder conversion the
    * codegen'd sort does not. Kept anyway: the window SORTS THE ENTIRE
    * scored set through one shuffle, which is the part that cannot survive
    * a billion-vector corpus; the aggregate's shuffle is O(|queries|·k).
    */
  private def topKPerQuery(scored: DataFrame, k: Int,
      keys: Seq[String] = Nil): DataFrame = {
    val group = (keys :+ "qid").map(col)
    scored.groupBy(group: _*)
      .agg(graft.functions.TopKNeighborsAgg
        .topkNeighbors(col("cos"), col("nid"), k).as("top"))
      .select(group :+ posexplode(col("top")).as(Seq("pos", "n")): _*)
      .select(group ++ Seq((col("pos") + 1).cast("int").as("rn"),
        col("n.nid").as("nid"), col("n.cos").as("cos")): _*)
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (self excluded), ties broken by neighbor id. Query side is
    * broadcast → BroadcastNestedLoopJoin, corpus side never shuffles; the
    * per-query top-k is a bounded aggregate (O(|queries|·k) shuffle).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
    val c = corpus.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("nv"))
    val scored = c.join(broadcast(q), col("nid") =!= col("qid"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    topKPerQuery(scored.select("qid", "nid", "cos"), k)
  }

  /** Near-dup pairs within a blocking partition (label): the IVF-coarse
    * idea — restrict the quadratic pair space to cells. Equi-join on the
    * block key, i < j, cosine >= threshold.
    */
  def blockedNearDupPairs(emb: DataFrame, blockCol: String, threshold: Double): DataFrame = {
    val a = emb.select(col(blockCol).as("block"), col("vec_id").as("i"),
      asDouble(col("embedding")).as("vi"))
    val b = emb.select(col(blockCol).as("block_b"), col("vec_id").as("j"),
      asDouble(col("embedding")).as("vj"))
    a.join(b, col("block") === col("block_b") && col("i") < col("j"))
      .withColumn("cos", cosine(col("vi"), col("vj")))
      .filter(col("cos") >= threshold)
      .select(col("block").as("label"), col("i"), col("j"), col("cos"))
  }

  /** THE pair-join shape rule (round-11's disk-spill lesson), as one
    * definition: cell-local score-then-distinct near-dup detection over a
    * multi-probe assignment table. `assigned` must be (vec_id, cells, v) —
    * the [[ivfAssignProbes]]/[[ivfAssignProbesTwoLevel]] output shape.
    * Probe rows CARRY their vector into the per-cell self-join, cosine is
    * a streamed FILTER on the join output, and only the (tiny) surviving
    * dup ids are ever distinct'd. The rejected shape — distinct the (i, j)
    * candidate pair set FIRST, then join both vectors back on — shuffles
    * |pairs|·|vec| bytes and was measured filling the box's disk at the
    * 100× corpus (~160M candidate pairs; q228's three pipelines in one
    * JVM). Here the only corpus-bearing shuffle is the probe table itself
    * (n·p rows hash-partitioned by cell — the bucketed co-location a
    * cluster would persist); a pair sharing multiple probed cells costs a
    * duplicate cosine instead of a pre-join distinct — orders cheaper than
    * shuffling vectors per pair. Returns the distinct one-column (dup_id)
    * set: vectors sharing a probed cell with a LOWER-id vector at
    * cosine ≥ tau (dup = higher id, q210's rule). SCALING.md's
    * score-then-distinct checklist row points here; q222/q226/q228 route
    * through this definition so the lesson cannot drift copy by copy.
    */
  def cellLocalDupIds(assigned: DataFrame, tau: Double): DataFrame = {
    val probes = assigned.select(col("vec_id"),
      explode(col("cells")).as("cell"), col("v"))
    probes.select(col("cell"), col("vec_id").as("i"), col("v").as("vi"))
      .join(probes.select(col("cell"), col("vec_id").as("j"),
        col("v").as("vj")), "cell")
      .filter(col("i") < col("j"))
      .filter(cosine(col("vi"), col("vj")) >= tau)
      .select(col("j").as("dup_id")).distinct()
  }

  /** [[cellLocalDupIds]]'s ingest-vs-corpus twin (same shape rule, one
    * definition for the streaming screens q233/q235): probe rows of an
    * ingest batch (`assigned`, the (vec_id, cells, v) assignment shape)
    * join corpus probe rows (`corpProbes`, pre-exploded (nid, cell, nv) —
    * built once from the persisted index and reused across micro-batches),
    * cosine streams as a filter, and only matched id PAIRS are distinct'd.
    * Returns distinct (vec_id, nid): ingest vector `vec_id` matched corpus
    * neighbor `nid` at cosine ≥ tau in some shared probed cell. Callers
    * aggregate to verdicts (q233 counts matches; q235 keeps only the
    * distinct dup ids).
    */
  def cellLocalScreen(assigned: DataFrame, corpProbes: DataFrame,
      tau: Double): DataFrame =
    assigned.select(col("vec_id"), explode(col("cells")).as("cell"),
        col("v"))
      .join(corpProbes, "cell")
      .filter(cosine(col("v"), col("nv")) >= tau)
      .select("vec_id", "nid").distinct()

  /** IVF coarse quantization with a deterministic quantizer: the first
    * `nCentroids` vectors act as cell centroids; every vector joins the cell
    * of its max-cosine centroid (ties → lowest centroid id). Centroids are
    * broadcast; assignment is a map-side pass — the standard two-level ANN
    * at scale (cells bound the candidate space like LSH buckets, but
    * data-adaptively).
    */
  def ivfAssign(emb: DataFrame, nCentroids: Int): DataFrame = {
    val e = asV(emb)
    val c = e.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // argmax as a hash aggregate (max_by on (cos, -cid)), not a window:
    // row_number needs a full sort shuffle of |vectors|×|centroids|, while
    // max_by partial-aggregates map-side — one tiny shuffle of |vectors|.
    // Struct comparison is lexicographic, so (ccos, -cid) = highest cosine,
    // ties to the lowest centroid id — identical to the old window order.
    e.crossJoin(broadcast(c))
      .withColumn("ccos", cosine(col("v"), col("cv")))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("neg")))
             .as("cell"),
           first(col("v")).as("v"))
      .select(col("vec_id"), col("cell"), col("v"))
  }

  /** Multi-probe IVF assignment: every vector lands in its `nProbe`
    * closest cells (cosine DESC, ties to the lowest centroid id), returned
    * as `(vec_id, cells, v)` with `cells` in probe-rank order — `cells(0)`
    * is the argmax cell [[ivfAssign]] would pick. This is the SemDeDup-side
    * twin of [[ivfProbeTopK]]'s query fan-out: when the *corpus* itself is
    * being deduplicated (q210), boundary pairs are only caught if at least
    * one of the two vectors probes across the boundary, so both sides
    * multi-assign and a pair is a candidate iff the probe sets intersect
    * (P(miss) falls exponentially in nProbe — measured on this corpus:
    * recall 0.38→0.92 at sf0.01 and 0.56→0.99 at sf0.1 going 1→4 probes at
    * 32 cells, q214). Scale shape: centroids broadcast, the per-vector
    * top-p is the bounded mergeable [[graft.functions.TopKNeighborsAgg]]
    * (partials keep p rows map-side — the |vectors|×|centroids| score
    * stream never shuffles), and candidate mass grows ~p²/cells for
    * p ≪ cells, so the cell count can rise with the corpus while recall
    * holds — the knob pairing q210's scaladoc demands.
    */
  def ivfAssignProbes(emb: DataFrame, nCentroids: Int, nProbe: Int): DataFrame =
    Flat(ivfCentroids(emb, nCentroids)).assign(asV(emb), nProbe)

  /** (vec_id, v): the double-cast vector every assignment and build reads. */
  private[graft] def asV(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))

  /** How an IVF index routes a vector to its probed cells — the one knob
    * that differs between the flat and the two-level index, so build,
    * append and query routing take it as a value instead of one entry
    * point per variant. `assign(e, nProbe)` maps `e` = (vec_id, v double[])
    * to the [[ivfAssignProbes]] shape (vec_id, cells, v), cells in
    * probe-rank order. A routing holds the EXPLICIT centroid tables an
    * index was built with — the seam incremental maintenance needs: an
    * append batch (or an external query) is assigned against the tables
    * the existing index was built from, never its own, so append and full
    * rebuild agree bit-for-bit (q223/q230).
    */
  sealed trait IvfRouting {
    def assign(e: DataFrame, nProbe: Int): DataFrame

    /** (qid, cell): external queries (qid, qv double[]) routed to their
      * `nProbe` probed cells — the `qcells` of [[ivfPqSearchQueries]].
      */
    def queryCells(queries: DataFrame, nProbe: Int): DataFrame =
      assign(queries.select(col("qid").as("vec_id"), col("qv").as("v")),
          nProbe)
        .select(col("vec_id").as("qid"), explode(col("cells")).as("cell"))
  }

  /** Flat routing over a (cid, cv) centroid table: every vector scores
    * every centroid (n·cells cosines), top-`nProbe` by cosine DESC, ties to
    * the lowest cid.
    */
  final case class Flat(centroids: DataFrame) extends IvfRouting {
    def assign(e: DataFrame, nProbe: Int): DataFrame =
      e.crossJoin(broadcast(centroids))
        .withColumn("ccos", cosine(col("v"), col("cv")))
        .groupBy("vec_id")
        .agg(graft.functions.TopKNeighborsAgg
               .topkNeighbors(col("ccos"), col("cid"), nProbe).as("top"),
             first(col("v")).as("v"))
        .select(col("vec_id"),
          transform(col("top"), _.getField("nid")).as("cells"), col("v"))
  }

  /** Two-level (coarse-quantized) routing — the missing autoscale
    * companion: once the cell count tracks the corpus (cells ∝ n, q222's
    * knob law), the FLAT assignment crossJoin performs n·cells cosines —
    * QUADRATIC in n. The 100× sweep measures exactly that term dominating
    * q222's leg. Standard fix (IVF-on-IVF): each FINE centroid routes to
    * its argmax coarse cell ([[routeFineCentroids]], cells·nCoarse cosines
    * — tiny), each vector probes its top-`gProbe` coarse cells
    * (n·nCoarse cosines) and scores ONLY the fine centroids routed there
    * (n·gProbe·cells/nCoarse expected). With nCoarse ≈ √cells both terms
    * are n·O(√cells) — an n^1.5 total growth law under cells ∝ n, vs the
    * flat path's n².
    *
    * `coarse` is (gid, gv); `fineRouted` is (cid, cv, gid). Both are part
    * of a two-level index's persisted state: derive them ONCE at build
    * time, persist them beside the index, and every append/refresh batch
    * reuses them — a batch then pays n·O(√cells) cosines instead of the
    * flat path's n·cells.
    *
    * Approximation contract: a fine centroid routed to none of a vector's
    * `gProbe` coarse cells is invisible to that vector; P(miss) falls
    * exponentially in gProbe (the q214 multi-probe boundary argument, one
    * level up). A vector whose probed coarse cells hold no fine centroid
    * drops from the output (deterministic — the q226 oracle mirrors the
    * same inner-join semantics).
    *
    * Scale shape: coarse centroids broadcast (√cells rows); the
    * fine-route table joins on `gid` WITHOUT a broadcast hint — at bench
    * scale AQE broadcasts it from runtime stats, and at the corpus sizes
    * where cells (∝ n) outgrows the broadcast threshold the same plan
    * degrades gracefully to a shuffle equi-join on gid, which both sides
    * can partition on. Both top-k reductions are the bounded mergeable
    * [[graft.functions.TopKNeighborsAgg]] (map-side partials; the score
    * streams never shuffle).
    */
  final case class TwoLevel(coarse: DataFrame, fineRouted: DataFrame,
      gProbe: Int) extends IvfRouting {
    def assign(e: DataFrame, nProbe: Int): DataFrame = {
      require(nProbe >= 1 && gProbe >= 1,
        s"TwoLevel.assign needs nProbe >= 1 and gProbe >= 1 " +
          s"(got nProbe=$nProbe, gProbe=$gProbe)")
      // vector → its top-gProbe coarse cells (cosine DESC, ties to lowest gid)
      val vecRouted = e.crossJoin(broadcast(coarse))
        .withColumn("gcos", cosine(col("v"), col("gv")))
        .groupBy("vec_id")
        .agg(graft.functions.TopKNeighborsAgg
               .topkNeighbors(col("gcos"), col("gid"), gProbe).as("gtop"),
             first(col("v")).as("v"))
        .select(col("vec_id"), col("v"),
          explode(transform(col("gtop"), _.getField("nid"))).as("gid"))
      // score only co-routed (vector, fine-centroid) pairs — unique by
      // construction (each fine centroid lives in exactly one coarse cell),
      // so no dedupe pass before the bounded top-k
      vecRouted.join(fineRouted, "gid")
        .withColumn("fcos", cosine(col("v"), col("cv")))
        .groupBy("vec_id")
        .agg(graft.functions.TopKNeighborsAgg
               .topkNeighbors(col("fcos"), col("cid"), nProbe).as("top"),
             first(col("v")).as("v"))
        .select(col("vec_id"),
          transform(col("top"), _.getField("nid")).as("cells"), col("v"))
    }
  }

  object TwoLevel {
    /** The first-`nCoarse` coarse and first-`nCentroids` fine centroids
      * (the deterministic stand-ins every oracle mirrors), fine routed.
      */
    def firstN(emb: DataFrame, nCentroids: Int, nCoarse: Int,
        gProbe: Int): TwoLevel = {
      // the drop-on-empty-probe contract makes a zero/negative knob look
      // like "every vector dropped" downstream — fail loudly instead
      // (ADVICE r10; assign guards nProbe and gProbe)
      require(nCentroids >= 1 && nCoarse >= 1,
        s"TwoLevel.firstN needs nCentroids >= 1 and nCoarse >= 1 " +
          s"(got nCentroids=$nCentroids, nCoarse=$nCoarse)")
      val coarse = ivfCoarseCentroids(emb, nCoarse)
      TwoLevel(coarse, routeFineCentroids(ivfCentroids(emb, nCentroids),
        coarse), gProbe)
    }
  }

  /** [[Flat]] routing over an explicit centroid table. */
  private[graft] def assignProbesWith(e: DataFrame, centroids: DataFrame,
      nProbe: Int): DataFrame = Flat(centroids).assign(e, nProbe)

  /** [[TwoLevel.firstN]] routing. Output shape = [[ivfAssignProbes]]. */
  def ivfAssignProbesTwoLevel(emb: DataFrame, nCentroids: Int, nProbe: Int,
      nCoarse: Int, gProbe: Int): DataFrame =
    TwoLevel.firstN(emb, nCentroids, nCoarse, gProbe).assign(asV(emb), nProbe)

  /** Fine centroid → its argmax coarse cell (the ivfAssign max_by shape:
    * highest cosine, ties to the lowest gid): (cid, cv, gid) — the
    * [[TwoLevel]] routing table.
    */
  def routeFineCentroids(fine: DataFrame, coarse: DataFrame): DataFrame =
    fine.crossJoin(broadcast(coarse))
      .withColumn("gcos", cosine(col("cv"), col("gv")))
      .groupBy("cid")
      .agg(max_by(col("gid"), struct(col("gcos"), (-col("gid")).as("neg")))
             .as("gid"),
           first(col("cv")).as("cv"))

  /** The first-`nCentroids` centroid table (cid, cv) — the deterministic
    * [[Flat]] stand-in; persist it beside the index for appends.
    */
  def ivfCentroids(emb: DataFrame, nCentroids: Int): DataFrame =
    asV(emb).filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"))

  /** The first-`nCoarse` coarse centroid table (gid, gv) — [[TwoLevel]]'s
    * second persisted table, alongside [[ivfCentroids]] routed through
    * [[routeFineCentroids]].
    */
  def ivfCoarseCentroids(emb: DataFrame, nCoarse: Int): DataFrame =
    asV(emb).filter(col("vec_id") < nCoarse)
      .select(col("vec_id").as("gid"), col("v").as("gv"))

  /** IVF with nprobe > 1: each query searches its `nprobe` closest cells
    * (not just the argmax cell), trading candidate volume for recall — the
    * standard IVF recall knob. Corpus vectors stay single-cell; only the
    * (small) query side fans out, so cost grows with |queries|·nprobe.
    *
    * EAGER: the returned frame is localCheckpoint-materialized at call time
    * (|queries|·k rows) so the corpus-sized assignment pin can be released
    * before returning — downstream filters do not reach the source scan.
    * Callers that want lazy composition drive [[ivfProbeSearch]] over their
    * own persisted assignment.
    */
  def ivfProbeTopK(emb: DataFrame, nCentroids: Int, k: Int,
                   queryPred: Column, nprobe: Int): DataFrame = {
    val assigned = ivfAssign(emb, nCentroids).cache()
    // same memory contract as ivfPqTopK: the corpus-sized assignment is
    // pinned only for the duration of the search — the |queries|·k result
    // materializes eagerly and the pin is released before returning
    try ivfProbeSearch(assigned, emb, nCentroids, k, queryPred, nprobe)
      .pin()
    finally assigned.unpersist(blocking = false)
  }

  /** The lazy multi-probe search pipeline over a (persisted) assignment
    * table — split out so plan tests and index-reusing callers can drive
    * it directly (the [[ivfProbeTopK]] wrapper adds the pin lifecycle).
    */
  private[graft] def ivfProbeSearch(assigned: DataFrame, emb: DataFrame,
      nCentroids: Int, k: Int, queryPred: Column, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = ivfCentroids(emb, nCentroids)
    val wProbe = Window.partitionBy("qid").orderBy(col("ccos").desc, col("cid").asc)
    val q = assigned.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .crossJoin(broadcast(c))
      .withColumn("ccos", cosine(col("qv"), col("cv")))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nprobe)
      .select(col("qid"), col("cid").as("cell"), col("qv"))
    val n = assigned.select(col("vec_id").as("nid"), col("cell"), col("v").as("nv"))
    val scored = q.join(n, Seq("cell")).filter(col("nid") =!= col("qid"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    topKPerQuery(scored.select("qid", "nid", "cos"), k)
  }

  /** IVF top-k: exact cosine top-k restricted to the query's cell. Same
    * pin lifecycle as [[ivfProbeTopK]] — and the same EAGER materialization:
    * the result is computed at call time; compose lazily via
    * [[ivfCellSearch]] instead.
    */
  def ivfTopK(emb: DataFrame, nCentroids: Int, k: Int, queryPred: Column): DataFrame = {
    val assigned = ivfAssign(emb, nCentroids).cache()
    try ivfCellSearch(assigned, k, queryPred).pin()
    finally assigned.unpersist(blocking = false)
  }

  /** The lazy single-cell search pipeline over a (persisted) assignment. */
  private[graft] def ivfCellSearch(assigned: DataFrame, k: Int,
      queryPred: Column): DataFrame = {
    val q = assigned.filter(queryPred)
      .select(col("vec_id").as("qid"), col("cell"), col("v").as("qv"))
    val n = assigned.select(col("vec_id").as("nid"), col("cell"), col("v").as("nv"))
    val scored = q.join(n, Seq("cell")).filter(col("nid") =!= col("qid"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    topKPerQuery(scored.select("qid", "nid", "cos"), k)
  }

  /** md5 of `s`, first 15 hex chars as a long — the same stable-hash recipe
    * the dedup oracles use (DuckDB: `('0x'||substr(md5(s),1,15))::BIGINT`).
    */
  private def md5Long15(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.substring(0, 15), 16)
  }

  /** Deterministic ±1 hyperplanes: component (bit i, dim j) is +1 iff
    * md5("i_j") is odd. Content-addressed, no RNG — every engine (and the
    * DuckDB oracle) derives bit-identical planes from the same recipe.
    */
  def md5Planes(bits: Int, dim: Int): Seq[Array[Double]] =
    (0 until bits).map(i =>
      Array.tabulate(dim)(j => if ((md5Long15(s"${i}_${j}") & 1L) == 1L) 1.0 else -1.0))

  /** ±1 random-hyperplane signatures, `bits` wide. Signature equality is the
    * LSH bucket key — the scale path for ANN when brute force is too wide.
    */
  def hyperplaneSignature(v: Column, dim: Int, bits: Int): Column =
    md5Planes(bits, dim).zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      when(dot(v, planeCol) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_ + _)

  /** LSH-bucketed approximate top-k: candidates share the signature bucket;
    * scoring/top-k as in brute force. Bucket recall < 1 by design, but the
    * md5-derived planes make the result fully deterministic → oracle-checked.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              dim: Int = 64, bits: Int = 8): DataFrame = {
    val sig = (v: Column) => hyperplaneSignature(v, dim, bits)
    val q = queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
      .withColumn("bucket", sig(col("qv")))
    val c = corpus.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("nv"))
      .withColumn("bucket", sig(col("nv")))
    val scored = q.join(c, Seq("bucket")).filter(col("nid") =!= col("qid"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    topKPerQuery(scored.select("qid", "nid", "cos"), k)
  }

  /** Per-band LSH signatures: `bands` codes of `bitsPerBand` hyperplane
    * bits each, as an array column (index = band id). Planes are the same
    * md5-parity recipe as [[hyperplaneSignature]], drawn from one pool of
    * `bands * bitsPerBand` planes so every band is independent.
    *
    * Backed by the codegen [[graft.functions.BandedSig]] expression (one
    * reference-object plane pool, constant-size generated loop) — the
    * composed literal-fold formulation below is kept only as the spec's
    * bit-identity reference; at 32×16 its 512-plane expression tree blew
    * the JIT method limit and de-optimized the projection to interpreted
    * eval (round-9 verdict item #1, q225 = 46.5 s).
    */
  def bandedSignature(v: Column, dim: Int, bands: Int, bitsPerBand: Int): Column =
    graft.functions.LshExpressions.bandedSig(v, dim, bands, bitsPerBand)

  /** The original composed formulation — the plane pool folded into the
    * expression tree as literals. Test-only reference for BandedSig's
    * bit-identity (LshBandedSigSpec); NOT for production use (see
    * [[bandedSignature]]'s codegen note).
    */
  private[graft] def bandedSignatureComposed(v: Column, dim: Int, bands: Int,
                                             bitsPerBand: Int): Column = {
    val planes = md5Planes(bands * bitsPerBand, dim)
    array((0 until bands).map { b =>
      (0 until bitsPerBand).map { j =>
        val p = planes(b * bitsPerBand + j)
        val planeCol = array(p.map(lit): _*)
        when(dot(v, planeCol) >= 0, shiftleft(lit(1L), j)).otherwise(0L)
      }.reduce(_ + _)
    }: _*)
  }

  /** Banded (OR-amplified) LSH top-k — the recall-knobbed ANN path. A
    * query/corpus pair is a candidate iff it collides in AT LEAST ONE of
    * `bands` codes of `bitsPerBand` bits (p_collide = 1-(1-p^r)^B, p =
    * 1-θ/π per hyperplane bit), so recall rises with `bands` and candidate
    * volume falls with `bitsPerBand` — same banding algebra as
    * `Dedup.minhashLshPairs`. Candidates are deduped BEFORE scoring
    * (ids only through the signature join — vectors are re-fetched after),
    * so each surviving pair is scored exactly once and the signature
    * shuffle carries (id, band, sig) triples, never embeddings.
    *
    * Tuning is corpus-relative: this engine's synthetic embeddings are
    * near-isotropic (true top-5 cosines ≈ 0.27–0.45 → per-bit p ≈ 0.59–
    * 0.65), so ≥0.9 recall forces wide probing — 48 bands × 6 bits
    * measures 0.92–0.94 recall at ~53% candidate mass (q201's eval). On a
    * production near-dup corpus (neighbor cos ≥ 0.9, p ≥ 0.86) the SAME
    * operator at 32 bands × 16 bits keeps ≥0.9 recall at a fraction of a
    * percent candidate mass — the knob, not the operator, encodes the
    * corpus geometry. MEASURED on a deterministic clustered corpus
    * (q225, hash-green): recall 1.0 at 0.13–0.27% candidate mass for
    * 32×16 vs recall 1.0 at ~53% for 48×6 — two orders of magnitude.
    *
    * Codegen note (round-10 fix): signatures come from the custom
    * [[graft.functions.BandedSig]] expression — the plane pool rides as
    * one reference object and the generated method is a constant-size
    * loop, so whole-stage codegen holds at ANY geometry (the old
    * literal-fold form blew the JIT method limit at 32×16 and silently
    * de-optimized to interpreted eval; LshBandedSigSpec pins both the
    * bit-identity and the generated-method size).
    */
  def lshBandedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                    dim: Int = 64, bands: Int = 48, bitsPerBand: Int = 6): DataFrame =
    lshBandedTopKFromCandidates(
      lshBandedCandidates(queries, corpus, dim, bands, bitsPerBand),
      queries, corpus, k)

  /** The banded-LSH DISTINCT candidate pair set (qid, nid) — the two
    * signature passes + bucket equi-join + dedupe of [[lshBandedTopK]],
    * split out (r21) so an eval that needs BOTH the ranked hits and the
    * candidate mass (q225) derives the pair set ONCE and feeds it to
    * [[lshBandedTopKFromCandidates]] + a count, instead of running the
    * whole signature/join/distinct chain twice per knob.
    */
  def lshBandedCandidates(queries: DataFrame, corpus: DataFrame,
      dim: Int = 64, bands: Int = 48, bitsPerBand: Int = 6): DataFrame = {
    val qsig = queries.select(col("vec_id").as("qid"),
      posexplode(bandedSignature(asDouble(col("embedding")), dim, bands,
        bitsPerBand)).as(Seq("band", "bsig")))
    val csig = corpus.select(col("vec_id").as("nid"),
      posexplode(bandedSignature(asDouble(col("embedding")), dim, bands,
        bitsPerBand)).as(Seq("band", "bsig")))
    qsig.join(csig, Seq("band", "bsig"))
      .filter(col("nid") =!= col("qid"))
      .select("qid", "nid").distinct()
  }

  /** Score + rank a (qid, nid) candidate set exactly as [[lshBandedTopK]]
    * does — ids-only through the candidate derivation, vectors re-fetched
    * here, bounded per-query top-k.
    */
  def lshBandedTopKFromCandidates(cand: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
    val c = corpus.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("nv"))
    val scored = cand.join(c, Seq("nid")).join(broadcast(q), Seq("qid"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    topKPerQuery(scored.select("qid", "nid", "cos"), k)
  }

  /** Hard-negative mining: for each anchor, the k highest-cosine corpus
    * vectors with a DIFFERENT label — the "confusable but wrong" examples
    * contrastive training wants (vs q203's random negatives). Same shape as
    * [[bruteForceTopK]]: anchors broadcast, corpus streams map-side, the
    * label exclusion rides the join predicate, and the per-anchor top-k is
    * the bounded aggregate — O(|anchors|·k) shuffle, no corpus movement.
    */
  def hardNegativeTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("label").as("qlabel"),
      asDouble(col("embedding")).as("qv"))
    val c = corpus.select(col("vec_id").as("nid"), col("label").as("nlabel"),
      asDouble(col("embedding")).as("nv"))
    val scored = c.join(broadcast(q),
        col("nid") =!= col("qid") && col("nlabel") =!= col("qlabel"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    topKPerQuery(scored.select("qid", "nid", "cos"), k)
  }

  /** Product quantization: split each vector into `nSub` subspaces of
    * `subDim` dims, assign each subvector to the nearest of `nCent`
    * deterministic codebook centroids (md5-parity ±1 corners — the
    * [[md5Planes]] recipe keyed "sub_cid_dim", so the DuckDB oracle rebuilds
    * the identical codebook), and emit the packed code plus the total
    * quantization error. This is the compression leg of IVF-PQ — at scale
    * the 8-byte code stands in for the 256-byte vector in candidate scoring.
    *
    * Scale shape: assignment is a PURE MAP — no join, no shuffle, one
    * custom codegen expression; only the final orderBy (a display
    * concern) moves data. Numeric discipline: each squared term is
    * snapped to int64 micro-units (`floor(t²·1e6)` of bit-identical
    * doubles — float→double is exact, centroid ±1 exact, IEEE sub/mul
    * deterministic, and floor reads the BINARY double, so both engines
    * agree by construction with no decimal-midpoint sensitivity), so
    * distances, argmins, and the emitted error are integer-exact on both
    * engines.
    */
  def productQuantize(emb: DataFrame, nSub: Int = 8, subDim: Int = 8,
                      nCent: Int = 16): DataFrame = {
    // geometry is fixed by the shared PqCodebook the custom expression and
    // every oracle CTE derive their corners from
    require(nSub == graft.functions.PqCodebook.nSub
        && subDim == graft.functions.PqCodebook.subDim
        && nCent == graft.functions.PqCodebook.nCent,
      s"productQuantize is pinned to the ${graft.functions.PqCodebook.nSub}x" +
        s"${graft.functions.PqCodebook.nCent}x${graft.functions.PqCodebook.subDim} codebook")
    // One custom codegen expression (PqEncode), not the codebook folded
    // into ~1024 literal expression nodes: the folded tree serialized
    // 6.3 MiB task binaries and cost ~1.3 s FIXED per job at any row
    // count; the expression carries the codebook as one 8 KiB reference
    // object and loops in generated code. Same floor-snapped int64 terms,
    // same argmin tie rule (lowest cid) — bit-identical output.
    emb.select(col("vec_id"),
        graft.functions.PqExpressions.pqEncode(col("embedding")).as("pq"))
      .select(col("vec_id"), col("pq").getField("pq_code").as("pq_code"),
        col("pq").getField("err_micro").as("err_micro"))
  }

  /** Per-query ADC lookup table: entry `sub*nCent + cid` holds the exact
    * int64 micro-unit squared distance from the query's `sub`-th subvector
    * to corner `cid` — the same floor-snapped terms and int64 sums as
    * [[productQuantize]]'s encoder, precomputed ONCE per query row by the
    * custom [[graft.functions.AdcLut]] codegen expression. This is the
    * classic ADC table trick (Jégou et al., TPAMI 2011 §III): scoring a
    * candidate collapses from the full (subs × dims × corners) expression
    * tree to `nSub` array lookups ([[adcDist2MicroLut]]). The structural
    * point on Spark: Catalyst's CollapseProject inlines a once-referenced
    * score column into the TopK aggregate's child, and
    * ObjectHashAggregateExec evaluates that child INTERPRETED per row —
    * measured 4.9 s for 60k candidates with the inline codebook tree vs
    * milliseconds with the table (the table itself is built on the tiny
    * broadcast query side, |queries| rows).
    */
  private[graft] def adcLut(qv: Column): Column =
    graft.functions.PqExpressions.adcLut(qv)

  /** ADC distance via the precomputed [[adcLut]] table: sum of one table
    * lookup per subspace. Bit-identical to [[adcDist2Micro]] — int64
    * addition over the same per-subspace sums, regrouped.
    */
  private[graft] def adcDist2MicroLut(lut: Column, code: Column,
      nSub: Int = 8, nCent: Int = 16): Column =
    (0 until nSub).map { sub =>
      val cid = shiftright(code, 4 * sub).bitwiseAND(lit(15L)).cast("int")
      element_at(lut, cid + lit(sub * nCent + 1))
    }.reduce(_ + _)

  /** Composed IVF-PQ ANN search — the 100 TB architecture the two legs
    * ([[ivfAssignProbes]] coarse cells, [[productQuantize]] codes) exist
    * for. Three stages, each bounded:
    *   1. PROBE — queries fan out to their `nprobe` nearest cells;
    *      candidates are the corpus vectors whose argmax cell is probed.
    *      The candidate join carries (nid, cell, pq_code) — the 8-BYTE
    *      CODE, never the 256-byte vector (asserted by plan test).
    *   2. SHORTLIST — candidates are ranked per query by integer-exact
    *      ADC against broadcast per-query lookup tables ([[adcLut]] /
    *      [[adcDist2MicroLut]] — same arithmetic as [[adcDist2Micro]]),
    *      and the bounded mergeable TopKNeighborsAgg keeps `rerank` per
    *      query (map-side partials — the ADC score stream never shuffles).
    *   3. RERANK — only the `|queries|·rerank` survivors fetch their full
    *      vectors (ids broadcast back to the pinned corpus) for exact
    *      cosine; final top-k via the same bounded aggregate.
    * One corpus-wide centroid scoring pass (pinned and shared by the
    * corpus-cell and query-probe sides), one code pass, and per-query
    * bounded work after that.
    *
    * Tuning is corpus-relative (same algebra as [[lshBandedTopK]]): this
    * corpus is near-isotropic (true top-5 cosines ≈ 0.27–0.45), so
    * neighbors spread across cells and ADC corners carry little signal —
    * 24/32 probed cells + rerank 480 measures recall 0.86/0.84 (q217).
    * On a production clustered corpus (neighbor cos ≥ 0.9) neighbors
    * concentrate in the argmax cell: nprobe 2–8 of thousands of cells
    * and rerank ~4k of billions hold ≥0.9 recall at ~0.1% candidate
    * mass — the knobs, not the operator, encode the corpus geometry.
    *
    * Memory contract: [[buildIvfPqIndexWith]] is the classic one-time
    * index build (probe assignment + codes, one table) — a production
    * deployment persists it ONCE (parquet/cached table) and runs every
    * search against it via [[ivfPqSearchIndexed]]. This convenience
    * wrapper builds the index, pins it only for the duration of the
    * search (the search result — |queries|·k rows — is materialized
    * eagerly), and releases the corpus-sized blocks before returning:
    * after it returns, the session holds no corpus-sized pins
    * (spec-asserted via `getPersistentRDDs` in Round8Spec). The trade of
    * that contract: the returned frame is EAGER (localCheckpoint), so
    * search cost is paid at call time and downstream predicates never
    * prune the build — use [[buildIvfPqIndexWith]] +
    * [[ivfPqSearchIndexed]] for lazy composition over a caller-owned index.
    */
  def ivfPqTopK(emb: DataFrame, nCentroids: Int, k: Int, queryPred: Column,
                nprobe: Int, rerank: Int): DataFrame = {
    val index = buildIvfPqIndexWith(emb, ivfCentroids(emb, nCentroids), nprobe)
      .persist()
    try ivfPqSearchIndexed(index, k, queryPred, rerank).pin()
    finally index.unpersist(blocking = false)
  }

  /** The one IVF-PQ index build: (vec_id, cells, v, pq_code) — each
    * vector's `nprobe` probed cells under `routing` (cells(0) is its home
    * cell), its full vector, and its 8-byte PQ code. ONE corpus-wide
    * centroid-scoring pass + one encode projection; the caller persists
    * the result (cache for a session, parquet table for a corpus) and
    * amortizes it across every subsequent search — the operator itself
    * holds no state. [[Flat]] over [[ivfCentroids]] is the first-n build,
    * over [[kmeansCentroids]] the refresh (a refresh re-cells the whole
    * corpus: the full re-index the append scaladoc names). [[TwoLevel]]
    * is the build the autoscale law needs: with cells ∝ n the flat
    * assignment is n·cells = n²/100 cosines, the two-level one
    * n·O(√cells), while search is unchanged — it reads whatever `cells`
    * list the index carries (q227 end-to-end, q231 with k-means-refreshed
    * fine centroids).
    */
  def buildIvfPqIndexWith(emb: DataFrame, routing: IvfRouting,
      nprobe: Int): DataFrame =
    withPqCode(routing.assign(asV(emb), nprobe))

  /** [[Flat]] over a (cid, cv) `centroids` table. */
  def buildIvfPqIndexWith(emb: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = buildIvfPqIndexWith(emb, Flat(centroids), nprobe)

  /** PQ code as a POST-ASSIGNMENT projection over the carried double
    * vector — the build/append shape fix (r21, guide §2.4): every index
    * build used to run a SEPARATE [[productQuantize]] pass over the same
    * corpus and equi-join it back on vec_id — an extra corpus scan branch
    * + exchange + join (broadcast at bench scale, sort-merge once the
    * n-row code table outgrows the threshold) for a column that is a pure
    * per-row function of the vector the assignment aggregate already
    * carries. pq_encode(v)
    * over the double-cast vector is bit-identical to pq_encode(embedding)
    * over the float source (float→double is exact; PqArrayInput reads
    * both widths through the same getter), so the join collapses to a
    * projection. Column order (vec_id, cells, v, pq_code) matches the
    * retired join's output.
    */
  private def withPqCode(assigned: DataFrame): DataFrame =
    assigned.withColumn("pq_code",
      graft.functions.PqExpressions.pqEncode(col("v")).getField("pq_code"))

  /** Incremental index maintenance: build ONLY the new batch under the
    * routing the existing index was built with, and union it on. Work is
    * O(|batch|·cells) flat, |batch|·O(√cells) two-level — the existing
    * index is touched only by the (lazy, schema-preserving) union, so
    * appending a day's ingest to a 100 TB index never rescans the corpus.
    * Because the batch routes against the SAME tables, append-then-search
    * is bit-identical to a full rebuild over old ∪ new (q223 proves this
    * against q216's oracle, q230 against q227's). Centroid drift is the
    * caller's policy knob: re-deriving centroids (periodic k-means
    * refresh) changes cell geometry and requires the classic full
    * re-index. A per-epoch delta for an index store is the build alone.
    */
  def appendToIvfPqIndex(index: DataFrame, routing: IvfRouting,
      newEmb: DataFrame, nprobe: Int): DataFrame =
    index.unionByName(buildIvfPqIndexWith(newEmb, routing, nprobe))

  /** [[Flat]] over a (cid, cv) `centroids` table. */
  def appendToIvfPqIndex(index: DataFrame, centroids: DataFrame,
      newEmb: DataFrame, nprobe: Int): DataFrame =
    appendToIvfPqIndex(index, Flat(centroids), newEmb, nprobe)

  /** Compact a fragmented index store into `nFiles` cell-clustered output
    * partitions — the maintenance op every per-epoch append sink needs:
    * [[appendToIvfPqIndex]] deltas landed by a streaming writer (the
    * q235/q245 overwrite-by-epoch discipline) accumulate one small dir
    * per epoch, and a year of epochs turns every index scan into a
    * file-open storm (the measured r14 lesson: the bucketed posting
    * probe's per-file overhead exceeded its pruning savings at ~25 KB
    * files — file COUNT is a first-class scale variable). Compaction is
    * one distributed rewrite: range-partition to target-size files keyed
    * by the primary cell (`cells[0]`), rows sorted within each, so a
    * probed read prunes at BOTH levels — file (a cell's rows land in one
    * range partition) and row-group (parquet min/max stats on the sorted
    * column). Row-preserving by
    * construction (a repartition + intra-partition sort changes layout,
    * never content) — q246 hash-checks search-after-compaction against
    * the full search oracle, and Round14Spec pins the file-count drop.
    * At 100 TB the same rewrite runs per partition-range on the exploded
    * posting layout; nFiles follows total bytes / target block size.
    */
  def compactIndex(fragmented: DataFrame, nFiles: Int): DataFrame = {
    require(nFiles > 0, s"compactIndex needs nFiles > 0 (got $nFiles)")
    // range-partition BY primary cell (not round-robin): a round-robin
    // repartition scatters each cell across all nFiles outputs, so a
    // probed read still opens every file — range partitioning keeps a
    // cell's rows in ONE file (modulo range boundaries), giving
    // file-level pruning on top of the within-file row-group locality
    // the intra-partition sort provides.
    fragmented.repartitionByRange(nFiles, element_at(col("cells"), 1))
      .sortWithinPartitions(element_at(col("cells"), 1))
  }

  /** Filtered ANN search with the STRATEGY CHOSEN BY THE COST RULE the
    * q238 eval measured, instead of a caller knob (r14 verdict #9). The
    * crossover sits where the shared unfiltered overfetch is expected to
    * cover k after filtering: survivors ≈ s·overfetch (s = the
    * predicate's selectivity over the indexed corpus), so
    *   post-filter iff |allowed|·overfetch ≥ k·|corpus|
    * (integer-exact — no fp selectivity), else pre-filter. Above the tie
    * point post-filter matches pre-filter recall at lower cost (ONE
    * unfiltered search serves every predicate); below it only ~s·overfetch
    * of the overfetched rows survive the filter and recall collapses
    * (q238 measured: en-scale predicates tie, zh-scale post drops to
    * 0.20-0.28 while pre holds ≥ 0.53), so the rule routes to the
    * allowed-only index. The two stat lookups are one distinct-count
    * aggregate each — the cardinalities a production planner reads from
    * table stats. A REPEATED-predicate serving path should pass them
    * precomputed via `stats = Some((nCorpus, nAllowed))` (r15 verdict #8)
    * instead of re-counting the index per call: the rule consumes only
    * the two integers, so cached stats change nothing but the two scans
    * (Round16Spec pins stats-passed ≡ derived, and that doctored stats
    * actually flip the route — the numbers drive the rule, not the data).
    * Returns (strategy, per-query top-k).
    */
  def filteredAnnSearchAuto(index: DataFrame, xq: DataFrame,
      qcells: DataFrame, allowedIds: DataFrame, k: Int, overfetch: Int,
      rerank: Int, stats: Option[(Long, Long)] = None)
      : (String, DataFrame) = {
    require(overfetch >= k, s"overfetch ($overfetch) must be >= k ($k)")
    val ids = index.select("vec_id").distinct()
    val allowed = allowedIds.select(col(allowedIds.columns.head).as("vec_id"))
    val (nCorpus, nAllowed) = stats.getOrElse((ids.count(),
      ids.join(allowed, Seq("vec_id"), "left_semi").count()))
    if (nAllowed * overfetch >= k.toLong * nCorpus) {
      val over = ivfPqSearchQueries(index, xq, qcells, overfetch, rerank)
      val post = over.join(allowed, over("nid") === allowed("vec_id"),
          "left_semi")
        .withColumn("rn2", row_number().over(org.apache.spark.sql
          .expressions.Window.partitionBy("qid").orderBy(col("rn").asc)))
        .filter(col("rn2") <= k)
        .select(col("qid"), col("rn2").as("rn"), col("nid"), col("cos"))
      ("post", post)
    } else {
      val fIndex = index.join(allowed, Seq("vec_id"), "left_semi")
      ("pre", ivfPqSearchQueries(fIndex, xq, qcells, k, rerank))
    }
  }

  // ---- On-disk index store with a COMPACTION POLICY ----
  // [[compactIndex]] is the operator; these seams make it a POLICY (r14
  // verdict #3): an append stream lands per-epoch deltas, and when the
  // CURRENT VIEW's data-file count crosses a threshold the store folds
  // itself into a new generation mid-stream — the automated consumer of
  // the measured file-count law (SCALING.md: per-file open overhead
  // exceeded pruning savings at ~25 KB files; nFiles follows bytes /
  // target block size in production, a file count here where the fixture
  // files are uniformly tiny). Layout under `storeRoot`:
  //   gens/g=<E>    — generation folded through delta epoch E (base −1);
  //                   current = the LARGEST E whose write completed
  //                   (_SUCCESS marker — a crashed compaction is invisible)
  //   deltas/epoch=<E> — per-epoch append deltas (idempotent overwrites)
  // The view = current generation ∪ deltas with epoch > its fold point.
  // Folded deltas and old generations are never deleted here (GC cadence
  // is a deployment policy); they simply leave the view, so compaction is
  // crash-safe the same way the CC store's generations are: readers key on
  // the last COMPLETE generation and every write is epoch-keyed.

  // the store's (base, delta) pair as the shared generational seam — one
  // implementation of the _SUCCESS gating, latest-complete-base rule, and
  // GC for this store and the CC store (r16 verdict #2; crash semantics
  // documented once on GenStore)
  private def genStore(storeRoot: String) = graft.util.GenStore(
    s"$storeRoot/gens", s"$storeRoot/deltas", "g=", "epoch=")

  private def currentGen(storeRoot: String): Long =
    genStore(storeRoot).latestCompleteBase()

  /** The store's current contents: the latest complete generation ∪ the
    * delta epochs past its fold point. Lazy — callers compose it into
    * search/probe plans; the delta scan is partition-pruned to
    * `epoch > fold` at the source. Delta epochs are _SUCCESS-gated like
    * generations (r15 ADVICE #4): a crashed delta write leaves a partial
    * epoch dir, and a STANDALONE reader between the crash and the stream
    * restart must not serve its partial rows — the restarted stream
    * re-delivers that epoch and its idempotent overwrite re-marks it, at
    * which point it re-enters the view complete.
    */
  def indexStoreView(s: org.apache.spark.sql.SparkSession,
      storeRoot: String): DataFrame = genStore(storeRoot).unionView(s)

  /** Data-file count of the CURRENT VIEW (not the whole root — folded
    * deltas and superseded generations are out of the read path and must
    * not retrigger compaction). Driver-side walk; generation counts are
    * policy-bounded.
    */
  def storeViewFileCount(storeRoot: String): Long =
    genStore(storeRoot).viewFileCount

  /** The policy: fold the view into generation `epoch` when its file
    * count exceeds `maxFiles`. Returns (filesBefore, filesAfter) when it
    * fired. Row-preserving ([[compactIndex]]), so search over the view is
    * invariant across the trigger — q253 drives this mid-stream against
    * q235's oracle; Round15Spec pins the count drop + content identity.
    */
  def compactStoreIfNeeded(s: org.apache.spark.sql.SparkSession,
      storeRoot: String, maxFiles: Long, targetFiles: Int,
      epoch: Long): Option[(Long, Long)] = {
    // epoch <= currentGen means THIS epoch's fold already committed (a
    // re-delivered epoch after a crash-before-checkpoint) — folding again
    // would read gens/g=<epoch> through the view while overwriting the
    // same path (self-overwrite), and a fold below current could never
    // become current, re-firing forever. Skipping reproduces exactly the
    // post-fold state the uninterrupted run reaches (r15 ADVICE #2).
    if (epoch <= currentGen(storeRoot)) return None
    val before = storeViewFileCount(storeRoot)
    if (before <= maxFiles) None
    else {
      compactIndex(indexStoreView(s, storeRoot), targetFiles)
        .write.mode("overwrite").parquet(s"$storeRoot/gens/g=$epoch")
      val after = storeViewFileCount(storeRoot)
      // a policy that fires without shrinking the view (targetFiles set
      // at or above the live count) would re-fire every epoch — fail
      // loudly instead of looping.
      require(after < before, s"compactStoreIfNeeded did not shrink the " +
        s"view ($before -> $after files) — raise maxFiles or lower " +
        s"targetFiles ($targetFiles)")
      Some((before, after))
    }
  }

  /** Store GC — [[graft.util.GenStore.gc]]: delete every generation
    * superseded by the retained ones, CRASHED generation stubs
    * (_SUCCESS-less at ANY epoch — under the run-after-a-fold contract no
    * fold is in flight, so an incomplete dir is a crash leftover), and
    * every delta at or below the oldest retained generation (they left
    * the read path when the fold committed; [[indexStoreView]] never
    * reads them). Runs AFTER a fold, never concurrently with one — the
    * deployment cadence knob. `retainBases` is the snapshot-isolation
    * knob (r16 verdict #4): 1 (default) keeps only the current
    * generation — the original layout; a deployment with standalone
    * serving readers sets 2+ so a view resolved just before a fold+GC
    * still reads its generation. Returns the number of directories
    * removed. Crash-safe against its own interruption for the same
    * reason the fold is: a half-deleted superseded dir was already out
    * of the view.
    */
  def gcStore(storeRoot: String, retainBases: Int = 1): Int =
    genStore(storeRoot).gc(retainBases)

  /** IVF-PQ search against a prebuilt (ideally persisted)
    * [[buildIvfPqIndexWith]] table. Lazy — consumes the index four times
    * (corpus cells, query probes, query vectors, rerank re-fetch), so an
    * unpersisted index recomputes its build per consumer.
    */
  def ivfPqSearchIndexed(index: DataFrame, k: Int, queryPred: Column,
                         rerank: Int): DataFrame =
    // self-queries ARE corpus rows under their own ids — the nid ≠ qid
    // guard is doing exactly its job here, so this path goes straight to
    // the impl and never trips the external-contract debug gate
    ivfPqSearchImpl(index,
      index.filter(queryPred)
        .select(col("vec_id").as("qid"), col("v").as("qv")),
      index.filter(queryPred)
        .select(col("vec_id").as("qid"), explode(col("cells")).as("cell")),
      k, rerank)

  /** Spark-conf key for the [[ivfPqSearchQueries]] qid-disjointness debug
    * gate: when "true", the external search pays one flag-gated semi-join
    * probe of the index's id column and FAILS LOUDLY on a colliding qid
    * instead of silently dropping that corpus row from the candidates
    * (ADVICE r11/r12 — the contract was documentation-only). Off by
    * default: production searches pay nothing; specs and debug sessions
    * set it. [[ExternalQueryIdOffset]] remains the one sanctioned qid
    * construction (q236/q237/q238 all route through
    * VectorQueries.externalQueries, which applies it).
    */
  val AssertQidDisjointConf = "spark.graft.debug.assertQidDisjoint"

  /** IVF-PQ search for EXTERNAL queries — the production search path: the
    * query vectors need not be index members (a user searching a corpus
    * with NEW embeddings). `queries` is (qid, qv double[]); `qcells` is
    * (qid, cell), the queries' probe assignment against the SAME centroid
    * geometry the index was built with (the index's [[IvfRouting]]
    * `assign` over the persisted tables, exploded) — assignment stays a
    * seam so the caller picks the routing that matches the index's scale
    * knob. [[ivfPqSearchIndexed]] is this with queries drawn from the
    * index itself. Caller contract: qids
    * disjoint from corpus vec_ids (the nid ≠ qid guard only suppresses
    * literal id collisions, it cannot de-alias a query that IS a corpus
    * row under a different id). Scale shape unchanged: queries/LUTs/
    * shortlists broadcast (q-sized), corpus vectors never shuffle, both
    * reductions bounded mergeable TopKNeighborsAgg.
    */
  def ivfPqSearchQueries(index: DataFrame, queries: DataFrame,
                         qcells: DataFrame, k: Int, rerank: Int): DataFrame = {
    if (index.sparkSession.conf
        .getOption(AssertQidDisjointConf).contains("true")) {
      val collisions = queries.select(col("qid").as("vec_id"))
        .join(index.select("vec_id"), Seq("vec_id"), "left_semi")
        .limit(5).collect().map(_.getLong(0))
      require(collisions.isEmpty,
        s"external query ids collide with corpus vec_ids " +
          s"(${collisions.mkString(", ")}): the nid != qid guard would " +
          "silently drop those corpus rows from the candidates — offset " +
          "qids by Similarity.ExternalQueryIdOffset")
    }
    ivfPqSearchImpl(index, queries, qcells, k, rerank)
  }

  /** (nid, cell, pq_code): every index row under its home cell — the
    * candidate side of a search. The candidate join carries the 8-BYTE
    * CODE, never the 256-byte vector (asserted by plan test).
    */
  private[graft] def ivfCodes(index: DataFrame): DataFrame =
    index.select(col("vec_id").as("nid"), col("cells").getItem(0).as("cell"),
      col("pq_code"))

  /** The one probe → ADC shortlist → exact rerank chain behind every
    * IVF-PQ search. `corpus` is the candidate side, [[ivfCodes]] of the
    * index unless given; `index` supplies the rerank vectors (vec_id, v).
    * Optional leading `keys` columns on `qcells`, `corpus` and the output
    * run several independent searches in one pass (q238's legs): a
    * candidate meets only the probes of its own key and both top-k
    * reductions group by (keys…, qid), so each key's rows equal its own
    * unkeyed search (Round11Spec pins it), while the rerank still reads
    * (vec_id, v) once, joined on nid, not once per key. Output:
    * (keys…, qid, rn, nid, cos).
    */
  private[graft] def ivfPqSearchImpl(index: DataFrame, queries: DataFrame,
      qcells: DataFrame, k: Int, rerank: Int, keys: Seq[String] = Nil,
      corpus: Option[DataFrame] = None): DataFrame = {
    val group = (keys :+ "qid").map(col)
    val qv = queries.select(col("qid"), col("qv"))
    val cand = qcells.join(corpus.getOrElse(ivfCodes(index)), keys :+ "cell")
      .filter(col("nid") =!= col("qid"))
    // ADC table on the broadcast query side (|queries| rows pay the full
    // codebook expression once); candidates pay nSub lookups each — see
    // adcLut for why the inline formulation is a per-row interpreted trap
    val qlut = qv.withColumn("lut", adcLut(col("qv")))
    val scored = cand.join(broadcast(qlut), Seq("qid"))
      .withColumn("nadc",
        (-adcDist2MicroLut(col("lut"), col("pq_code"))).cast("double"))
    val short = scored.groupBy(group: _*)
      .agg(graft.functions.TopKNeighborsAgg
        .topkNeighbors(col("nadc"), col("nid"), rerank).as("top"))
      .select(group :+ explode(col("top")).as("n"): _*)
      .select(group :+ col("n").getField("nid").as("nid"): _*)
    val nvec = index.select(col("vec_id").as("nid"), col("v").as("nv"))
    val rescored = nvec.join(broadcast(short), Seq("nid"))
      .join(broadcast(qv), Seq("qid"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
    topKPerQuery(rescored.select(group ++ Seq(col("nid"), col("cos")): _*),
      k, keys)
  }

  /** Iterative Lloyd k-means over an embedding column (Euclidean).
    *
    * Deterministic init (the k lowest-vec_id vectors — swap in k-means++
    * sampling for production corpora), then `iterations` rounds of:
    * E-step — assign each vector to its nearest centroid (argmin as a
    * broadcast cross join + `min_by` hash aggregate: one |vectors|-row
    * shuffle, never a |vectors|×k window sort); M-step — new centroids as
    * per-(cluster, dim) means over exploded coordinates (one
    * partially-aggregated shuffle keyed on (cluster, dim); centroids are
    * re-assembled with `array_agg` over a deterministic dim sort).
    *
    * Iterative dataflow discipline (same as Dedup.connectedComponents):
    * each round's centroids are TINY (k × dim) — they collect to the
    * driver and re-broadcast, so the lineage never grows with iterations
    * and no checkpointing is needed. Returns (vec_id, cluster, dist).
    */
  def kmeans(emb: DataFrame, k: Int, iterations: Int): DataFrame = {
    require(k > 0 && iterations > 0, s"kmeans needs k > 0 and iterations > 0 (got k=$k, iterations=$iterations)")
    val e = asV(emb).cache()
    try {
      // M-step skipped after the FINAL E-step — those centroids would be
      // discarded (a full corpus-wide shuffle + collect for nothing)
      val (assigned, _) = lloyd(e, firstNInit(e, k), iterations,
        mAfterLast = false)
      // materialize the final E-step (the only action that runs it), so the
      // cached projection can be released below and downstream reads are free
      assigned.select("vec_id", "cluster", "dist").pin()
    } finally e.unpersist()
  }

  /** Converged k-means centroid table (cid, cv) — the production centroid
    * REFRESH path every first-`n` stand-in in this file names: feed it to
    * [[assignProbesWith]]/[[buildIvfPqIndexWith]] (or persist beside the
    * index for [[appendToIvfPqIndex]]) when cell balance matters more than
    * the deterministic-oracle convenience of first-n ids. Runs the full
    * E+M loop `iterations` times; only k·dim numbers ever reach the
    * driver per round, same as [[kmeans]].
    */
  def kmeansCentroids(emb: DataFrame, k: Int, iterations: Int): DataFrame = {
    require(k > 0 && iterations > 0, s"kmeansCentroids needs k > 0 and iterations > 0 (got k=$k, iterations=$iterations)")
    val spark = emb.sparkSession
    val e = asV(emb).cache()
    try {
      val (_, centroids) = lloyd(e, firstNInit(e, k), iterations,
        mAfterLast = true)
      import spark.implicits._
      centroids.toSeq.toDF("cid", "cv")
    } finally e.unpersist()
  }

  /** The deterministic first-`k` (lowest vec_id) init every oracle-checked
    * query uses — DuckDB replicates it as `WHERE vec_id < k`.
    */
  private def firstNInit(e: DataFrame, k: Int): Array[(Long, Seq[Double])] = {
    val init = e.orderBy("vec_id").limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](1)) }
    require(init.length == k, s"corpus has only ${init.length} vectors for k=$k")
    init
  }

  /** Seeded k-means++ initialization (Arthur & Vassilvitskii, SODA 2007) —
    * the production init the first-n stand-in's scaladocs have named since
    * round 8: centroid t+1 is sampled with probability ∝ D²(x) (squared
    * distance to the nearest already-chosen centroid), which bounds the
    * expected quantization error at O(log k)·OPT where a bad deterministic
    * seed (e.g. first-n ids all landing in one cluster) has no bound at
    * all. Fully distributed AND deterministic under the seed:
    *   - the D²-weighted draw is an exponential race — each point draws
    *     E(x) = -ln(u(x)) / D²(x) with u(x) a seeded xxhash64 of
    *     (seed, round, vec_id) mapped into (0,1), and the argmin of E is
    *     distributed exactly as the D²-weighted sample (P(argmin = x) =
    *     w(x)/Σw — the Gumbel/exponential-race identity). One `min(struct)`
    *     aggregate per round: no sort, no cumulative scan, no driver-side
    *     weight table.
    *   - D² is maintained incrementally: one `least(d2, dist²-to-new-
    *     centroid)` projection per round over a localCheckpointed frame
    *     (the iterative-loop discipline), so the k rounds cost O(k·n) dot
    *     products total — the same asymptotic as one Lloyd E-step.
    * Points at D² = 0 (exact duplicates of a chosen centroid) draw E = ∞
    * and are picked only when every remaining point is a duplicate.
    * Returns the (cid, cv) centroid table (cid = 0..k-1 in pick order) —
    * route a [[buildIvfPqIndexWith]] build through it ([[Flat]], or as
    * [[TwoLevel]]'s fine table), or let [[kmeansPlusPlusCentroids]]
    * refine it.
    * Oracle-checked queries keep the first-n path (a DuckDB twin of the
    * race would re-implement xxhash64); specs pin this path's determinism
    * and its quantization-error win instead (Round12Spec).
    *
    * Scale note: k sequential rounds of one aggregate each — the right
    * shape for k into the thousands. For k beyond that, use
    * [[kmeansParallelInit]] (k-means‖, Bahmani et al. VLDB 2012):
    * oversampled candidates in O(rounds) passes, then a driver-side
    * weighted recluster — built from the same incremental-D²/seeded-draw
    * machinery as this method.
    */
  def kmeansPlusPlusInit(emb: DataFrame, k: Int, seed: Long): DataFrame = {
    require(k > 0, s"kmeansPlusPlusInit needs k > 0 (got k=$k)")
    val spark = emb.sparkSession
    import spark.implicits._
    // seeded uniform in (0,1): pmod keeps the hash in [0, MaxValue), the
    // +0.5 centers it away from both endpoints (u = 0 would make -ln(u)
    // infinite, u = 1 would make it 0 and always win the race)
    def u(round: Int): Column =
      (pmod(xxhash64(lit(seed), lit(round), col("vec_id")), lit(Long.MaxValue))
        .cast("double") + lit(0.5)) / lit(Long.MaxValue.toDouble)
    def d2To(c: Seq[Double]): Column = {
      val cl = array(c.map(lit): _*)
      greatest(dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), cl)
        + lit(c.map(x => x * x).sum), lit(0.0))
    }
    // the round-t race key over the CURRENT d2 state (duplicates of a
    // chosen centroid draw E = ∞ and are picked only when everything
    // remaining is a duplicate)
    def keyed(df: DataFrame, round: Int): DataFrame =
      df.withColumn("key",
        when(col("d2") > 0, -log(u(round)) / col("d2"))
          .otherwise(lit(Double.MaxValue)))
    // the race argmin RIDES the round's checkpoint materialization as an
    // Observation metric (r21, the q264/_rows sidecar discipline): the
    // separate min(struct) aggregate job per round is gone — each round
    // is now ONE pass (update d2, observe the next pick, checkpoint),
    // halving the init's k-round job count. Same aggregate over the same
    // deterministic columns → bit-identical picks (Round12Spec pins
    // determinism and the blob-recovery quality).
    def observedPick(df: DataFrame)
        : (org.apache.spark.sql.Observation, DataFrame) = {
      val ob = org.apache.spark.sql.Observation()
      (ob, df
        .observe(ob, min(struct(col("key"), col("vec_id"), col("v"))).as("m"))
        .drop("key"))
    }
    def pickOf(ob: org.apache.spark.sql.Observation): (Long, Seq[Double]) = {
      val m = ob.get("m").asInstanceOf[org.apache.spark.sql.Row]
      (m.getLong(1), m.getSeq[Double](2))
    }
    val e0 = asV(emb)
    // first centroid: a uniform seeded pick (the race with all weights 1).
    // The n >= k guard rides the SAME aggregate (count piggybacked on the
    // race min — ADVICE r13: a separate count() was a full corpus pass
    // spent purely on a precondition): k > n would make every remaining
    // point D² = 0 after the corpus is exhausted and the race's MaxValue
    // tie would silently re-pick the lowest vec_id as a duplicate centroid
    // — fail loudly instead (firstNInit's failure mode, ADVICE r12)
    val fr = e0.withColumn("key", u(0))
      .agg(min(struct(col("key"), col("vec_id"), col("v"))).as("m"),
        count(lit(1)).as("n"))
      .select(col("m.vec_id"), col("m.v"), col("n")).head()
    val n = fr.getLong(2)
    require(n >= k,
      s"kmeansPlusPlusInit needs at least k corpus rows (k=$k, rows=$n)")
    val first = (fr.getLong(0), fr.getSeq[Double](1))
    var chosen = List(first)
    // generation discipline (ADVICE r12, graft.util.Pin): each round's
    // pin is released as soon as its successor materializes — without
    // this the k-1 generations stay pinned until session end (O(k·n))
    var (obs, cur0) = observedPick(keyed(
      e0.withColumn("d2", d2To(first._2)), round = 1))
    graft.util.Pin.scope { pins =>
      var cur = pins(cur0)
      for (t <- 1 until k) {
        val next = pickOf(obs)
        chosen ::= next
        if (t < k - 1) {
          val (ob2, succ0) = observedPick(keyed(
            cur.withColumn("d2", least(col("d2"), d2To(next._2))),
            round = t + 1))
          val succ = pins(succ0)
          pins.release(cur)
          obs = ob2
          cur = succ
        }
      }
    }
    // explicit throw, NOT assert: the duplicate-centroid failure mode must
    // fail loudly even in an assertions-elided build (ADVICE r13)
    if (chosen.map(_._1).distinct.length != k)
      throw new IllegalStateException(
        s"k-means++ race picked a duplicate centroid (k=$k)")
    chosen.reverse.zipWithIndex
      .map { case ((_, cv), i) => (i.toLong, cv) }
      .toDF("cid", "cv")
  }

  /** k-means++ init + Lloyd refinement — the seeded production twin of
    * [[kmeansCentroids]] (same E/M loop, same empty-cluster and exact-mean
    * discipline; only the init differs). Deterministic under (seed, k,
    * iterations). Returns the converged (cid, cv) table.
    */
  def kmeansPlusPlusCentroids(emb: DataFrame, k: Int, iterations: Int,
      seed: Long): DataFrame = {
    require(k > 0 && iterations > 0,
      s"kmeansPlusPlusCentroids needs k > 0 and iterations > 0 " +
        s"(got k=$k, iterations=$iterations)")
    val spark = emb.sparkSession
    val init = kmeansPlusPlusInit(emb, k, seed)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val e = asV(emb).cache()
    try {
      val (_, centroids) = lloyd(e, init, iterations, mAfterLast = true)
      import spark.implicits._
      centroids.toSeq.toDF("cid", "cv")
    } finally e.unpersist()
  }

  /** k-means‖ init (Bahmani et al., "Scalable K-Means++", VLDB 2012) —
    * the oversampled O(rounds)-pass seeding for k beyond what
    * [[kmeansPlusPlusInit]]'s k sequential rounds can afford (at the
    * autoscale law's cells ∝ n, a 10⁹-vector corpus wants k ~ 10⁵ fine
    * centroids; ++ init is 10⁵ sequential jobs, this is ~5).
    * Each round samples every point INDEPENDENTLY with probability
    * min(1, l·d²/φ) (φ = current total quantization cost, one aggregate;
    * the coin is the seeded xxhash64 uniform, so the draw is
    * deterministic and partition-layout-free), adds the ~l sampled
    * points to the candidate set, and tightens every point's d² against
    * the new candidates — a NARROW map per round through the codegen
    * [[graft.functions.NearestInSet]] expression (the candidate batch is
    * ONE reference-object matrix, the generated loop is constant-size:
    * no shuffle, no vector ever crosses an exchange, and codegen survives
    * any l — the literal-fold alternative de-optimizes to interpreted
    * evaluation at l ≈ 2k, the BandedSig lesson). The ≤ 1 + l·rounds
    * candidates are then weighted by the points they'd claim (the same
    * expression's argmin cid: one narrow map + a |C|-row aggregate) and
    * reclustered driver-side with WEIGHTED k-means++ (candidate count is
    * l·rounds ≈ O(k), driver-safe by construction).
    *
    * Determinism: distributed draws are xxhash64(seed, round, vec_id);
    * the driver recluster is a seeded Random over vec_id-sorted
    * candidates. Degenerate corpora (fewer candidates than k because d²
    * collapses early) fall back to topping up with the lowest-id
    * non-candidate points — [[firstNInit]]'s failure mode, never a
    * silent duplicate. Returns (cid, cv), cid = 0..k-1.
    */
  def kmeansParallelInit(emb: DataFrame, k: Int, seed: Long,
      oversample: Int = 0, rounds: Int = 5): DataFrame = {
    require(k > 0 && rounds > 0,
      s"kmeansParallelInit needs k > 0 and rounds > 0 (got k=$k, rounds=$rounds)")
    val l = if (oversample > 0) oversample else 2 * k
    val spark = emb.sparkSession
    import spark.implicits._
    def u(round: Int): Column =
      (pmod(xxhash64(lit(seed), lit(round), col("vec_id")), lit(Long.MaxValue))
        .cast("double") + lit(0.5)) / lit(Long.MaxValue.toDouble)
    // d² against a candidate batch via the codegen NearestInSet expression
    // (ONE reference-object matrix, constant-size generated loop) — the
    // least(d2To(c1), …, d2To(cB)) literal chain this replaces fell out of
    // codegen at B ≈ 2k and ran interpreted (measured 87 s vs 19 s at
    // k=64 / 20k vectors — the BandedSig lesson, relearned)
    def minD2(batch: Seq[Seq[Double]]): Column = {
      val dim = batch.head.length
      graft.functions.VectorExpressions
        .nearestInSet(col("v"), batch.flatten.toArray, dim)
        .getField("d2")
    }
    val e0 = asV(emb)
    // seed candidate: the uniform race pick (all weights 1); the n >= k
    // guard rides the same aggregate — no separate count() pass (ADVICE r13)
    val first = e0
      .agg(min(struct(u(0).as("key"), col("vec_id"), col("v"))).as("m"),
        count(lit(1)).as("n"))
      .select(col("m.vec_id"), col("m.v"), col("n")).head()
    val n = first.getLong(2)
    require(n >= k,
      s"kmeansParallelInit needs at least k corpus rows (k=$k, rows=$n)")
    var cands = Vector((first.getLong(0), first.getSeq[Double](1)))
    graft.util.Pin.scope { pins =>
      var cur = pins(e0.withColumn("d2", minD2(Seq(cands.head._2))))
      for (t <- 1 to rounds) {
        val phi = cur.agg(sum(col("d2"))).head().getDouble(0)
        if (phi > 0) {
          val knownIds = cands.map(_._1).toSet
          val batch = cur
            .filter(u(t) < lit(l.toDouble) * col("d2") / lit(phi))
            .select(col("vec_id"), col("v")).collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1)))
            .filter(c => !knownIds.contains(c._1))
            .sortBy(_._1)
          if (batch.nonEmpty) {
            cands ++= batch
            // tighten d² against the whole batch in ONE narrow projection
            val succ = pins(cur.withColumn("d2",
                least(col("d2"), minD2(batch.map(_._2).toSeq))))
            pins.release(cur)
            cur = succ
          }
        }
      }
    }
    // deterministic top-up for degenerate corpora: lowest-id non-candidates
    if (cands.length < k) {
      val knownIds = cands.map(_._1).toSet
      val extra = e0.filter(!col("vec_id").isInCollection(knownIds))
        .orderBy("vec_id").limit(k - cands.length)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      cands ++= extra
    }
    // weight candidates by the points they'd claim (argmin ties to the
    // lowest candidate index, NearestInSet's tie rule) — one narrow map
    // over the corpus + a |C|-row aggregate; no join, nothing wide
    val candMatrix = cands.flatMap(_._2).toArray
    val dim = cands.head._2.length
    val weights = e0
      .select(graft.functions.VectorExpressions
        .nearestInSet(col("v"), candMatrix, dim).getField("cid").as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("w"))
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val weighted = cands.zipWithIndex.map { case ((_, cv), i) =>
      (cv, weights.getOrElse(i.toLong, 0L).toDouble)
    }
    weightedPlusPlus(weighted, k, seed).zipWithIndex
      .map { case (cv, i) => (i.toLong, cv) }
      .toDF("cid", "cv")
  }

  /** Driver-side WEIGHTED k-means++ over the (small) k-means‖ candidate
    * set: D²·weight-proportional sequential picks with a seeded Random —
    * the recluster step Bahmani et al. §3.3 prescribes. Deterministic
    * under (input order, seed). Zero-weight candidates can still be
    * picked only when every remaining mass is zero (degenerate top-up).
    */
  private def weightedPlusPlus(cands: Seq[(Seq[Double], Double)], k: Int,
      seed: Long): Seq[Seq[Double]] = {
    require(cands.length >= k,
      s"weighted ++ recluster needs >= k candidates (k=$k, got ${cands.length})")
    val rnd = new scala.util.Random(seed)
    def d2(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // first pick: weight-proportional. Zero-mass indices are never
    // selectable while positive mass remains: rnd.nextDouble() == 0.0 would
    // otherwise halt the scan on an already-taken (mass 0) candidate and
    // return a duplicate centroid (ADVICE r13) — the scan steps over them
    // unconditionally, which also keeps a trailing zero-mass index from
    // absorbing the r ≈ tot boundary.
    def pickByMass(mass: Seq[Double]): Int = {
      val tot = mass.sum
      if (tot <= 0) mass.indices.head
      else {
        val r = rnd.nextDouble() * tot
        var acc = 0.0; var i = 0
        while (i < mass.length - 1 && (mass(i) == 0.0 || acc + mass(i) < r)) {
          acc += mass(i); i += 1
        }
        i
      }
    }
    val taken = new Array[Boolean](cands.length)
    val chosen = scala.collection.mutable.ArrayBuffer[Int]()
    def take(i: Int): Unit = { chosen += i; taken(i) = true }
    take(pickByMass(cands.map(_._2)))
    val minD2 = cands.map(c => d2(c._1, cands(chosen.head)._1)).toArray
    while (chosen.length < k) {
      val mass = cands.indices.map(i =>
        if (taken(i)) 0.0 else cands(i)._2 * minD2(i))
      val next =
        if (mass.sum > 0) pickByMass(mass)
        else cands.indices.find(i => !taken(i)).get
      take(next)
      var i = 0
      while (i < minD2.length) {
        val d = d2(cands(i)._1, cands(next)._1)
        if (d < minD2(i)) minD2(i) = d
        i += 1
      }
    }
    chosen.toSeq.map(i => cands(i)._1)
  }

  /** k-means‖ init + Lloyd refinement — the large-k production twin of
    * [[kmeansPlusPlusCentroids]] (identical E/M loop; only the seeding
    * differs: O(rounds) passes instead of k). Deterministic under
    * (seed, k, iterations, oversample, rounds).
    */
  def kmeansParallelCentroids(emb: DataFrame, k: Int, iterations: Int,
      seed: Long, oversample: Int = 0, rounds: Int = 5): DataFrame = {
    require(iterations > 0,
      s"kmeansParallelCentroids needs iterations > 0 (got $iterations)")
    val spark = emb.sparkSession
    val init = kmeansParallelInit(emb, k, seed, oversample, rounds)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val e = asV(emb).cache()
    try {
      val (_, centroids) = lloyd(e, init, iterations, mAfterLast = true)
      import spark.implicits._
      centroids.toSeq.toDF("cid", "cv")
    } finally e.unpersist()
  }

  /** Shared Lloyd loop over a cached (vec_id, v) projection, from an
    * explicit `init` centroid array ([[firstNInit]] for the deterministic
    * oracle path, [[kmeansPlusPlusInit]] for the production path): returns
    * the LAZY final assignment and the driver-side centroid array (after
    * `iterations - 1` M-steps, or `iterations` when `mAfterLast`). The
    * caller owns the cache lifecycle of `e`.
    */
  private def lloyd(e: DataFrame, init: Array[(Long, Seq[Double])],
      iterations: Int, mAfterLast: Boolean)
      : (DataFrame, Array[(Long, Seq[Double])]) = {
    val spark = e.sparkSession
    var centroids: Array[(Long, Seq[Double])] = init
    val dim = centroids.head._2.length
    var assigned: DataFrame = null
    for (iter <- 0 until iterations) {
      // E-step: argmin distance, ties to the lowest cluster id. Shape
      // history (SCALING.md, "Lloyd E-step shape"): the original
      // crossJoin(broadcast) +
      // min(struct) aggregate multiplies every vector ×k through struct
      // churn and an exchange-bearing aggregate — 12.2 s/iteration at
      // k=1024 on 20k vectors. NearestInSetDot is the same argmin as ONE
      // codegen projection (no row multiplication, no aggregate, no
      // exchange — 2.7 s), in the crossJoin shape's exact float order
      // (d2 = (Σv² − 2.0·Σv·c) + Σc², sequential folds), so the d2/dist
      // values and boundary assignments every oracle hash-checks are
      // BIT-IDENTICAL (pinned by PqExpressionsSpec). Matrix fed
      // cid-sorted: index-order ties ≡ min(struct)'s lowest-cid ties.
      val sorted = centroids.sortBy(_._1)
      val flat = sorted.flatMap(_._2).toArray
      val cidArr = sorted.map(_._1)
      assigned = e.select(col("vec_id"),
          graft.functions.VectorExpressions
            .nearestInSetDot(col("v"), flat, dim).as("best"),
          col("v"))
        .select(col("vec_id"),
          element_at(lit(cidArr), col("best").getField("cid") + 1)
            .as("cluster"),
          sqrt(greatest(col("best").getField("d2"), lit(0.0))).as("dist"),
          col("v"))
      // M-step: per-(cluster, dim) means, reassembled into centroid arrays
      if (mAfterLast || iter < iterations - 1) {
        val updated = assigned
          .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cluster", "pos")
          // exact-decimal mean: plain avg(double) is partial-order-dependent,
          // which would make centroids (and boundary assignments) vary with
          // cluster layout run-to-run
          .agg(graft.util.OracleSafe.davg(col("x")).as("m"))
          .groupBy("cluster")
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
          .select(col("cluster"), transform(col("ps"), _.getField("m")).as("cv"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1)))
          .toMap
        // a cluster that received no vectors this round KEEPS its previous
        // centroid (standard Lloyd practice) — silently dropping it would
        // shrink the clustering below k with no error
        centroids = centroids.map { case (cid, old) =>
          (cid, updated.getOrElse(cid, old))
        }
        require(centroids.forall(_._2.length == dim))
      }
    }
    (assigned, centroids)
  }
}
