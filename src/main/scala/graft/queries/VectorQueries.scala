package graft.queries
import graft.util.Pin._

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ext.{Dedup, Graph, Multimodal, Similarity}
import graft.util.OracleSafe._

/** Embedding similarity search + vector statistics + multimodal plumbing
  * over the embeddings/documents tables.
  */
object VectorQueries {

  /** Oracle cosine identical to Similarity.cosine: double arrays, sequential
    * dot products, dot/(sqrt·sqrt) association.
    */
  private val cosSql =
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"

  /** Semantic-dedup configuration, defined ONCE for the operator (q210)
    * and its recall eval (q214): the eval measures exactly the
    * configuration the operator runs, so tuning either knob cannot drift
    * the pair apart (same discipline as ccOracleCte / bm25OracleCtes).
    * 32 cells × 4 probes measures recall 0.92 (sf0.01) / 0.99 (sf0.1) on
    * q214 — the multi-probe pairing that lets the cell count scale with
    * the corpus (candidate mass ~p²/cells) without boundary loss; the
    * round-6 single-probe config (8 cells, p=1) measured 0.54 / 0.85.
    */
  private val SemDedupCells = 32
  private[graft] val SemDedupProbes = 4
  private val SemDedupTau = 0.3

  /** Shared oracle scaffold for q210/q214, replicating
    * Similarity.ivfAssignProbes (first-`SemDedupCells` centroids, top-
    * `SemDedupProbes` cells by cosine DESC / cid ASC): `asgp` is the
    * exploded (vec_id, cell, rn) probe table, `prim` the rn=1 argmax
    * cell, `asgl` the per-vector probe list in rank order.
    */
  private val ivfAsgCte =
    s"""e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e
      |      WHERE vec_id < $SemDedupCells),
      |asgp AS (
      |  SELECT vec_id, cell, rn, v FROM (
      |    SELECT e.vec_id, c.cid AS cell, e.v,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_dot_product(e.v, c.cv)
      |            / (sqrt(list_dot_product(e.v, e.v))
      |              * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |          c.cid ASC) AS rn
      |    FROM e CROSS JOIN c) WHERE rn <= $SemDedupProbes),
      |prim AS (SELECT vec_id, cell, v FROM asgp WHERE rn = 1),
      |asgl AS (SELECT vec_id, list(cell ORDER BY rn) AS cells,
      |           any_value(v) AS v FROM asgp GROUP BY vec_id)""".stripMargin

  /** IVF-PQ search configuration, shared by the search (q216) and its
    * recall eval (q217) — same one-definition discipline as the SemDedup
    * knobs above. 24/32 probes + rerank 480 is this corpus's isotropic-
    * geometry setting (Similarity.ivfPqTopK scaladoc derives the
    * clustered-corpus production knob).
    */
  private[graft] val IvfPqCells = 32
  private[graft] val IvfPqProbes = 24
  private[graft] val IvfPqRerank = 480

  /** Post-filter overfetch for q238: the unfiltered search keeps this many
    * per query before the predicate is applied (5·k — the conventional
    * first guess; the eval measures where it stops being enough).
    * NOTE: declared before `defs` — object vals initialize in declaration
    * order, and a forward reference from the oracle-SQL interpolation
    * would silently read 0.
    */
  private val PostOverfetch = 25

  /** Shared oracle scaffold for q216/q217: corpus argmax cells (`asg`),
    * the q206 PQ codebook/codes (`cb`/`codes`), query probes (`qprobe`,
    * top-`IvfPqProbes` cells), the ids+codes candidate join (`cand`),
    * integer micro-unit ADC (`adc`), the rerank-bounded shortlist
    * (`short`), and the exact-cosine re-rank (`final`).
    */
  /** Default centroid prelude: first-`IvfPqCells` vectors as coarse cells —
    * the deterministic stand-in q216/q217/q221/q223 share. q224 swaps in a
    * k-means-refreshed centroid table instead.
    */
  private val ivfPqEC =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $IvfPqCells)""".stripMargin

  /** The IVF-PQ search chain from corpus cell assignment (`asg`) through the
    * exact-cosine re-rank (`final`), parameterized on a prelude that must
    * define `e` (vec_id, v DOUBLE[]) and `c` (cid, cv DOUBLE[]) — the coarse
    * centroid table the whole search keys on.
    */
  private val flatAsgCte =
    """asg AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c.cid AS cell,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_dot_product(e.v, c.cv)
      |            / (sqrt(list_dot_product(e.v, e.v))
      |              * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |          c.cid ASC) AS rn
      |    FROM e CROSS JOIN c) WHERE rn = 1)""".stripMargin

  private val flatQprobeCte =
    s"""qprobe AS (
      |  SELECT vec_id AS qid, cell FROM (
      |    SELECT e.vec_id, c.cid AS cell,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_dot_product(e.v, c.cv)
      |            / (sqrt(list_dot_product(e.v, e.v))
      |              * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |          c.cid ASC) AS rn
      |    FROM e CROSS JOIN c WHERE e.vec_id % 50 = 0)
      |  WHERE rn <= $IvfPqProbes)""".stripMargin

  private def ivfPqSearchCtes(prelude: String): String =
    ivfPqSearchCtesWith(prelude, flatAsgCte, flatQprobeCte)

  /** [[ivfPqSearchCtes]] with the corpus-assignment (`asg` → (vec_id,
    * cell)) and query-probe (`qprobe` → (qid, cell)) CTEs injectable —
    * q227 swaps in the two-level autoscaled routing while the
    * PQ/ADC/rerank chain stays one definition. Injected strings must be
    * pre-stripped (no margin pipes of their own).
    */
  private def ivfPqSearchCtesWith(prelude: String, asgCte: String,
      qprobeCte: String,
      qvecCte: String = "qvec AS (SELECT vec_id AS qid, v FROM e)"): String =
    s"""$prelude,
      |$asgCte,
      |$qvecCte,
      |$pqCodesCtes,
      |$qprobeCte,
      |${adcChainCtes("", "asg", "qprobe", "qvec")}""".stripMargin

  /** Two-level routing scaffold shared by q226 (semantic dedup) and q227
    * (autoscaled IVF-PQ build): corpus-derived knobs (cells = max(8,
    * n/100), ncoarse = max(4, ceil(√cells))), fine-centroid argmax coarse
    * routing (`froute`), per-vector top-2 coarse probes (`vroute`), and
    * the candidate-limited top-`SemDedupProbes` fine assignment (`asgp`)
    * — CTE-for-CTE the Similarity.ivfAssignProbesTwoLevel dataflow.
    */
  /** The gProbe-independent prefix (knobs, centroid tables, fine-centroid
    * argmax coarse routing) plus a RANKED per-vector coarse-probe table
    * `vrouteAll` kept to rank 3 — consumers slice `vr.rn <= g` to model any
    * gProbe ≤ 3 from the one superset (q228 measures g = 2 and 3).
    */
  /** Routing CTEs (`froute`, `vrouteAll`) over a caller-supplied prelude
    * that must define `e` (vec_id, v DOUBLE[]), `c` (cid, cv — the FINE
    * centroids) and `gc` (gid, gv — the coarse centroids) — q231 swaps in
    * k-means-refreshed fine centroids while the routing stays one
    * definition.
    */
  private def twoLevelRouteCtes(prelude: String): String =
    s"""$prelude,
      |froute AS (
      |  SELECT cid, gid, cv FROM (
      |    SELECT c.cid, gc.gid, c.cv,
      |      row_number() OVER (PARTITION BY c.cid
      |        ORDER BY list_dot_product(c.cv, gc.gv)
      |            / (sqrt(list_dot_product(c.cv, c.cv))
      |              * sqrt(list_dot_product(gc.gv, gc.gv))) DESC,
      |          gc.gid ASC) AS rn
      |    FROM c CROSS JOIN gc) WHERE rn = 1),
      |vrouteAll AS (
      |  SELECT vec_id, gid, v, rn FROM (
      |    SELECT e.vec_id, gc.gid, e.v,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_dot_product(e.v, gc.gv)
      |            / (sqrt(list_dot_product(e.v, e.v))
      |              * sqrt(list_dot_product(gc.gv, gc.gv))) DESC,
      |          gc.gid ASC) AS rn
      |    FROM e CROSS JOIN gc) WHERE rn <= 3)""".stripMargin

  private val twoLevelRoutePrefixCtes = twoLevelRouteCtes(
    s"""e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |k AS (SELECT GREATEST(8, COUNT(*) // 100) AS cells FROM e),
      |g AS (SELECT GREATEST(4, CAST(ceil(sqrt(cells)) AS BIGINT))
      |        AS ncoarse FROM k),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e
      |      WHERE vec_id < (SELECT cells FROM k)),
      |gc AS (SELECT vec_id AS gid, v AS gv FROM e
      |      WHERE vec_id < (SELECT ncoarse FROM g))""".stripMargin)

  /** One micro-batch of the streaming semantic-dedup ingest screen
    * (q233/q235): two-level-assign the batch against the persisted
    * coarse/fine-routing tables, find shared-probed-cell corpus candidates
    * (corpProbes carries its vector — cosine streams as a filter, no
    * pair-sized vector shuffle), and emit the integer-only verdict per
    * ingest vector. Package-visible so the batch-boundary-independence
    * spec can drive the SAME code over multi-epoch delivery.
    */
  private[graft] def ingestScreenBatch(batch: org.apache.spark.sql.DataFrame,
      coarse: org.apache.spark.sql.DataFrame,
      froute: org.apache.spark.sql.DataFrame,
      corpProbes: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val asg = Similarity.assignProbesTwoLevelWith(
      batch.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("v")),
      coarse, froute, SemDedupProbes, 2)
    val dups = Similarity.cellLocalScreen(asg, corpProbes, SemDedupTau)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_dup_matches"))
    asg.select(col("vec_id"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_dup_matches"), lit(0L)).as("n_dup_matches"),
        when(col("n_dup_matches").isNotNull, 1).otherwise(0).as("is_dup"))
  }

  /** The candidate-limited fine assignment at a given gProbe, over the
    * shared prefix: `name` AS the ranked (vec_id, cell, rn, v) table.
    * vrouteAll is hard-capped at rank 3, so a larger gProbe would silently
    * under-probe the oracle routing — fail loudly instead (ADVICE r10).
    */
  private def twoLevelAsgpCte(name: String, gProbe: Int): String = {
    require(gProbe >= 1 && gProbe <= 3,
      s"twoLevelAsgpCte models gProbe in [1, 3] (vrouteAll's rank cap); " +
        s"got $gProbe — raise the vrouteAll cap to extend the knob space")
    s"""$name AS (
      |  SELECT vec_id, cell, rn, v FROM (
      |    SELECT vr.vec_id, fr.cid AS cell, vr.v,
      |      row_number() OVER (PARTITION BY vr.vec_id
      |        ORDER BY list_dot_product(vr.v, fr.cv)
      |            / (sqrt(list_dot_product(vr.v, vr.v))
      |              * sqrt(list_dot_product(fr.cv, fr.cv))) DESC,
      |          fr.cid ASC) AS rn
      |    FROM (SELECT * FROM vrouteAll WHERE rn <= $gProbe) vr
      |    JOIN froute fr ON vr.gid = fr.gid)
      |  WHERE rn <= $SemDedupProbes)""".stripMargin
  }

  private val twoLevelAsgpCtes =
    s"""$twoLevelRoutePrefixCtes,
      |${twoLevelAsgpCte("asgp", 2)}""".stripMargin

  /** Shared oracle scaffold for q236/q237: the two-level corpus routing
    * prefix plus the deterministic external-query table (q225's md5-parity
    * ±0.025 jitter of the first 20 vectors, ids offset +10⁶) and its
    * two-level routing (`xqroute` top-2 coarse, `xqasgp` top-probe fine).
    * NOTE: declared before `defs` — object vals initialize in declaration
    * order, and a forward reference here would interpolate "null" into
    * every oracle that uses it.
    */
  private val externalQueryRoutedCtes =
    s"""$twoLevelAsgpCtes,
      |xqdims AS (
      |  SELECT vec_id, CAST(d.range AS INTEGER) AS j,
      |         v[d.range + 1] AS x
      |  FROM e, range(64) d WHERE vec_id < 20),
      |xq AS (
      |  SELECT vec_id + ${Similarity.ExternalQueryIdOffset} AS qid, list(x +
      |      CASE WHEN (CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) ||
      |          '_' || CAST(j AS VARCHAR)), 32, 1)) AS BIGINT) % 2) = 1
      |        THEN 0.025 ELSE -0.025 END ORDER BY j) AS qv
      |  FROM xqdims GROUP BY vec_id),
      |xqroute AS (
      |  SELECT qid, gid, qv FROM (
      |    SELECT xq.qid, gc.gid, xq.qv,
      |      row_number() OVER (PARTITION BY xq.qid
      |        ORDER BY list_dot_product(xq.qv, gc.gv)
      |            / (sqrt(list_dot_product(xq.qv, xq.qv))
      |              * sqrt(list_dot_product(gc.gv, gc.gv))) DESC,
      |          gc.gid ASC) AS rn
      |    FROM xq CROSS JOIN gc) WHERE rn <= 2),
      |${xqAsgpCte("xqasgp", SemDedupProbes)}""".stripMargin

  /** The external queries' top-`np` fine-cell probe table over the shared
    * `xqroute`/`froute` routing — extracted so q238 can instantiate the
    * probe-width knob (`xqasgp8`) beside the default.
    */
  private def xqAsgpCte(name: String, np: Int): String =
    s"""$name AS (
      |  SELECT qid, cell, rn FROM (
      |    SELECT r.qid, fr.cid AS cell,
      |      row_number() OVER (PARTITION BY r.qid
      |        ORDER BY list_dot_product(r.qv, fr.cv)
      |            / (sqrt(list_dot_product(r.qv, r.qv))
      |              * sqrt(list_dot_product(fr.cv, fr.cv))) DESC,
      |          fr.cid ASC) AS rn
      |    FROM xqroute r JOIN froute fr ON r.gid = fr.gid)
      |  WHERE rn <= $np)""".stripMargin

  /** The PQ codebook + corpus-encode CTEs (cb … codes) — the q206 recipe,
    * query-independent (requires only `e`). Declared once; every ADC chain
    * instance ([[adcChainCtes]]) reads `cb`/`codes` from here.
    */
  private val pqCodesCtes =
    """cb AS (
      |  SELECT CAST(s.range AS INTEGER) AS sub, CAST(cc.range AS INTEGER) AS cid,
      |         CAST(d.range AS INTEGER) AS dsub,
      |    CASE WHEN (CAST(('0x' || substr(md5(CAST(s.range AS VARCHAR) || '_' ||
      |         CAST(cc.range AS VARCHAR) || '_' || CAST(d.range AS VARCHAR)), 1, 15))
      |         AS BIGINT) & 1) = 1
      |      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS cv
      |  FROM range(8) s, range(16) cc, range(8) d),
      |dims AS (
      |  SELECT vec_id, CAST(d.range AS INTEGER) AS d,
      |         v[CAST(d.range AS INTEGER) + 1] AS x
      |  FROM e, range(64) d),
      |pqterms AS (
      |  SELECT dims.vec_id, cb.sub, cb.cid,
      |    CAST(floor((dims.x - cb.cv) * (dims.x - cb.cv) * 1e6) AS BIGINT) AS tm
      |  FROM dims JOIN cb ON dims.d // 8 = cb.sub AND dims.d % 8 = cb.dsub),
      |pqcells AS (
      |  SELECT vec_id, sub, cid, CAST(SUM(tm) AS BIGINT) AS dist2
      |  FROM pqterms GROUP BY vec_id, sub, cid),
      |pqbest AS (
      |  SELECT vec_id, sub, cid, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
      |      ORDER BY dist2 ASC, cid ASC) AS rn
      |  FROM pqcells),
      |codes AS (
      |  SELECT vec_id, CAST(SUM(CAST(cid AS BIGINT) << (4 * sub)) AS BIGINT)
      |    AS pq_code
      |  FROM pqbest WHERE rn = 1 GROUP BY vec_id)""".stripMargin

  /** One candidate → ADC → shortlist → exact-rerank chain instance, CTE
    * names prefixed with `p` so several searches can coexist in one oracle
    * (q238 runs nine). Reads a corpus-assignment table `asg` (vec_id,
    * cell), a query-probe table `qprobe` (qid, cell), a query-vector table
    * `qvec` (qid, v), and the shared [[pqCodesCtes]]; emits `${p}final`
    * (qid, nid, cos, rn) — the CTE-for-CTE twin of
    * Similarity.ivfPqSearchQueries.
    */
  private def adcChainCtes(p: String, asg: String, qprobe: String,
      qvec: String): String =
    s"""${p}cand AS (
      |  SELECT q.qid, a.vec_id AS nid, codes.pq_code
      |  FROM $qprobe q JOIN $asg a ON q.cell = a.cell AND a.vec_id <> q.qid
      |  JOIN codes ON codes.vec_id = a.vec_id),
      |${p}adc AS (
      |  SELECT cnd.qid, cnd.nid,
      |    CAST(SUM(CAST(floor((eq.v[cb.sub * 8 + cb.dsub + 1] - cb.cv)
      |      * (eq.v[cb.sub * 8 + cb.dsub + 1] - cb.cv) * 1e6) AS BIGINT))
      |      AS BIGINT) AS adist
      |  FROM ${p}cand cnd JOIN $qvec eq ON eq.qid = cnd.qid
      |  JOIN cb ON cb.cid = CAST((cnd.pq_code >> (4 * cb.sub)) & 15 AS INTEGER)
      |  GROUP BY cnd.qid, cnd.nid),
      |${p}short AS (
      |  SELECT qid, nid FROM (
      |    SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY adist ASC, nid ASC) AS rn FROM ${p}adc)
      |  WHERE rn <= $IvfPqRerank),
      |${p}rescored AS (
      |  SELECT s.qid, s.nid,
      |    list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))
      |      * sqrt(list_dot_product(b.v, b.v))) AS cos
      |  FROM ${p}short s JOIN $qvec a ON a.qid = s.qid
      |               JOIN e b ON b.vec_id = s.nid),
      |${p}final AS (
      |  SELECT qid, nid, cos, CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY cos DESC, nid ASC) AS INTEGER) AS rn FROM ${p}rescored)""".stripMargin

  private val ivfPqCtes = ivfPqSearchCtes(ivfPqEC)

  /** Unrolled Lloyd k-means CTE chain — the DuckDB twin of
    * Similarity.lloyd, expressible since the round-8 refactor made every
    * step deterministic: first-`k` init (c0), then `rounds` E+M rounds
    * (a1/m1/c1 … a{rounds}/m{rounds}/c{rounds}); with `finalAssign` an
    * extra E-step a{rounds+1} against c{rounds} (the mAfterLast=false
    * shape Similarity.kmeans runs). Parity, piece by piece:
    *   - init: cid = vec_id for the first k (ids are contiguous from 0 in
    *     the fixtures — the same assumption every `vec_id < cells` oracle
    *     makes);
    *   - E-step d2 = (dot(v,v) - 2·dot(v,cv)) + dot(cv,cv), the exact
    *     association the Scala side builds, over sequential-fold dot
    *     products (list_dot_product) — bit-identical doubles; argmin ties
    *     to the lowest cid (row_number d2 ASC, cid ASC ≡ min(struct));
    *   - M-step means through the exact-decimal accumulator (sqlDavg ≡
    *     OracleSafe.davg), order-independent on both engines;
    *   - empty clusters keep their previous centroid (COALESCE against
    *     the exploded previous round ≡ the driver-side getOrElse).
    * Requires a CTE `e` (vec_id, v DOUBLE[]) in scope.
    */
  private def lloydCtes(k: Int, rounds: Int, finalAssign: Boolean,
      dim: Int = 64): String = {
    def eStep(t: Int): String =
      s"""a$t AS (
        |  SELECT vec_id, cid AS cluster, d2, v FROM (
        |    SELECT s.vec_id, s.cid, s.d2, s.v,
        |      row_number() OVER (PARTITION BY s.vec_id
        |        ORDER BY s.d2 ASC, s.cid ASC) AS rn
        |    FROM (
        |      SELECT e.vec_id, c.cid, e.v,
        |        (list_dot_product(e.v, e.v)
        |          - 2.0 * list_dot_product(e.v, c.cv))
        |          + list_dot_product(c.cv, c.cv) AS d2
        |      FROM e CROSS JOIN c${t - 1} c) s) WHERE rn = 1)""".stripMargin
    val sb = new StringBuilder(
      s"c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $k)")
    for (t <- 1 to rounds) {
      sb.append(",\n").append(eStep(t)).append(s""",
        |m$t AS (
        |  SELECT a.cluster AS cid, CAST(d.range AS INTEGER) AS pos,
        |    ${sqlDavg(s"a.v[d.range + 1]")} AS m
        |  FROM a$t a CROSS JOIN range($dim) d
        |  GROUP BY a.cluster, d.range),
        |c$t AS (
        |  SELECT g.cid, list(COALESCE(m.m, g.oldv) ORDER BY g.pos) AS cv
        |  FROM (SELECT c.cid, CAST(d.range AS INTEGER) AS pos,
        |          c.cv[d.range + 1] AS oldv
        |        FROM c${t - 1} c CROSS JOIN range($dim) d) g
        |  LEFT JOIN m$t m ON m.cid = g.cid AND m.pos = g.pos
        |  GROUP BY g.cid)""".stripMargin)
    }
    if (finalAssign) sb.append(",\n").append(eStep(rounds + 1))
    sb.toString
  }

  /** Per-knob banded-LSH eval CTEs for q225 (prefix `p` keeps the two knob
    * instantiations disjoint): the q201/q205 plane-pool recipe generalized
    * over (bands, bits), candidate generation, exact-cosine top-3 over the
    * candidates, and a one-row stats CTE (`${p}stats`) with recall and
    * candidate mass in exact integer micro-units. Requires CTEs `corp`
    * (vec_id, v DOUBLE[]) and `truth` (qid, nid) in scope; the query
    * predicate is vec_id % 200 = 0 (replica 0 of every 50th base).
    */
  private def lshKnobCtes(p: String, bands: Int, bits: Int): String =
    s"""${p}planes AS (
      |  SELECT b.range AS bit,
      |    list(CASE WHEN (CAST(('0x' || substr(md5(CAST(b.range AS VARCHAR) ||
      |          '_' || CAST(d.range AS VARCHAR)), 1, 15)) AS BIGINT)
      |        & 1) = 1
      |      THEN 1.0 ELSE -1.0 END ORDER BY d.range) AS pv
      |  FROM range(${bands * bits}) b, range(64) d
      |  GROUP BY b.range),
      |${p}sig AS (
      |  SELECT c.vec_id, CAST(pl.bit // $bits AS INTEGER) AS band,
      |    CAST(SUM(CASE WHEN list_dot_product(c.v, pl.pv) >= 0
      |      THEN (CAST(1 AS BIGINT) << CAST(pl.bit % $bits AS INTEGER))
      |      ELSE 0 END) AS BIGINT) AS bs
      |  FROM corp c CROSS JOIN ${p}planes pl
      |  GROUP BY c.vec_id, pl.bit // $bits),
      |${p}cand AS (
      |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
      |  FROM ${p}sig q JOIN ${p}sig c ON q.band = c.band AND q.bs = c.bs
      |  WHERE q.vec_id % 200 = 0 AND c.vec_id <> q.vec_id),
      |${p}top AS (SELECT qid, nid FROM (
      |  SELECT cd.qid, cd.nid, ROW_NUMBER() OVER (PARTITION BY cd.qid
      |      ORDER BY list_dot_product(a.v, b.v)
      |          / (sqrt(list_dot_product(a.v, a.v))
      |            * sqrt(list_dot_product(b.v, b.v))) DESC, cd.nid ASC) AS rn
      |  FROM ${p}cand cd JOIN corp a ON a.vec_id = cd.qid
      |                   JOIN corp b ON b.vec_id = cd.nid) WHERE rn <= 3),
      |${p}stats AS (
      |  SELECT 'banded_${bands}x$bits' AS method,
      |    (SELECT COUNT(*) FROM corp WHERE vec_id % 200 = 0) AS n_queries,
      |    (SELECT COUNT(*) FROM corp) AS n_corpus,
      |    (SELECT COUNT(*) FROM truth) AS n_truth,
      |    (SELECT COUNT(*) FROM truth t JOIN ${p}top tp
      |       ON t.qid = tp.qid AND t.nid = tp.nid) AS hits,
      |    ((SELECT COUNT(*) FROM truth t JOIN ${p}top tp
      |       ON t.qid = tp.qid AND t.nid = tp.nid) * 1000000)
      |      // (SELECT COUNT(*) FROM truth) AS recall_micro,
      |    (SELECT COUNT(*) FROM ${p}cand) AS ncand,
      |    ((SELECT COUNT(*) FROM ${p}cand) * 1000000)
      |      // ((SELECT COUNT(*) FROM corp WHERE vec_id % 200 = 0)
      |        * ((SELECT COUNT(*) FROM corp) - 1)) AS cand_ppm)""".stripMargin

  /** Measurement-class queries (recall/geometry EVALS of the ANN operators,
    * not pipelines): Bench times these min-of-2, not median-of-REPS — see
    * QueryDef.evalOnly. Applied via post-map so the flag is declared in one
    * place instead of buried in four 50-line defs.
    */
  private val EvalOnlyQueries = Set(
    "q201_ann_recall", "q214_semantic_dedup_recall",
    "q217_ivf_pq_recall", "q225_lsh_geometry_eval",
    "q228_two_level_dedup_agreement", "q238_filtered_ann_recall_eval",
    "q239_kmeanspp_quality_eval")

  val defs: Seq[QueryDef] = rawDefs.map(d =>
    if (EvalOnlyQueries(d.name)) d.copy(evalOnly = true) else d)

  private def rawDefs: Seq[QueryDef] = Seq(

    // ---- brute-force cosine top-k (exact ANN baseline) ----
    QueryDef("q35_cosine_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.bruteForceTopK(emb.filter(col("vec_id") % 50 === 0), emb, 5)
          .orderBy("qid", "rn")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid, $cosSql AS cos
        |  FROM e a JOIN e b ON a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id),
        |ranked AS (SELECT qid, nid, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS INTEGER) AS rn
        |  FROM scored)
        |SELECT qid, rn, nid, cos FROM ranked WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin)),

    // ---- blocked near-dup (IVF-coarse shape, exact within block) ----
    QueryDef("q36_embedding_neardup",
      (s, dir) => Similarity.blockedNearDupPairs(Tables.embeddings(s, dir), "label", 0.4)
        .orderBy("i", "j"),
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.label, a.vec_id AS i, b.vec_id AS j, $cosSql AS cos
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE $cosSql >= 0.4
        |ORDER BY i, j""".stripMargin)),

    // ---- vector statistics per label ----
    QueryDef("q37_vector_stats",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val nrm = Similarity.norm(Similarity.asDouble(col("embedding")))
        emb.select(col("label"), nrm.as("nrm"))
          .groupBy("label")
          .agg(count(lit(1)).as("n"), davg(col("nrm")).as("avg_norm"),
               min(col("nrm")).as("min_norm"), max(col("nrm")).as("max_norm"))
          .orderBy("label")
      },
      Some(s"""SELECT label, COUNT(*) AS n,
        |${sqlDavg("sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))")} AS avg_norm,
        |min(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS min_norm,
        |max(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS max_norm
        |FROM embeddings
        |GROUP BY label
        |ORDER BY label""".stripMargin)),

    // ---- LSH-bucketed approximate top-k (the ANN scale path) ----
    // Approximate (bucket recall < 1) but fully deterministic: hyperplanes
    // are md5-parity-derived, so the DuckDB oracle rebuilds the identical
    // planes/buckets and the result is hash-checked end-to-end.
    QueryDef("q38_ann_lsh_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.lshTopK(emb.filter(col("vec_id") % 50 === 0), emb, 5)
          .orderBy("qid", "rn")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |planes AS (
        |  SELECT b.range AS bit,
        |    list(CASE WHEN (CAST(('0x' || substr(md5(CAST(b.range AS VARCHAR) || '_' || CAST(d.range AS VARCHAR)), 1, 15)) AS BIGINT) & 1) = 1
        |         THEN 1.0 ELSE -1.0 END ORDER BY d.range) AS pv
        |  FROM range(8) b, range(64) d
        |  GROUP BY b.range),
        |sig AS (
        |  SELECT e.vec_id, e.v,
        |    CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
        |         THEN (CAST(1 AS BIGINT) << p.bit) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM e CROSS JOIN planes p
        |  GROUP BY e.vec_id, e.v),
        |scored AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM sig a JOIN sig b ON a.bucket = b.bucket
        |  WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id),
        |ranked AS (SELECT qid, nid, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS INTEGER) AS rn
        |  FROM scored)
        |SELECT qid, rn, nid, cos FROM ranked WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin)),

    // ---- multimodal binary plumbing: payloads + metadata (oracle-checked) ----
    QueryDef("q39_multimodal_binary",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          encode(col("text"), "UTF-8").as("payload"),
          lit("text/plain").as("mime"))
        .select(col("doc_id"), col("mime"),
          octet_length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("payload_md5"),
          ascii(substring(col("text"), 1, 1)).as("first_byte"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, 'text/plain' AS mime,
        |CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |md5(text) AS payload_md5,
        |CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS first_byte
        |FROM documents
        |ORDER BY doc_id""".stripMargin)),

    // ---- multimodal feature-extraction stub: partition-wise batch decode ----
    // The decode itself is a deterministic STUB (Multimodal.extractFeatures);
    // the aggregate over its output is exactly reproducible in SQL, so the
    // full mapPartitions plumbing is oracle-checked end-to-end.
    QueryDef("q40_multimodal_features",
      (s, dir) => {
        val media = Multimodal.asMedia(Tables.documents(s, dir))
        val feats = Multimodal.extractFeatures(media).toDF()
        feats.select(col("media_id"), col("n_bytes"),
          element_at(col("feature"), 1).cast("double").as("f0"),
          aggregate(col("feature"), lit(0.0d), (acc, x) => acc + x).as("f_sum"),
          size(col("feature")).as("dim"))
          .orderBy("media_id")
      },
      // the stub's integer lane sums are exact in Float/DOUBLE, so the whole
      // mapPartitions decode path is oracle-checked (text is ASCII: byte i of
      // the utf-8 payload == ascii(char i+1))
      Some("""SELECT doc_id AS media_id, CAST(length(text) AS INTEGER) AS n_bytes,
        |CAST(list_sum([ascii(text[i]) for i in range(1, length(text) + 1) if (i - 1) % 8 = 0]) AS DOUBLE) AS f0,
        |CAST(list_sum([ascii(text[i]) for i in range(1, length(text) + 1)]) AS DOUBLE) AS f_sum,
        |8 AS dim
        |FROM documents
        |ORDER BY media_id""".stripMargin)),

    // ---- multimodal frame segmentation (fixed 64-byte windows) ----
    // The audio/video chunking step ahead of per-frame decode: payloads
    // explode into indexed 64-byte frames with content hashes. ASCII corpus
    // ⇒ byte windows == char windows, so the oracle mirrors with substr
    // over the text — the binary plumbing is hash-checked end to end.
    QueryDef("q143_multimodal_frames",
      (s, dir) => Multimodal.frames(
          Multimodal.asMedia(Tables.documents(s, dir)), frameBytes = 64)
        .orderBy("media_id", "frame_idx"),
      Some("""WITH f AS (
        |  SELECT doc_id AS media_id,
        |    CAST(unnest(range(0, (length(text) + 63) // 64)) AS INTEGER)
        |      AS frame_idx, text
        |  FROM documents WHERE length(text) > 0)
        |SELECT media_id, frame_idx,
        |  md5(substr(text, frame_idx * 64 + 1, 64)) AS frame_md5,
        |  CAST(length(substr(text, frame_idx * 64 + 1, 64)) AS INTEGER)
        |    AS frame_len
        |FROM f
        |ORDER BY media_id, frame_idx""".stripMargin)),

    // ---- one k-means Lloyd iteration (M-step centroids + E-step dists) ----
    // Centroids are per-(label, dim) exact-decimal means over the exploded
    // coordinates — one partially-aggregated shuffle keyed on (label, dim),
    // never a per-label collect; distances join coordinates back to their
    // centroid (broadcastable: k × dims rows) and re-aggregate per vector.
    // This is the building block an iterative clusterer repeats; every
    // arithmetic step is order-independent (decimal sums), so results are
    // layout-stable at any parallelism.
    QueryDef("q104_kmeans_lloyd",
      (s, dir) => {
        val dims = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"),
            posexplode(Similarity.asDouble(col("embedding"))).as(Seq("pos", "v")))
        val cent = dims.groupBy(col("label").as("c_label"), col("pos").as("c_pos"))
          .agg((dsum(col("v")) / count(lit(1))).as("c"))
        val dist = dims
          .join(broadcast(cent),
            col("label") === col("c_label") && col("pos") === col("c_pos"))
          .groupBy("vec_id", "label")
          .agg(sqrt(dsum((col("v") - col("c")) * (col("v") - col("c")))).as("dist"))
        dist.groupBy("label")
          .agg(count(lit(1)).as("n"),
               round(dsum(col("dist")) / count(lit(1)), 6).as("avg_dist"),
               round(max(col("dist")), 6).as("max_dist"))
          .orderBy("label")
      },
      Some(s"""WITH dims AS (
        |  SELECT vec_id, label,
        |    unnest(embedding::DOUBLE[]) AS v,
        |    unnest(range(1, len(embedding) + 1)) AS pos
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos, ${sqlDsum("v")} / COUNT(*) AS c
        |  FROM dims GROUP BY label, pos),
        |dist AS (
        |  SELECT d.vec_id, d.label,
        |    sqrt(CAST(SUM(CAST(((d.v - c.c) * (d.v - c.c)) AS DECIMAL(27,6))) AS DOUBLE)) AS dist
        |  FROM dims d JOIN cent c ON d.label = c.label AND d.pos = c.pos
        |  GROUP BY d.vec_id, d.label)
        |SELECT label, COUNT(*) AS n,
        |  round(${sqlDsum("dist")} / COUNT(*), 6) AS avg_dist,
        |  round(max(dist), 6) AS max_dist
        |FROM dist
        |GROUP BY label
        |ORDER BY label""".stripMargin)),

    // ---- full iterative k-means (unsupervised clustering) ----
    // Three Lloyd rounds over the embeddings (q104 oracle-checks a single
    // supervised iteration). Centroids collect+re-broadcast per round
    // (k×dim doubles), so lineage stays flat at any iteration count and
    // the corpus never leaves the executors. Formerly rows-only: the
    // round-8 refactor (deterministic first-n init, exact-decimal davg
    // M-step, argmin ties to the lowest cid) made every step
    // reproducible in SQL, so the loop now has a FULL unrolled-CTE
    // oracle (lloydCtes — the q218 BPE-trainer technique): 3 E-steps,
    // 2 M-steps, hash-checked end to end. KMeansSpec still pins the
    // semantic contracts (blob recovery, monotone objective).
    QueryDef("q110_kmeans_clusters",
      (s, dir) => Similarity.kmeans(Tables.embeddings(s, dir), k = 8, iterations = 3)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"),
             round(davg(col("dist")), 6).as("avg_dist"))
        .orderBy("cluster"),
      Some(s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |${lloydCtes(8, rounds = 2, finalAssign = true)},
        |fin AS (
        |  SELECT vec_id, cluster,
        |    sqrt(greatest(d2, CAST(0.0 AS DOUBLE))) AS dist
        |  FROM a3)
        |SELECT cluster, COUNT(*) AS n,
        |  round(${sqlDavg("dist")}, 6) AS avg_dist
        |FROM fin GROUP BY cluster ORDER BY cluster""".stripMargin)),

    // ---- per-label mean-pooled embedding (element-wise centroid) ----
    // The distributed vector-pooling step (class centroids / domain
    // prototypes): posexplode to (label, dim, value), one hash aggregate.
    // Each float is quantized to integer micro-units by floor(v*1e6 + 0.5)
    // — float→double widening, multiply, add, floor are all exact or
    // correctly-rounded IEEE ops, so both engines produce the IDENTICAL
    // integer per element and the sums are exact at any parallelism (the
    // q131 fixed-point discipline; emitting sum+count instead of a mean
    // avoids engine-specific integer-division semantics on negatives).
    QueryDef("q154_embedding_pool",
      (s, dir) => Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("v").cast("double") * 1000000d + 0.5d).cast("long"))
            .as("sum_micro"))
        .orderBy("label", "pos"),
      Some("""SELECT label, CAST(i - 1 AS INTEGER) AS pos, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE)
        |    * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT)
        |    AS sum_micro
        |FROM embeddings
        |CROSS JOIN (SELECT unnest(range(1, 65)) AS i) g
        |GROUP BY label, i
        |ORDER BY label, pos""".stripMargin)),

    // ---- inter-centroid distance matrix (cluster separation audit) ----
    // Squared L2 between every pair of per-label centroids — the
    // separation check run after clustering (and the seed for centroid
    // merging). Centroids come from the q154 micro-unit pooling (exact
    // integer sums, one fact-table aggregate); the pair distances join
    // the tiny label × dim centroid table against itself per dimension —
    // broadcast, never a fact-table cross product. Mean = sum/(n·1e6) is
    // the same single-division IEEE sequence on both engines; the
    // per-dimension squared gaps reduce through the exact decimal
    // accumulator (order-independent).
    QueryDef("q173_centroid_distances",
      (s, dir) => {
        val cent = Tables.embeddings(s, dir)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("label", "pos")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("v").cast("double") * 1000000d + 0.5d).cast("long"))
              .as("sm"))
          .select(col("label"), col("pos"),
            (col("sm").cast("double")
              / (col("n").cast("double") * 1000000d)).as("mean"))
        val a = cent.toDF("label_a", "pa", "ma")
        val b = cent.toDF("label_b", "pb", "mb")
        a.join(broadcast(b),
            col("pa") === col("pb") && col("label_a") < col("label_b"))
          .groupBy("label_a", "label_b")
          .agg(dsum((col("ma") - col("mb")) * (col("ma") - col("mb")))
            .as("d2raw"))
          .select(col("label_a"), col("label_b"),
            round(col("d2raw"), 6).as("d2"))
          .orderBy("label_a", "label_b")
      },
      Some("""WITH cent AS (
        |  SELECT label, CAST(i - 1 AS INTEGER) AS pos,
        |    CAST(CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000
        |        + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS DOUBLE)
        |      / (CAST(COUNT(*) AS DOUBLE) * 1000000) AS mean
        |  FROM embeddings
        |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) g
        |  GROUP BY label, i),
        |p AS (
        |  SELECT a.label AS label_a, b.label AS label_b,
        |    (a.mean - b.mean) * (a.mean - b.mean) AS sq
        |  FROM cent a JOIN cent b
        |    ON a.pos = b.pos AND a.label < b.label)
        |SELECT label_a, label_b,
        |  round(CAST(SUM(CAST(sq AS DECIMAL(27,6))) AS DOUBLE), 6) AS d2
        |FROM p GROUP BY 1, 2
        |ORDER BY label_a, label_b""".stripMargin)),

    // ---- multimodal: exact binary-payload dedup ----
    // The modality-agnostic first rung of the dedup ladder: group media
    // records by payload content hash, report duplicate groups with the
    // deterministic survivor. Works on the OPAQUE bytes — no decode —
    // so it applies to images/audio exactly as to text; one hash
    // aggregate, no shuffle of payloads beyond the md5 key. (The text
    // corpus has few exact byte-duplicates at small SF; the empty/small
    // result is still hash-checked, and Round6ESpec pins the semantics
    // on planted duplicates.)
    QueryDef("q190_media_dedup",
      (s, dir) => Multimodal.asMedia(Tables.documents(s, dir)).toDF()
        .select(col("media_id"), md5(col("payload")).as("content_md5"),
          octet_length(col("payload")).as("n_bytes"))
        .groupBy("content_md5")
        .agg(count(lit(1)).as("n_copies"), min("media_id").as("keep_id"),
          max("n_bytes").as("n_bytes"))
        .filter(col("n_copies") > 1)
        .orderBy("content_md5"),
      Some("""SELECT md5(text) AS content_md5, COUNT(*) AS n_copies,
        |  min(doc_id) AS keep_id,
        |  CAST(max(length(text)) AS INTEGER) AS n_bytes
        |FROM documents
        |GROUP BY 1 HAVING COUNT(*) > 1
        |ORDER BY content_md5""".stripMargin)),

    // ---- multimodal: cross-media duplicated frames ----
    // Chunk-level dedup under the frame segmentation (q143): 64-byte
    // frames whose content hash recurs in ≥2 media — the shared-segment
    // detector video/audio pipelines run to find re-used clips and
    // boilerplate intros. Inverted-index shape on the frame hash: one
    // generate + one aggregate, the frame table partitions by hash and
    // never collects.
    QueryDef("q191_frame_dedup",
      (s, dir) => Multimodal.frames(
          Multimodal.asMedia(Tables.documents(s, dir)), frameBytes = 64)
        .groupBy("frame_md5")
        .agg(countDistinct(col("media_id")).as("n_media"),
          count(lit(1)).as("n_frames"),
          min(col("media_id")).as("first_media"))
        .filter(col("n_media") >= 2)
        .orderBy("frame_md5"),
      Some("""WITH f AS (
        |  SELECT doc_id AS media_id,
        |    md5(substr(text, frame_idx * 64 + 1, 64)) AS frame_md5
        |  FROM (SELECT doc_id, text,
        |          CAST(unnest(range(0, (length(text) + 63) // 64))
        |            AS INTEGER) AS frame_idx
        |        FROM documents WHERE length(text) > 0))
        |SELECT frame_md5, COUNT(DISTINCT media_id) AS n_media,
        |  COUNT(*) AS n_frames, min(media_id) AS first_media
        |FROM f
        |GROUP BY frame_md5 HAVING COUNT(DISTINCT media_id) >= 2
        |ORDER BY frame_md5""".stripMargin)),

    // ---- ANN recall evaluation (both LSH paths vs brute-force truth) ----
    // The eval harness every approximate index needs before production:
    // per query and per method, how much of the exact top-5 the bucketed
    // path recovers. All sides are the library's own oracle-checked
    // operators (q35 / q38 / q205); the recall join is (qid, nid)-keyed
    // over k-row-per-query tables — negligible next to the searches. At
    // scale the ground truth comes from a sampled query set, which this
    // predicate already is. Measured verdict on this corpus:
    //   lsh_single (one 8-bit code, q38): recall ≈ 0.02 — 256 buckets
    //     over near-isotropic vectors; the eval op doing its job.
    //   lsh_banded (48 bands × 6 bits, q205): recall 0.92–0.94 at both
    //     SFs — the documented probe setting that clears 0.8 on this
    //     corpus (see Similarity.lshBandedTopK for the recall/candidate
    //     algebra and the near-dup-corpus setting).
    QueryDef("q201_ann_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") % 50 === 0)
        // truth is referenced by both methods' hit joins and the k census:
        // pin it once (tiny: |queries|·k ids) instead of re-running brute
        val brute = Similarity.bruteForceTopK(q, emb, 5)
          .select(col("qid"), col("nid")).pin()
        val kdf = brute.groupBy("qid").agg(count(lit(1)).as("k"))
        def recallOf(approx: org.apache.spark.sql.DataFrame, method: String) = {
          val hits = brute.join(approx
              .select(col("qid").as("qid2"), col("nid").as("nid2")),
              col("qid") === col("qid2") && col("nid") === col("nid2"),
              "left_semi")
            .groupBy("qid").agg(count(lit(1)).as("hits"))
          kdf.join(hits, Seq("qid"), "left")
            .select(lit(method).as("method"), col("qid"), col("k"),
              coalesce(col("hits"), lit(0L)).as("hits"),
              round(coalesce(col("hits"), lit(0L)).cast("double")
                / col("k"), 6).as("recall"))
        }
        recallOf(Similarity.lshTopK(q, emb, 5), "lsh_single")
          .unionAll(recallOf(Similarity.lshBandedTopK(q, emb, 5), "lsh_banded"))
          .orderBy("method", "qid")
      },
      Some(s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |bscored AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid, $cosSql AS cos
        |  FROM e a JOIN e b ON a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id),
        |brk AS (SELECT qid, nid,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, nid ASC) AS rn
        |  FROM bscored),
        |brute AS (SELECT qid, nid FROM brk WHERE rn <= 5),
        |planes AS (
        |  SELECT b.range AS bit,
        |    list(CASE WHEN (CAST(('0x' || substr(md5(CAST(b.range AS VARCHAR)
        |          || '_' || CAST(d.range AS VARCHAR)), 1, 15)) AS BIGINT)
        |        & 1) = 1
        |      THEN 1.0 ELSE -1.0 END ORDER BY d.range) AS pv
        |  FROM range(8) b, range(64) d
        |  GROUP BY b.range),
        |sig AS (
        |  SELECT e.vec_id, e.v,
        |    CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
        |      THEN (CAST(1 AS BIGINT) << p.bit) ELSE 0 END) AS BIGINT)
        |      AS bucket
        |  FROM e CROSS JOIN planes p
        |  GROUP BY e.vec_id, e.v),
        |lscored AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))
        |      * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM sig a JOIN sig b ON a.bucket = b.bucket
        |  WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id),
        |lrk AS (SELECT qid, nid,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, nid ASC) AS rn
        |  FROM lscored),
        |lsh1 AS (SELECT qid, nid FROM lrk WHERE rn <= 5),
        |bplanes AS (
        |  SELECT b.range AS bit,
        |    list(CASE WHEN (CAST(('0x' || substr(md5(CAST(b.range AS VARCHAR)
        |          || '_' || CAST(d.range AS VARCHAR)), 1, 15)) AS BIGINT)
        |        & 1) = 1
        |      THEN 1.0 ELSE -1.0 END ORDER BY d.range) AS pv
        |  FROM range(288) b, range(64) d
        |  GROUP BY b.range),
        |bsig AS (
        |  SELECT e.vec_id, CAST(p.bit // 6 AS INTEGER) AS band,
        |    CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
        |      THEN (CAST(1 AS BIGINT) << CAST(p.bit % 6 AS INTEGER))
        |      ELSE 0 END) AS BIGINT) AS bs
        |  FROM e CROSS JOIN bplanes p
        |  GROUP BY e.vec_id, p.bit // 6),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
        |  FROM bsig q JOIN bsig c ON q.band = c.band AND q.bs = c.bs
        |  WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id),
        |cscored AS (
        |  SELECT qid, nid,
        |    list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))
        |      * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM cand JOIN e a ON a.vec_id = qid JOIN e b ON b.vec_id = nid),
        |crk AS (SELECT qid, nid,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, nid ASC) AS rn
        |  FROM cscored),
        |lshB AS (SELECT qid, nid FROM crk WHERE rn <= 5),
        |kk AS (SELECT qid, COUNT(*) AS k FROM brute GROUP BY qid),
        |h1 AS (
        |  SELECT b.qid, COUNT(*) AS hits
        |  FROM brute b JOIN lsh1 l ON b.qid = l.qid AND b.nid = l.nid
        |  GROUP BY b.qid),
        |hB AS (
        |  SELECT b.qid, COUNT(*) AS hits
        |  FROM brute b JOIN lshB l ON b.qid = l.qid AND b.nid = l.nid
        |  GROUP BY b.qid)
        |SELECT method, qid, k, hits,
        |  round(CAST(hits AS DOUBLE) / k, 6) AS recall FROM (
        |  SELECT 'lsh_single' AS method, kk.qid, kk.k,
        |    COALESCE(h1.hits, 0) AS hits
        |  FROM kk LEFT JOIN h1 ON kk.qid = h1.qid
        |  UNION ALL
        |  SELECT 'lsh_banded' AS method, kk.qid, kk.k,
        |    COALESCE(hB.hits, 0) AS hits
        |  FROM kk LEFT JOIN hB ON kk.qid = hB.qid)
        |ORDER BY method, qid""".stripMargin)),

    // ---- banded multi-probe LSH top-k (the recall-knobbed ANN path) ----
    // OR-amplification over 48 bands of 6 hyperplane bits: a candidate
    // collides in at least one band, recovering 0.92–0.94 of the exact
    // top-5 on this near-isotropic corpus (vs ~2% for q38's single code;
    // measured by q201). Deterministic md5-parity planes → the DuckDB
    // oracle rebuilds identical band codes and the result is hash-checked.
    QueryDef("q205_ann_banded_lsh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.lshBandedTopK(emb.filter(col("vec_id") % 50 === 0), emb, 5)
          .orderBy("qid", "rn")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |planes AS (
        |  SELECT b.range AS bit,
        |    list(CASE WHEN (CAST(('0x' || substr(md5(CAST(b.range AS VARCHAR)
        |          || '_' || CAST(d.range AS VARCHAR)), 1, 15)) AS BIGINT)
        |        & 1) = 1
        |      THEN 1.0 ELSE -1.0 END ORDER BY d.range) AS pv
        |  FROM range(288) b, range(64) d
        |  GROUP BY b.range),
        |sig AS (
        |  SELECT e.vec_id, CAST(p.bit // 6 AS INTEGER) AS band,
        |    CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
        |      THEN (CAST(1 AS BIGINT) << CAST(p.bit % 6 AS INTEGER))
        |      ELSE 0 END) AS BIGINT) AS bs
        |  FROM e CROSS JOIN planes p
        |  GROUP BY e.vec_id, p.bit // 6),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
        |  FROM sig q JOIN sig c ON q.band = c.band AND q.bs = c.bs
        |  WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id),
        |scored AS (
        |  SELECT qid, nid,
        |    list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))
        |      * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM cand JOIN e a ON a.vec_id = qid JOIN e b ON b.vec_id = nid),
        |ranked AS (SELECT qid, nid, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, nid ASC) AS INTEGER) AS rn
        |  FROM scored)
        |SELECT qid, rn, nid, cos FROM ranked WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin)),

    // ---- product quantization (the compression leg of IVF-PQ) ----
    // 64-dim vector → 8 subspaces × 4-bit codes = one int32-packed code +
    // integer-exact reconstruction error. Codebook = md5-parity ±1 corners
    // (sign quantization with content-addressed codebooks), folded into the
    // projection as literals: assignment is a pure map, zero shuffle — the
    // shape that turns a 100 TB vector corpus into a table of 8-byte codes.
    QueryDef("q206_product_quantization",
      (s, dir) => Similarity.productQuantize(Tables.embeddings(s, dir))
        .orderBy("vec_id"),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |dims AS (
        |  SELECT vec_id, CAST(d.range AS INTEGER) AS d,
        |         v[CAST(d.range AS INTEGER) + 1] AS x
        |  FROM e, range(64) d),
        |cb AS (
        |  SELECT CAST(s.range AS INTEGER) AS sub, CAST(c.range AS INTEGER) AS cid,
        |         CAST(d.range AS INTEGER) AS dsub,
        |    CASE WHEN (CAST(('0x' || substr(md5(CAST(s.range AS VARCHAR) || '_' ||
        |         CAST(c.range AS VARCHAR) || '_' || CAST(d.range AS VARCHAR)), 1, 15))
        |         AS BIGINT) & 1) = 1
        |      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS cv
        |  FROM range(8) s, range(16) c, range(8) d),
        |terms AS (
        |  SELECT dims.vec_id, cb.sub, cb.cid,
        |    CAST(floor((dims.x - cb.cv) * (dims.x - cb.cv) * 1e6) AS BIGINT) AS tm
        |  FROM dims JOIN cb ON dims.d // 8 = cb.sub AND dims.d % 8 = cb.dsub),
        |cells AS (
        |  SELECT vec_id, sub, cid, CAST(SUM(tm) AS BIGINT) AS dist2
        |  FROM terms GROUP BY vec_id, sub, cid),
        |best AS (
        |  SELECT vec_id, sub, cid, dist2,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist2 ASC, cid ASC) AS rn
        |  FROM cells)
        |SELECT vec_id,
        |  CAST(SUM(CAST(cid AS BIGINT) << (4 * sub)) AS BIGINT) AS pq_code,
        |  CAST(SUM(dist2) AS BIGINT) AS err_micro
        |FROM best WHERE rn = 1
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // ---- hard-negative mining (contrastive training data) ----
    // For each anchor, the top-3 most-similar vectors with a DIFFERENT
    // label — the "confusable but wrong" negatives that make contrastive
    // losses learn, complementing q203's random negatives. Anchors
    // broadcast; corpus streams; label exclusion rides the join predicate.
    QueryDef("q207_hard_negatives",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.hardNegativeTopK(emb.filter(col("vec_id") % 50 === 0), emb, 3)
          .orderBy("qid", "rn")
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid, $cosSql AS cos
        |  FROM e a JOIN e b ON a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id
        |    AND b.label <> a.label),
        |ranked AS (SELECT qid, nid, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, nid ASC) AS INTEGER) AS rn
        |  FROM scored)
        |SELECT qid, rn, nid, cos FROM ranked WHERE rn <= 3
        |ORDER BY qid, rn""".stripMargin)),

    // ---- hybrid retrieval: reciprocal rank fusion (lexical ⊕ semantic) ----
    // The standard two-tower retrieval merge: a BM25 rank list (q161's exact
    // formulation, query {table, join, fast}) and an embedding cosine rank
    // list (query = vector 0; doc_id ≡ vec_id in this corpus) fused by
    // RRF(d) = Σ_lists 1/(60 + rank_d) over the lists d appears in —
    // rank-space fusion needs no score calibration between towers, which is
    // why it is the default hybrid merge in production search. Both rank
    // lists are top-50 (rank = position under a fully tie-broken order), so
    // the fusion join touches ≤100 rows regardless of corpus size; the RRF
    // doubles are 1/int IEEE divisions of identical operands — exact on
    // both engines, no rounding needed. Scale shape: each tower is its own
    // bounded top-k (the BM25 side one (doc, term) shuffle, the cosine side
    // a broadcast of ONE query vector over a corpus map); the global
    // row_number windows run on ≤50-row inputs — bounded, not corpus-wide.
    QueryDef("q208_hybrid_rank_fusion",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // the lexical tower IS q161's scorer — one definition, two queries
        // (TextQueries.bm25Scores / bm25OracleCtes), so constant or
        // rounding changes cannot drift between them
        val bm25 = TextQueries.bm25Scores(s, dir, Seq("table", "join", "fast"))
        val lex = bm25.orderBy(col("bm25").desc, col("doc_id")).limit(50)
          .withColumn("lex_rn", row_number()
            .over(Window.orderBy(col("bm25").desc, col("doc_id"))))
          .select("doc_id", "lex_rn")
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .select(Similarity.asDouble(col("embedding")).as("qv"))
        val sem = emb.filter(col("vec_id") =!= 0)
          .select(col("vec_id").as("doc_id"),
            Similarity.asDouble(col("embedding")).as("nv"))
          .crossJoin(broadcast(qv))
          .withColumn("cos", Similarity.cosine(col("qv"), col("nv")))
          .orderBy(col("cos").desc, col("doc_id")).limit(50)
          .withColumn("sem_rn", row_number()
            .over(Window.orderBy(col("cos").desc, col("doc_id"))))
          .select("doc_id", "sem_rn")
        lex.join(sem, Seq("doc_id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60) + col("lex_rn")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + col("sem_rn")), lit(0.0)))
          .withColumn("lex_rn", coalesce(col("lex_rn"), lit(0)))
          .withColumn("sem_rn", coalesce(col("sem_rn"), lit(0)))
          .orderBy(col("rrf").desc, col("doc_id")).limit(20)
          .withColumn("fused_rn", row_number()
            .over(Window.orderBy(col("rrf").desc, col("doc_id"))))
          .select("fused_rn", "doc_id", "lex_rn", "sem_rn", "rrf")
          .orderBy("fused_rn")
      },
      Some(s"""WITH ${TextQueries.bm25OracleCtes(Seq("table", "join", "fast"))},
        |lex AS (
        |  SELECT doc_id, CAST(row_number()
        |      OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS lex_rn
        |  FROM bm QUALIFY lex_rn <= 50),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        |  SELECT b.vec_id AS doc_id, $cosSql AS cos
        |  FROM e a JOIN e b ON a.vec_id = 0 AND b.vec_id <> 0),
        |sem AS (
        |  SELECT doc_id, CAST(row_number()
        |      OVER (ORDER BY cos DESC, doc_id) AS INTEGER) AS sem_rn
        |  FROM scored QUALIFY sem_rn <= 50),
        |fused AS (
        |  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
        |    COALESCE(lex_rn, 0) AS lex_rn, COALESCE(sem_rn, 0) AS sem_rn,
        |    COALESCE(CAST(1 AS DOUBLE) / (60 + lex_rn), CAST(0 AS DOUBLE))
        |      + COALESCE(CAST(1 AS DOUBLE) / (60 + sem_rn),
        |          CAST(0 AS DOUBLE)) AS rrf
        |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
        |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
        |    AS INTEGER) AS fused_rn,
        |  doc_id, lex_rn, sem_rn, rrf
        |FROM fused
        |ORDER BY rrf DESC, doc_id
        |LIMIT 20""".stripMargin)),

    // ---- semantic dedup (SemDeDup-style embedding near-dup pruning) ----
    // The embedding-space analogue of MinHash dedup (Abbas et al. 2023,
    // "SemDeDup"): coarse-cluster the corpus (q51's deterministic IVF
    // cells stand in for the paper's k-means — broadcast centroids,
    // bounded top-p aggregate), then mark every vector that has a
    // LOWER-id neighbor with cosine ≥ τ in a SHARED probe cell as a
    // semantic duplicate; the lowest id in each near-dup group survives.
    // Greedy-by-id gives a deterministic, order-free survivor rule (no
    // iterative CC needed — dedup here is cell-bounded pruning, not
    // transitive closure). MULTI-PROBE (p=4): each vector probes its 4
    // nearest cells, so a boundary pair is caught whenever the two probe
    // sets intersect — q214 measures recall 0.92/0.99 (vs 0.54/0.85
    // single-probe at 8 cells last round) at a cell count 4× higher,
    // proving the scale direction: cells grow with the corpus, probes
    // hold recall. Scale shape: the quadratic pair space stays bounded
    // per cell (the SemDeDup point — |cell|² ≪ |corpus|²); candidate
    // generation is an ids-only equi-join on the probed cell key (vectors
    // do NOT ride the 4× probe explosion — they are re-fetched by id
    // after the distinct, exactly q205's banded-LSH discipline), and the
    // verdict join is a semi-join on id.
    // MEASURED at 10x (/tmp/sf1x, 20k vectors, round 8): hash-exact vs the
    // oracle, but ~6-7 min/query at the PINNED cells=32 — pair volume grew
    // the full quadratic 100x ((n·p/cells)·n), confirming the knob law:
    // hold |cell| constant by scaling cells ∝ n (with centroids from a
    // k-means sample, not first-n ids) and the per-cell cost is flat; the
    // probes knob then buys recall independently of corpus size. q222
    // runs that law live (cells derived from the corpus count on both
    // engines) and measures the gap at 10x.
    QueryDef("q210_semantic_dedup",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val assigned = Similarity
          .ivfAssignProbes(emb, SemDedupCells, SemDedupProbes)
          .pin()
        val probes = assigned.select(col("vec_id"),
          explode(col("cells")).as("cell"))
        val cand = probes.select(col("cell"), col("vec_id").as("i"))
          .join(probes.select(col("cell"), col("vec_id").as("j")), "cell")
          .filter(col("i") < col("j"))
          .select("i", "j").distinct()
        val vecs = assigned.select(col("vec_id"), col("v"))
        val dups = cand
          .join(vecs.select(col("vec_id").as("i"), col("v").as("vi")), "i")
          .join(vecs.select(col("vec_id").as("j"), col("v").as("vj")), "j")
          .filter(Similarity.cosine(col("vi"), col("vj")) >= SemDedupTau)
          .select(col("j").as("dup_id")).distinct()
        assigned.join(dups, col("vec_id") === col("dup_id"), "left")
          .select(col("vec_id"), col("cells").getItem(0).as("cell"),
            when(col("dup_id").isNotNull, 1).otherwise(0).as("is_dup"))
          .orderBy("vec_id")
      },
      Some(s"""WITH $ivfAsgCte,
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
        |  FROM asgp a JOIN asgp b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |dups AS (
        |  SELECT DISTINCT cand.j AS dup_id
        |  FROM cand JOIN e ei ON cand.i = ei.vec_id
        |            JOIN e ej ON cand.j = ej.vec_id
        |  WHERE list_dot_product(ei.v, ej.v)
        |      / (sqrt(list_dot_product(ei.v, ei.v))
        |        * sqrt(list_dot_product(ej.v, ej.v))) >= $SemDedupTau)
        |SELECT prim.vec_id, prim.cell,
        |  CASE WHEN d.dup_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        |FROM prim LEFT JOIN dups d ON prim.vec_id = d.dup_id
        |ORDER BY vec_id""".stripMargin)),

    // ---- semantic-dedup recall eval (what cell-bounding misses) ----
    // q201's honest-eval pattern applied to q210: cell-bounded pruning
    // misses near-dup pairs that straddle every probed-cell boundary,
    // exactly as banded LSH misses pairs that collide in no band. Ground
    // truth = the UNBLOCKED greedy-dup verdict on a deterministic 10%
    // candidate sample (j ≡ 0 mod 10: does any lower-id vector anywhere
    // reach cosine ≥ τ?); found = the same verdict restricted to pairs
    // whose PROBE SETS INTERSECT (arrays_overlap — q210's candidate
    // condition verbatim). Found ⊆ true by construction, so one row
    // (n_true, n_found, recall) quantifies the boundary loss. Measured:
    // 32 cells × 4 probes → recall 0.923 at sf0.01, 0.989 at sf0.1
    // (single-probe at 32 cells would be 0.38/0.56 — multi-probe is what
    // lets the cell count rise with the corpus). Scale shape: the sample
    // broadcasts (|corpus|/10 ids + vectors bounded by the sampling rate
    // you pick at scale), the corpus streams map-side against it, and
    // the truth join is anchor×sample — never |corpus|²; the eval cost
    // is set by the sample rate exactly like q201's query predicate.
    QueryDef("q214_semantic_dedup_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val assigned = Similarity
          .ivfAssignProbes(emb, SemDedupCells, SemDedupProbes)
          .pin()
        val sample = assigned.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("j"), col("cells").as("jcells"),
            col("v").as("vj"))
        val anchors = assigned.select(col("vec_id").as("i"),
          col("cells").as("icells"), col("v").as("vi"))
        val hits = anchors.join(broadcast(sample), col("i") < col("j"))
          .filter(Similarity.cosine(col("vi"), col("vj")) >= SemDedupTau)
          .groupBy("j")
          .agg(max(when(arrays_overlap(col("icells"), col("jcells")), 1)
            .otherwise(0)).as("in_cell"))
        hits.agg(count(lit(1)).as("n_true"),
            sum("in_cell").as("n_found"))
          .select(col("n_true"), col("n_found"),
            round(col("n_found").cast("double")
              / col("n_true").cast("double"), 6).as("recall"))
      },
      Some(s"""WITH $ivfAsgCte,
        |hits AS (
        |  SELECT b.vec_id AS j,
        |    MAX(CASE WHEN list_has_any(a.cells, b.cells)
        |        THEN 1 ELSE 0 END) AS in_cell
        |  FROM asgl a JOIN asgl b
        |    ON a.vec_id < b.vec_id AND b.vec_id % 10 = 0
        |  WHERE list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v))
        |        * sqrt(list_dot_product(b.v, b.v))) >= $SemDedupTau
        |  GROUP BY b.vec_id)
        |SELECT COUNT(*) AS n_true, CAST(SUM(in_cell) AS BIGINT) AS n_found,
        |  round(CAST(SUM(in_cell) AS DOUBLE) / COUNT(*), 6) AS recall
        |FROM hits""".stripMargin)),

    // ---- composed IVF-PQ ANN search (probe → code shortlist → rerank) ----
    // The production ANN architecture both legs exist for: IVF cells
    // bound the candidate space (q78's leg), the 8-byte PQ code stands in
    // for the 256-byte vector in candidate scoring (q206's leg), and only
    // the per-query shortlist fetches real vectors for exact re-ranking.
    // See Similarity.ivfPqTopK for the three-stage shape and the corpus-
    // relative tuning (24/32 probes + rerank 480 on this isotropic
    // corpus; 2–8 probes of thousands of cells on a clustered one).
    // ADC is integer-exact micro-units on both engines, so the shortlist
    // cut is deterministic and the whole search hash-checks.
    QueryDef("q216_ivf_pq_search",
      (s, dir) => Similarity.ivfPqTopK(Tables.embeddings(s, dir),
          IvfPqCells, 5, col("vec_id") % 50 === 0, IvfPqProbes, IvfPqRerank)
        .orderBy("qid", "rn"),
      Some(s"""WITH $ivfPqCtes
        |SELECT qid, rn, nid, cos FROM final WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin)),

    // ---- IVF-PQ recall eval (q201's honest-eval pattern) ----
    // Per query: how much of the exact top-5 the composed index returns.
    // Measured on this corpus: recall 0.86 (sf0.01) / 0.84 (sf0.1) at
    // 24/32 probed cells — the isotropic-geometry ceiling (q201's
    // lsh_banded needs 53% candidate mass for 0.92 on the same corpus);
    // the eval is the proof the knobs transfer: on a clustered corpus
    // the same operator holds ≥0.9 at a fraction of the probe width.
    QueryDef("q217_ivf_pq_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") % 50 === 0)
        val brute = Similarity.bruteForceTopK(q, emb, 5)
          .select(col("qid"), col("nid")).pin()
        val kdf = brute.groupBy("qid").agg(count(lit(1)).as("k"))
        val approx = Similarity.ivfPqTopK(emb, IvfPqCells, 5,
          col("vec_id") % 50 === 0, IvfPqProbes, IvfPqRerank)
        val hits = brute.join(approx
            .select(col("qid").as("qid2"), col("nid").as("nid2")),
            col("qid") === col("qid2") && col("nid") === col("nid2"),
            "left_semi")
          .groupBy("qid").agg(count(lit(1)).as("hits"))
        kdf.join(hits, Seq("qid"), "left")
          .select(lit("ivf_pq").as("method"), col("qid"), col("k"),
            coalesce(col("hits"), lit(0L)).as("hits"),
            round(coalesce(col("hits"), lit(0L)).cast("double")
              / col("k"), 6).as("recall"))
          .orderBy("qid")
      },
      Some(s"""WITH $ivfPqCtes,
        |bscored AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid, $cosSql AS cos
        |  FROM e a JOIN e b ON a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id),
        |brute AS (SELECT qid, nid FROM (
        |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, nid ASC) AS rn FROM bscored) WHERE rn <= 5),
        |kk AS (SELECT qid, COUNT(*) AS k FROM brute GROUP BY qid),
        |h AS (
        |  SELECT b.qid, COUNT(*) AS hits
        |  FROM brute b JOIN final f
        |    ON b.qid = f.qid AND b.nid = f.nid AND f.rn <= 5
        |  GROUP BY b.qid)
        |SELECT 'ivf_pq' AS method, kk.qid, kk.k,
        |  COALESCE(h.hits, 0) AS hits,
        |  round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / kk.k, 6) AS recall
        |FROM kk LEFT JOIN h ON kk.qid = h.qid
        |ORDER BY kk.qid""".stripMargin)),

    // ---- IVF-PQ search over a PERSISTED index (the production path) ----
    // The round-8 memory-contract split made explicit: buildIvfPqIndex runs
    // ONCE, the table lands on storage (parquet here — on a cluster, a
    // partitioned table the scheduler can co-locate), and every search is
    // a plain read of (ids, cells, codes, vectors) with NO session pin and
    // NO rebuild. Same oracle as q216: the search result must be invariant
    // under the build→persist→reload round-trip — proving the index file
    // carries everything search needs and the parquet types survive.
    QueryDef("q221_ivf_pq_persisted_index",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val idxDir = java.nio.file.Files
          .createTempDirectory("graft_ivfpq_index")
        // materialize THROUGH the on-disk index (the round-trip under
        // proof), then delete it in a finally — Bench's median-of-3 and
        // repeated Verify sweeps would otherwise accumulate a copy per
        // run in /tmp, and a failed search must not leak the dir either
        // (ADVICE r9); the walk stream is closed via the Using bracket.
        try {
          Similarity.buildIvfPqIndex(emb, IvfPqCells, IvfPqProbes)
            .write.mode("overwrite").parquet(idxDir.toString)
          val index = s.read.parquet(idxDir.toString)
          Similarity.ivfPqSearchIndexed(index, 5,
              col("vec_id") % 50 === 0, IvfPqRerank)
            .orderBy("qid", "rn").pin()
        } finally {
          scala.util.Using.resource(java.nio.file.Files.walk(idxDir)) { w =>
            w.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => java.nio.file.Files.deleteIfExists(p))
          }
        }
      },
      Some(s"""WITH $ivfPqCtes
        |SELECT qid, rn, nid, cos FROM final WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin)),

    // ---- semantic dedup with corpus-scaled cells (the knob law, live) ----
    // q210 pins cells=32 for cross-SF oracle parity, which leaves its pair
    // volume quadratic in corpus size ((n·p/cells)·n — measured the full
    // 100x at the 10x corpus). This variant derives the cell count FROM
    // the corpus — cells = max(8, n/100), i.e. |cell| held ~constant at
    // ~100·p vectors — which is the production scaling: pair volume grows
    // LINEARLY with n once cells track it. Both engines derive the same
    // count (Spark from emb.count(), DuckDB from a scalar subquery), so
    // the whole dedup verdict stays hash-exact while the knob moves with
    // the data. One bounded driver action (the count) buys the knob; at
    // 100 TB that count comes from table stats, not a scan.
    // MEASURED at 10x (/tmp/sf1x, 20k vectors, round 8): hash-exact with
    // cells autoscaled to 200, completing in ~1/4 the wall-clock of
    // q210's pinned cells=32 on the same corpus — the linear-vs-quadratic
    // gap at just 10x, and it widens with every further scale-up.
    QueryDef("q222_semantic_dedup_autoscale",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cells = math.max(8L, emb.count() / 100L).toInt
        val assigned = Similarity
          .ivfAssignProbes(emb, cells, SemDedupProbes)
          .pin()
        // Pair-generation shape (r11, ONE definition since r12): the
        // vector-carrying cell-local score-then-distinct join —
        // Similarity.cellLocalDupIds' scaladoc carries the disk-spill
        // lesson that retired the distinct-pairs-then-rejoin shape.
        val dups = Similarity.cellLocalDupIds(assigned, SemDedupTau)
        assigned.join(dups, col("vec_id") === col("dup_id"), "left")
          .select(col("vec_id"), col("cells").getItem(0).as("cell"),
            when(col("dup_id").isNotNull, 1).otherwise(0).as("is_dup"))
          .orderBy("vec_id")
      },
      Some(s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |k AS (SELECT GREATEST(8, COUNT(*) // 100) AS cells FROM e),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e
        |      WHERE vec_id < (SELECT cells FROM k)),
        |asgp AS (
        |  SELECT vec_id, cell, rn, v FROM (
        |    SELECT e.vec_id, c.cid AS cell, e.v,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, c.cv)
        |            / (sqrt(list_dot_product(e.v, e.v))
        |              * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |          c.cid ASC) AS rn
        |    FROM e CROSS JOIN c) WHERE rn <= $SemDedupProbes),
        |prim AS (SELECT vec_id, cell, v FROM asgp WHERE rn = 1),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
        |  FROM asgp a JOIN asgp b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |dups AS (
        |  SELECT DISTINCT cand.j AS dup_id
        |  FROM cand JOIN e ei ON cand.i = ei.vec_id
        |            JOIN e ej ON cand.j = ej.vec_id
        |  WHERE list_dot_product(ei.v, ej.v)
        |      / (sqrt(list_dot_product(ei.v, ei.v))
        |        * sqrt(list_dot_product(ej.v, ej.v))) >= $SemDedupTau)
        |SELECT prim.vec_id, prim.cell,
        |  CASE WHEN d.dup_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        |FROM prim LEFT JOIN dups d ON prim.vec_id = d.dup_id
        |ORDER BY vec_id""".stripMargin)),

    // ---- incremental IVF-PQ index append (maintenance without rebuild) ----
    // The operational gap between "an index" and "an index you can keep":
    // hold out ~20% of the corpus as a new-ingest batch, build the index on
    // the rest, then APPEND the batch via assign-against-the-ORIGINAL-
    // centroids + encode + union (Similarity.appendToIvfPqIndex — work
    // O(|batch|·cells), the existing index never rescanned). Because the
    // batch scores against the same centroid table, the merged index is
    // bit-identical to a full rebuild — so searching it must reproduce
    // q216's oracle EXACTLY, which is the whole proof: append-then-search
    // == rebuild-then-search, hash-checked. (Centroid refresh — the
    // k-means drift policy — is the one operation that still costs a full
    // re-index, named in the scaladoc.)
    QueryDef("q223_ivf_pq_incremental_append",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val isNew = col("vec_id") >= IvfPqCells && col("vec_id") % 5 === 0
        val old = emb.filter(!isNew)
        val index = Similarity.appendToIvfPqIndex(
            Similarity.buildIvfPqIndex(old, IvfPqCells, IvfPqProbes),
            Similarity.ivfCentroids(old, IvfPqCells),
            emb.filter(isNew), IvfPqProbes)
          .persist()
        try Similarity.ivfPqSearchIndexed(index, 5,
            col("vec_id") % 50 === 0, IvfPqRerank)
          .orderBy("qid", "rn").pin()
        finally index.unpersist(blocking = false)
      },
      Some(s"""WITH $ivfPqCtes
        |SELECT qid, rn, nid, cos FROM final WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin)),

    // ---- centroid refresh → full re-index → search (the drift policy) ----
    // The production leg q223's scaladoc names: when ingest drift degrades
    // cell balance, re-derive centroids with k-means (kmeansCentroids —
    // Euclidean Lloyd, 2 rounds here) and run the classic full re-index
    // against the REFRESHED table (buildIvfPqIndexWith), then search as
    // usual. Work shape: the refresh is 2 bounded corpus passes (k×dim
    // numbers to the driver per round), the re-index is the same one
    // centroid-scoring + one encode pass as the first build, and search
    // is unchanged — nothing new shuffles corpus vectors. Oracle: the
    // same IVF-PQ search scaffold as q216, with the first-32 centroid
    // stand-in swapped for the unrolled 2-round Lloyd chain (lloydCtes)
    // — refresh-then-search hash-checks end to end, proving the explicit
    // centroid seam (assignProbesWith) feeds search bit-identically.
    QueryDef("q224_ivf_pq_centroid_refresh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val refreshed = Similarity.kmeansCentroids(emb, IvfPqCells, iterations = 2)
        val index = Similarity.buildIvfPqIndexWith(emb, refreshed, IvfPqProbes)
          .persist()
        try Similarity.ivfPqSearchIndexed(index, 5,
            col("vec_id") % 50 === 0, IvfPqRerank)
          .orderBy("qid", "rn").pin()
        finally index.unpersist(blocking = false)
      },
      Some(s"""WITH ${ivfPqSearchCtes(
          s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            |${lloydCtes(IvfPqCells, rounds = 2, finalAssign = false)},
            |c AS (SELECT cid, cv FROM c2)""".stripMargin)}
        |SELECT qid, rn, nid, cos FROM final WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin)),

    // ---- banded-LSH geometry knobs measured on a CLUSTERED corpus ----
    // Similarity.lshBandedTopK's scaladoc claims the production setting
    // (32 bands × 16 bits) holds ≥0.9 recall at a tiny fraction of the
    // candidate mass ON A NEAR-DUP CORPUS — algebra until now; this query
    // MEASURES it. A clustered corpus is derived deterministically from
    // the fixtures (so both engines rebuild it bit-identically): every
    // base vector gets 4 replicas jittered ±0.025 per dimension by
    // md5-parity of (replica_vec_id, dim) — within-cluster cosine ≈ 0.96+,
    // cross-cluster stays near-isotropic. Truth is brute-force top-3
    // (= each query's 3 siblings). Both knob settings run over the SAME
    // corpus; the output is one row per knob with recall and candidate
    // mass in exact INTEGER micro-units (counts and `div` — no fp in any
    // compared value). MEASURED (this round, both hash-green): both knobs
    // reach recall 1.0 on the clustered corpus, but 48×6 (the isotropic-
    // geometry setting) pays ~53% candidate mass while 32×16 pays 0.27%
    // (sf0.01: 53 vs 10,600 candidates) / 0.13% (sf0.1: 414 vs 172,622)
    // — the ~2-orders-of-magnitude trade the scaladoc algebra predicted,
    // now a number.
    QueryDef("q225_lsh_geometry_eval",
      (s, dir) => {
        import org.apache.spark.sql.DataFrame
        val base = Tables.embeddings(s, dir)
        // deterministic clustered corpus: 4 jittered replicas per base
        val dims = base
          .select(col("vec_id").as("bid"),
            Similarity.asDouble(col("embedding")).as("v"))
          .crossJoin(broadcast(s.range(4).select(col("id").as("r"))))
          .select((col("bid") * 4 + col("r")).as("vec_id"),
            posexplode(col("v")).as(Seq("j", "x")))
        val clustered = dims
          .withColumn("x2", col("x") +
            when(conv(substring(md5(concat_ws("_", col("vec_id"), col("j"))),
                32, 1), 16, 10).cast("int") % 2 === 1,
              lit(0.025)).otherwise(lit(-0.025)))
          .groupBy("vec_id")
          .agg(array_sort(collect_list(struct(col("j"), col("x2")))).as("ps"))
          .select(col("vec_id"),
            transform(col("ps"), _.getField("x2")).as("embedding"))
          .cache() // reused by truth + 2 knobs + 2 sig passes; released below
        val queries = clustered.filter(col("vec_id") % 200 === 0)
        val truth = Similarity.bruteForceTopK(queries, clustered, 3)
          .select(col("qid"), col("nid")).cache()
        // per-knob candidate pins, released with the corpus pins below
        val candPins = scala.collection.mutable.Set.empty[Int]
        def knob(bands: Int, bits: Int): DataFrame = {
          // ONE candidate derivation per knob (r21, guide §1.2): the
          // ranked-hits leg and the candidate-mass leg each used to run
          // the full signature/bucket-join/distinct chain — two corpus
          // signature passes per knob for the same pair set. The set is
          // now derived once (Similarity.lshBandedCandidates), pinned,
          // and shared: hits rank it, ncand counts it. Same expressions,
          // same pair set — the measured recalls/masses are unchanged
          // (hash-green at both SFs).
          val cand = Similarity
            .lshBandedCandidates(queries, clustered, 64, bands, bits)
            .pin()
          candPins.synchronized {
            candPins ++= graft.util.CheckpointGen.pinnedIds(cand); ()
          }
          val approx = Similarity
            .lshBandedTopKFromCandidates(cand, queries, clustered, 3)
          val hits = truth.join(approx
              .select(col("qid").as("qid2"), col("nid").as("nid2")),
              col("qid") === col("qid2") && col("nid") === col("nid2"),
              "left_semi")
            .agg(count(lit(1)).as("hits"))
          val ncand = cand.agg(count(lit(1)).as("ncand"))
          val counts = queries.agg(count(lit(1)).as("n_queries"))
            .crossJoin(clustered.agg(count(lit(1)).as("n_corpus")))
            .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
          counts.crossJoin(hits).crossJoin(ncand)
            .select(lit(s"banded_${bands}x$bits").as("method"),
              col("n_queries"), col("n_corpus"), col("n_truth"), col("hits"),
              expr("(hits * CAST(1000000 AS BIGINT)) div n_truth")
                .as("recall_micro"),
              col("ncand"),
              expr("(ncand * CAST(1000000 AS BIGINT)) div " +
                "(n_queries * (n_corpus - 1))").as("cand_ppm"))
        }
        // materialize the shared cached inputs ONCE while still
        // sequential: both knobs read `clustered` and `truth` through the
        // cache, and two concurrent first-readers would each compute the
        // expensive brute-force truth before one wins the cache write
        truth.count()
        // the two knob legs are independent job chains over the (now
        // cached) shared inputs — overlapped (guide §2.6); each leg's
        // candidate pin is the expensive part and they no longer
        // serialize behind each other
        val legs = new Array[DataFrame](2)
        graft.util.Par.run(
          () => legs(0) = knob(48, 6),
          () => legs(1) = knob(32, 16))
        // ivfPqTopK's pin lifecycle (ADVICE r9): the 2-row result
        // materializes eagerly, then the corpus-scale pins are released —
        // nothing corpus-sized stays pinned after the fn returns, and
        // Bench reps don't accumulate checkpoint blocks
        try legs(0).unionAll(legs(1)).orderBy("method")
          .pin()
        finally {
          clustered.unpersist(blocking = false)
          truth.unpersist(blocking = false)
          graft.util.CheckpointGen.release(s.sparkContext, candPins.toSet)
        }
      },
      Some(s"""WITH base AS (
        |  SELECT vec_id AS bid, embedding::DOUBLE[] AS v FROM embeddings),
        |dims AS (
        |  SELECT bid * 4 + r.range AS vec_id, CAST(d.range AS INTEGER) AS j,
        |    v[d.range + 1] AS x
        |  FROM base CROSS JOIN range(4) r CROSS JOIN range(64) d),
        |corp AS (
        |  SELECT vec_id, list(x +
        |      CASE WHEN (CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) ||
        |          '_' || CAST(j AS VARCHAR)), 32, 1)) AS BIGINT) % 2) = 1
        |        THEN 0.025 ELSE -0.025 END ORDER BY j) AS v
        |  FROM dims GROUP BY vec_id),
        |bscored AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))
        |      * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM corp a JOIN corp b
        |    ON a.vec_id % 200 = 0 AND b.vec_id <> a.vec_id),
        |truth AS (SELECT qid, nid FROM (
        |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, nid ASC) AS rn FROM bscored) WHERE rn <= 3),
        |${lshKnobCtes("a", 48, 6)},
        |${lshKnobCtes("b", 32, 16)}
        |SELECT method, n_queries, n_corpus, n_truth, hits, recall_micro,
        |  ncand, cand_ppm
        |FROM (SELECT * FROM astats UNION ALL SELECT * FROM bstats)
        |ORDER BY method""".stripMargin)),

    // ---- two-level semantic dedup (the autoscale law's n^1.5 scale path) --
    // q222 makes cells track the corpus (cells = n/100) so PAIR volume grows
    // linearly — but its flat assignment still performs n·cells cosines,
    // i.e. n²/100: the 100× sweep measures that term dominating the leg.
    // This variant routes assignment through ~√cells coarse cells
    // (Similarity.ivfAssignProbesTwoLevel): fine centroids argmax-route to
    // a coarse cell, vectors probe their top-2 coarse cells and score only
    // the fine centroids routed there — n·O(√cells) assignment, the growth
    // law that survives cells ∝ n. Same dedup semantics downstream
    // (probe-set-intersection candidates, cosine ≥ τ, dup = higher id);
    // the two-level argmax is an approximation of the flat argmax, so the
    // oracle replicates the SAME two-level routing CTE-for-CTE and the
    // verdict stays hash-exact. Knobs derived from the corpus on both
    // engines: cells = max(8, n/100), coarse = max(4, ceil(√cells)).
    QueryDef("q226_semantic_dedup_two_level",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cells = math.max(8L, emb.count() / 100L).toInt
        val nCoarse = math.max(4, math.ceil(math.sqrt(cells.toDouble)).toInt)
        val assigned = Similarity
          .ivfAssignProbesTwoLevel(emb, cells, SemDedupProbes, nCoarse, 2)
          .pin()
        // the shared score-then-distinct shape (Similarity.cellLocalDupIds)
        val dups = Similarity.cellLocalDupIds(assigned, SemDedupTau)
        assigned.join(dups, col("vec_id") === col("dup_id"), "left")
          .select(col("vec_id"), col("cells").getItem(0).as("cell"),
            when(col("dup_id").isNotNull, 1).otherwise(0).as("is_dup"))
          .orderBy("vec_id")
      },
      Some(s"""WITH $twoLevelAsgpCtes,
        |prim AS (SELECT vec_id, cell, v FROM asgp WHERE rn = 1),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
        |  FROM asgp a JOIN asgp b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |dups AS (
        |  SELECT DISTINCT cand.j AS dup_id
        |  FROM cand JOIN e ei ON cand.i = ei.vec_id
        |            JOIN e ej ON cand.j = ej.vec_id
        |  WHERE list_dot_product(ei.v, ej.v)
        |      / (sqrt(list_dot_product(ei.v, ei.v))
        |        * sqrt(list_dot_product(ej.v, ej.v))) >= $SemDedupTau)
        |SELECT prim.vec_id, prim.cell,
        |  CASE WHEN d.dup_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        |FROM prim LEFT JOIN dups d ON prim.vec_id = d.dup_id
        |ORDER BY vec_id""".stripMargin)),

    // ---- autoscaled two-level IVF-PQ (the 100 TB ANN build, composed) ----
    // The b2 sweep family measures the pinned-cells IVF-PQ growing with
    // corpus × query-batch; the production knob for corpus-tracking
    // workloads is cells ∝ n — and under that law the flat index BUILD
    // becomes the n² assignment q226 just retired for dedup. This query
    // composes the full fix: buildIvfPqIndexTwoLevel (cells = n/100
    // autoscaled, assignment routed through √cells coarse cells, PQ codes
    // unchanged) + the UNCHANGED ivfPqSearchIndexed (the search reads
    // whatever probe list the index carries — its candidate mass is
    // |queries|·nprobe·(n/cells) = |queries|·nprobe·100, CONSTANT per
    // query under the autoscale law). Oracle: the shared two-level
    // routing scaffold (q226's CTEs) feeds the shared PQ/ADC/rerank
    // chain (q216's CTEs) — asg = argmax of asgp, qprobe = every probed
    // cell of the query ids; hash-exact end to end.
    QueryDef("q227_ivf_pq_autoscale_two_level",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cells = math.max(8L, emb.count() / 100L).toInt
        val nCoarse = math.max(4, math.ceil(math.sqrt(cells.toDouble)).toInt)
        val index = Similarity
          .buildIvfPqIndexTwoLevel(emb, cells, SemDedupProbes, nCoarse, 2)
          .persist()
        try Similarity.ivfPqSearchIndexed(index, 5,
            col("vec_id") % 50 === 0, IvfPqRerank)
          .orderBy("qid", "rn").pin()
        finally index.unpersist(blocking = false)
      },
      Some(s"""WITH ${ivfPqSearchCtesWith(twoLevelAsgpCtes,
          "asg AS (SELECT vec_id, cell FROM asgp WHERE rn = 1)",
          "qprobe AS (SELECT vec_id AS qid, cell FROM asgp WHERE vec_id % 50 = 0)")}
        |SELECT qid, rn, nid, cos FROM final WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin)),

    // ---- two-level vs flat dedup agreement (the approximation, measured) --
    // q226 documents the two-level routing's approximation contract (a fine
    // centroid outside a vector's probed coarse cells is invisible); this
    // eval MEASURES what that costs the dedup verdict: both assignments run
    // at the same autoscaled knobs over the same corpus, both dup sets are
    // derived identically (probe-set-intersection candidates, cosine ≥ τ,
    // dup = higher id), and the output is one row PER gProbe knob of
    // set-agreement stats in exact integer units (counts + ppm Jaccard via
    // integer div — no fp in any compared value). MEASURED on the fixtures
    // (all rows hash-green): sf0.01 — flat 363 dups; gProbe=2 captures 349
    // (a strict subset, Jaccard 0.961), gProbe=3 captures 361 (0.994);
    // sf0.1 — flat 1853; g=2 1825 common (0.979), g=3 1838 (0.986). The
    // routing approximation costs a few percent of the dup set on this
    // NEAR-ISOTROPIC corpus (the hardest case for coarse routing: cells
    // barely cluster, so boundary misses are maximal) and gProbe is the
    // measured recall knob (the q214 argument, one level up) — all while
    // removing the n² assignment term.
    QueryDef("q228_two_level_dedup_agreement",
      (s, dir) => {
        import org.apache.spark.sql.DataFrame
        val emb = Tables.embeddings(s, dir)
        val cells = math.max(8L, emb.count() / 100L).toInt
        val nCoarse = math.max(4, math.ceil(math.sqrt(cells.toDouble)).toInt)
        // the shared score-then-distinct shape — this query runs THREE dup
        // pipelines in one JVM, exactly where the retired pair-sized vector
        // shuffle filled the disk (Similarity.cellLocalDupIds' scaladoc)
        def dupsOf(assigned: DataFrame): DataFrame =
          Similarity.cellLocalDupIds(assigned, SemDedupTau)
        // the flat pipeline and the two knob pipelines are three
        // INDEPENDENT job chains over the same corpus (they only meet in
        // the agreement stats below) — overlapped (guide §2.6), so the
        // three assignment+screen legs back-fill each other's task tails
        // instead of serializing
        val pinned = new Array[DataFrame](3)
        graft.util.Par.run(
          () => pinned(0) = dupsOf(Similarity
              .ivfAssignProbes(emb, cells, SemDedupProbes)
              .pin())
            .pin(),
          () => pinned(1) = dupsOf(Similarity
              .ivfAssignProbesTwoLevel(emb, cells, SemDedupProbes,
                nCoarse, 2)
              .pin())
            .pin(),
          () => pinned(2) = dupsOf(Similarity
              .ivfAssignProbesTwoLevel(emb, cells, SemDedupProbes,
                nCoarse, 3)
              .pin())
            .pin())
        val dupF = pinned(0)
        def knob(gProbe: Int): DataFrame = {
          val dupT = pinned(gProbe - 1)
          dupF.agg(count(lit(1)).as("n_flat"))
            .crossJoin(dupT.agg(count(lit(1)).as("n_two_level")))
            .crossJoin(dupF.join(dupT.select(col("dup_id").as("d2")),
                col("dup_id") === col("d2"), "left_semi")
              .agg(count(lit(1)).as("n_common")))
            .select(lit(s"two_level_g$gProbe").as("method"),
              col("n_flat"), col("n_two_level"), col("n_common"),
              expr("(n_common * CAST(1000000 AS BIGINT)) div " +
                "(n_flat + n_two_level - n_common)").as("jaccard_micro"))
        }
        knob(2).unionAll(knob(3)).orderBy("method")
      },
      Some(s"""WITH $twoLevelRoutePrefixCtes,
        |${twoLevelAsgpCte("asgp2", 2)},
        |${twoLevelAsgpCte("asgp3", 3)},
        |asgf AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, c.cid AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, c.cv)
        |            / (sqrt(list_dot_product(e.v, e.v))
        |              * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |          c.cid ASC) AS rn
        |    FROM e CROSS JOIN c) WHERE rn <= $SemDedupProbes),
        |candf AS (
        |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
        |  FROM asgf a JOIN asgf b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |dupf AS (
        |  SELECT DISTINCT candf.j AS dup_id
        |  FROM candf JOIN e ei ON candf.i = ei.vec_id
        |             JOIN e ej ON candf.j = ej.vec_id
        |  WHERE list_dot_product(ei.v, ej.v)
        |      / (sqrt(list_dot_product(ei.v, ei.v))
        |        * sqrt(list_dot_product(ej.v, ej.v))) >= $SemDedupTau),
        |cand2 AS (
        |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
        |  FROM asgp2 a JOIN asgp2 b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |dup2 AS (
        |  SELECT DISTINCT cand2.j AS dup_id
        |  FROM cand2 JOIN e ei ON cand2.i = ei.vec_id
        |             JOIN e ej ON cand2.j = ej.vec_id
        |  WHERE list_dot_product(ei.v, ej.v)
        |      / (sqrt(list_dot_product(ei.v, ei.v))
        |        * sqrt(list_dot_product(ej.v, ej.v))) >= $SemDedupTau),
        |cand3 AS (
        |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
        |  FROM asgp3 a JOIN asgp3 b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |dup3 AS (
        |  SELECT DISTINCT cand3.j AS dup_id
        |  FROM cand3 JOIN e ei ON cand3.i = ei.vec_id
        |             JOIN e ej ON cand3.j = ej.vec_id
        |  WHERE list_dot_product(ei.v, ej.v)
        |      / (sqrt(list_dot_product(ei.v, ei.v))
        |        * sqrt(list_dot_product(ej.v, ej.v))) >= $SemDedupTau),
        |stats AS (
        |  SELECT 'two_level_g2' AS method,
        |         (SELECT COUNT(*) FROM dupf) AS n_flat,
        |         (SELECT COUNT(*) FROM dup2) AS n_two_level,
        |         (SELECT COUNT(*) FROM dupf JOIN dup2 USING (dup_id))
        |           AS n_common
        |  UNION ALL
        |  SELECT 'two_level_g3' AS method,
        |         (SELECT COUNT(*) FROM dupf) AS n_flat,
        |         (SELECT COUNT(*) FROM dup3) AS n_two_level,
        |         (SELECT COUNT(*) FROM dupf JOIN dup3 USING (dup_id))
        |           AS n_common)
        |SELECT method, n_flat, n_two_level, n_common,
        |  (n_common * CAST(1000000 AS BIGINT))
        |    // (n_flat + n_two_level - n_common) AS jaccard_micro
        |FROM stats ORDER BY method""".stripMargin)),

    // ---- two-level index LIFECYCLE: persist → append → search ----------
    // q227 proves the two-level BUILD; this proves the index you can KEEP
    // under the same growth law. The flat lifecycle (q221 persist, q223
    // append) still assigns O(batch·cells) per append — under cells ∝ n
    // that is the n² term q227 removed from the build, re-imported through
    // the maintenance path (r10 verdict's one substantive gap). Here the
    // two-level index AND its three state tables (coarse centroids, fine
    // routing, the index itself) round-trip through parquet, a held-out
    // ingest batch is appended via assignProbesTwoLevelWith against the
    // PERSISTED tables (batch·O(√cells) work), and search runs over the
    // merged index. Because the batch routes against the same coarse/fine
    // tables the build used, append-then-search is bit-identical to a
    // two-level rebuild over old ∪ new — so the oracle is q227's SQL
    // VERBATIM (the q223 proof shape, one level up), and the parquet
    // round-trip of all three state tables is proven by the same hash.
    QueryDef("q230_ivf_pq_two_level_lifecycle",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cells = math.max(8L, emb.count() / 100L).toInt
        val nCoarse = math.max(4, math.ceil(math.sqrt(cells.toDouble)).toInt)
        // held-out ingest: never a centroid id (those seed both levels)
        val isNew = col("vec_id") >= cells && col("vec_id") % 5 === 0
        val old = emb.filter(!isNew)
        val idxDir = java.nio.file.Files
          .createTempDirectory("graft_ivfpq2_index")
        try {
          val coarse = Similarity.ivfCoarseCentroids(old, nCoarse)
          Similarity.buildIvfPqIndexTwoLevel(old, cells, SemDedupProbes,
              nCoarse, 2)
            .write.mode("overwrite").parquet(s"$idxDir/index")
          coarse.write.mode("overwrite").parquet(s"$idxDir/coarse")
          Similarity
            .routeFineCentroids(Similarity.ivfCentroids(old, cells), coarse)
            .write.mode("overwrite").parquet(s"$idxDir/froute")
          val index = Similarity.appendToIvfPqIndexTwoLevel(
              s.read.parquet(s"$idxDir/index"),
              s.read.parquet(s"$idxDir/coarse"),
              s.read.parquet(s"$idxDir/froute"),
              emb.filter(isNew), SemDedupProbes, 2)
            .persist()
          try Similarity.ivfPqSearchIndexed(index, 5,
              col("vec_id") % 50 === 0, IvfPqRerank)
            .orderBy("qid", "rn").pin()
          finally index.unpersist(blocking = false)
        } finally {
          scala.util.Using.resource(java.nio.file.Files.walk(idxDir)) { w =>
            w.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => java.nio.file.Files.deleteIfExists(p))
          }
        }
      },
      Some(s"""WITH ${ivfPqSearchCtesWith(twoLevelAsgpCtes,
          "asg AS (SELECT vec_id, cell FROM asgp WHERE rn = 1)",
          "qprobe AS (SELECT vec_id AS qid, cell FROM asgp WHERE vec_id % 50 = 0)")}
        |SELECT qid, rn, nid, cos FROM final WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin)),

    // ---- two-level centroid REFRESH → re-index → search (drift policy) --
    // q224's refresh leg under the two-level routing: a refresh re-cells
    // the WHOLE corpus by definition — exactly when the flat
    // buildIvfPqIndexWith's O(n·cells) assignment hurts most under
    // cells ∝ n — so the production refresh must route two-level too.
    // Fine centroids are k-means-refreshed (kmeansCentroids, 2 Lloyd
    // rounds — arbitrary non-prefix-id centroid geometry, proving the
    // assignProbesTwoLevelWith seam is centroid-agnostic, not an artifact
    // of the first-n stand-in); coarse stays the deterministic first-6
    // stand-in (ceil(√32) — the autoscale pairing at the pinned k). Knobs
    // are PINNED (k = 32) because the oracle unrolls Lloyd at compile time
    // (lloydCtes) — the autoscaled-knob law is q227/q230's proof; this one
    // pins knobs to isolate the refreshed-geometry seam. Oracle: the
    // 2-round Lloyd chain feeds the two-level routing CTEs feeds the
    // shared PQ/ADC/rerank chain — refresh-then-search hash-exact.
    QueryDef("q231_ivf_pq_two_level_refresh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val refreshed = Similarity.kmeansCentroids(emb, IvfPqCells,
          iterations = 2)
        val coarse = Similarity.ivfCoarseCentroids(emb, 6)
        val index = Similarity.buildIvfPqIndexTwoLevelWith(emb, refreshed,
            coarse, SemDedupProbes, 2)
          .persist()
        try Similarity.ivfPqSearchIndexed(index, 5,
            col("vec_id") % 50 === 0, IvfPqRerank)
          .orderBy("qid", "rn").pin()
        finally index.unpersist(blocking = false)
      },
      Some(s"""WITH ${ivfPqSearchCtesWith(
          twoLevelRouteCtes(
            s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |${lloydCtes(IvfPqCells, rounds = 2, finalAssign = false)},
              |c AS (SELECT cid, cv FROM c2),
              |gc AS (SELECT vec_id AS gid, v AS gv FROM e WHERE vec_id < 6)""".stripMargin)
            + ",\n" + twoLevelAsgpCte("asgp", 2),
          "asg AS (SELECT vec_id, cell FROM asgp WHERE rn = 1)",
          "qprobe AS (SELECT vec_id AS qid, cell FROM asgp WHERE vec_id % 50 = 0)")}
        |SELECT qid, rn, nid, cos FROM final WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin)),

    // ---- streaming semantic-dedup ingest screen (the operational gate) --
    // The composite a production pipeline actually runs: new vectors
    // arrive as micro-batches and each batch is screened against the
    // PERSISTED two-level index inside foreachBatch — two-level probe
    // assignment against the index's own coarse/fine/routing tables
    // (batch·O(√cells) work), candidates = corpus vectors sharing a probed
    // cell (q210's intersection rule), dup iff any candidate cosine ≥ τ.
    // The screen checks ONLY against the persisted index — never against
    // other in-flight batches — so the verdict set is independent of batch
    // boundaries and delivery order (the property that makes an ingest
    // gate idempotent under redelivery AND makes it SQL-oracle-able; dup
    // survivors feed the separate append step, q230, on the operator's
    // cadence). Sink discipline: per-batch idempotent parquet overwrite
    // keyed by epoch (Streams.idempotentParquetSink's contract). Output is
    // integer-only per ingest vector: distinct matching corpus neighbors
    // and the dup verdict.
    QueryDef("q233_stream_semantic_ingest_screen",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cells = math.max(8L, emb.count() / 100L).toInt
        val nCoarse = math.max(4, math.ceil(math.sqrt(cells.toDouble)).toInt)
        val isNew = col("vec_id") >= cells && col("vec_id") % 5 === 0
        val old = emb.filter(!isNew)
        val coarse = Similarity.ivfCoarseCentroids(old, nCoarse)
          .pin()
        val froute = Similarity
          .routeFineCentroids(Similarity.ivfCentroids(old, cells), coarse)
          .pin()
        val index = Similarity.buildIvfPqIndexTwoLevelRouted(old, coarse,
            froute, SemDedupProbes, 2)
          .persist()
        val outRoot = java.nio.file.Files
          .createTempDirectory("graft_ingest_screen")
        try {
          // corpus probes CARRY their vector (the cellLocalScreen shape):
          // the ingest↔corpus candidate join streams cosine as a filter and
          // only matches are ever distinct'd — no pair-sized vector shuffle
          val corpProbes = index.select(col("vec_id").as("nid"),
            explode(col("cells")).as("cell"), col("v").as("nv"))
          val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
          val ingest = s.readStream.schema(schema)
            .parquet(s"$dir/embeddings.parquet*")
            .filter(isNew)
          val screen: (org.apache.spark.sql.DataFrame, Long) => Unit =
            (batch, epoch) => {
              ingestScreenBatch(batch, coarse, froute, corpProbes)
                .write.mode("overwrite").parquet(s"$outRoot/batch=$epoch")
            }
          val q = ingest.writeStream.foreachBatch(screen).start()
          try q.processAllAvailable() finally q.stop()
          s.read.parquet(outRoot.toString).drop("batch")
            .orderBy("vec_id").pin()
        } finally {
          index.unpersist(blocking = false)
          scala.util.Using.resource(java.nio.file.Files.walk(outRoot)) { w =>
            w.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => java.nio.file.Files.deleteIfExists(p))
          }
        }
      },
      Some(s"""WITH $twoLevelAsgpCtes,
        |corp AS (
        |  SELECT vec_id, cell FROM asgp
        |  WHERE NOT (vec_id >= (SELECT cells FROM k) AND vec_id % 5 = 0)),
        |ing AS (
        |  SELECT vec_id, cell FROM asgp
        |  WHERE vec_id >= (SELECT cells FROM k) AND vec_id % 5 = 0),
        |cand AS (
        |  SELECT DISTINCT ing.vec_id AS j, corp.vec_id AS i
        |  FROM ing JOIN corp ON ing.cell = corp.cell),
        |dups AS (
        |  SELECT cand.j, COUNT(*) AS n_dup_matches
        |  FROM cand JOIN e ei ON cand.i = ei.vec_id
        |            JOIN e ej ON cand.j = ej.vec_id
        |  WHERE list_dot_product(ei.v, ej.v)
        |      / (sqrt(list_dot_product(ei.v, ei.v))
        |        * sqrt(list_dot_product(ej.v, ej.v))) >= $SemDedupTau
        |  GROUP BY cand.j),
        |base AS (SELECT DISTINCT vec_id FROM ing)
        |SELECT base.vec_id,
        |  COALESCE(d.n_dup_matches, 0) AS n_dup_matches,
        |  CASE WHEN d.n_dup_matches IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        |FROM base LEFT JOIN dups d ON base.vec_id = d.j
        |ORDER BY vec_id""".stripMargin)),

    // ---- streaming ingest END-TO-END: screen → append survivors → search --
    // q233's screen and q230's append composed into the pipeline a vector
    // store actually runs: each micro-batch is screened against the
    // ORIGINAL persisted index (dup iff any shared-probed-cell corpus
    // neighbor at cosine ≥ τ), the survivors are two-level-assigned +
    // PQ-encoded as a per-epoch INDEX DELTA (appendToIvfPqIndexTwoLevel
    // against an empty base — the idempotent overwrite-by-epoch sink
    // discipline applied to index maintenance itself), and search runs
    // over original ∪ deltas. Because the screen verdict is vs the
    // original index only, the final index is independent of batch
    // boundaries and delivery order — replaying any batch overwrites the
    // identical delta. Oracle: q233's dup chain decides membership; asg
    // and qprobe are the two-level assignment MINUS the dup'd ingest ids;
    // the shared PQ/ADC/rerank chain runs unchanged — so the streamed
    // screen+append+search equals one declarative SQL over the corpus,
    // hash-exact.
    QueryDef("q235_stream_ingest_append_search",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cells = math.max(8L, emb.count() / 100L).toInt
        val nCoarse = math.max(4, math.ceil(math.sqrt(cells.toDouble)).toInt)
        val isNew = col("vec_id") >= cells && col("vec_id") % 5 === 0
        val old = emb.filter(!isNew)
        val coarse = Similarity.ivfCoarseCentroids(old, nCoarse)
          .pin()
        val froute = Similarity
          .routeFineCentroids(Similarity.ivfCentroids(old, cells), coarse)
          .pin()
        val index0 = Similarity.buildIvfPqIndexTwoLevelRouted(old, coarse,
            froute, SemDedupProbes, 2)
          .persist()
        val outRoot = java.nio.file.Files
          .createTempDirectory("graft_ingest_append")
        try {
          val corpProbes = index0.select(col("vec_id").as("nid"),
            explode(col("cells")).as("cell"), col("v").as("nv"))
          val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
          val ingest = s.readStream.schema(schema)
            .parquet(s"$dir/embeddings.parquet*")
            .filter(isNew)
          val step: (org.apache.spark.sql.DataFrame, Long) => Unit =
            (batch, epoch) => {
              val b = batch.pin() // screened AND encoded below
              val asg = Similarity.assignProbesTwoLevelWith(
                b.select(col("vec_id"),
                  Similarity.asDouble(col("embedding")).as("v")),
                coarse, froute, SemDedupProbes, 2)
              // the shared score-then-distinct screen shape
              // (Similarity.cellLocalScreen), reduced to the dup id set
              val dupIds = Similarity
                .cellLocalScreen(asg, corpProbes, SemDedupTau)
                .select(col("vec_id").as("dup_id")).distinct()
              val survivors = b.join(dupIds,
                col("vec_id") === col("dup_id"), "left_anti")
              Similarity.appendToIvfPqIndexTwoLevel(index0.limit(0),
                  coarse, froute, survivors, SemDedupProbes, 2)
                .write.mode("overwrite").parquet(s"$outRoot/batch=$epoch")
            }
          val q = ingest.writeStream.foreachBatch(step).start()
          try q.processAllAvailable() finally q.stop()
          val merged = index0.unionByName(
              s.read.parquet(outRoot.toString).drop("batch"))
            .persist()
          // % 49, not the usual % 50: every multiple of 50 is a multiple
          // of 5, i.e. entirely inside the ingest split — most get
          // screened as dups and the query set would collapse to vec_id 0.
          // 49 is coprime to 5, so the queries mix corpus members and
          // surviving ingest (the searched index is still the full merge).
          try Similarity.ivfPqSearchIndexed(merged, 5,
              col("vec_id") % 49 === 0, IvfPqRerank)
            .orderBy("qid", "rn").pin()
          finally merged.unpersist(blocking = false)
        } finally {
          index0.unpersist(blocking = false)
          scala.util.Using.resource(java.nio.file.Files.walk(outRoot)) { w =>
            w.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => java.nio.file.Files.deleteIfExists(p))
          }
        }
      },
      Some(streamIngestAppendOracleSql)),

    // ---- ANN search with EXTERNAL queries (the production search path) --
    // Every prior search draws its queries FROM the index (vec_id % k) —
    // fine for dedup-style self-search, but a real retrieval user arrives
    // with NEW embeddings. This drives Similarity.ivfPqSearchQueries: 20
    // deterministic external queries (q225's md5-parity ±0.025 jitter of
    // the first corpus vectors — near their source but bit-exactly
    // derivable by both engines, ids offset +10⁶ so they CANNOT collide
    // with corpus ids), two-level-routed against the index's persisted
    // coarse/fine tables (the same assignment seam an append batch uses),
    // then the unchanged ADC/rerank chain. Oracle: the external-query
    // table and its two-level routing as CTEs, feeding the shared chain
    // with the query-vector source swapped to the external table (the
    // qvec seam) — hash-exact end to end.
    QueryDef("q236_ann_external_queries",
      (s, dir) => {
        val (xq, index, qcells, _, _) = externalAnnSetup(s, dir)
        try Similarity.ivfPqSearchQueries(index, xq, qcells, 5, IvfPqRerank)
          .orderBy("qid", "rn").pin()
        finally index.unpersist(blocking = false)
      },
      Some(externalSearchOracleSql)),

    // ---- FILTERED ANN search (metadata predicate × vector search) --------
    // The retrieval composite users actually run: "nearest documents to my
    // query AMONG the English ones". Strategy is PRE-FILTER (the right one
    // when the predicate is selective and indexed metadata is joinable):
    // the index is semi-joined to the allowed document ids BEFORE search —
    // the predicate pushes into the documents scan, the semi join prunes
    // corpus cells and rerank fetches alike, and search cost scales with
    // the FILTERED corpus. The recall trade is documented where it lives:
    // filtering thins cells, so a production deployment raises nprobe (or
    // uses post-filter-with-overfetch when the predicate is weak) — the
    // knob algebra, not the operator, encodes selectivity. doc_id ≡ vec_id
    // in this corpus (q208's fusion contract). Queries are q236's external
    // jittered set; oracle = the shared external-query scaffold with `asg`
    // semi-joined to the lang predicate.
    QueryDef("q237_filtered_ann_search",
      (s, dir) => {
        val (xq, index, qcells, _, _) = externalAnnSetup(s, dir)
        val allowed = Tables.documents(s, dir)
          .filter(col("lang") === "en").select(col("doc_id"))
        val fIndex = index.join(allowed,
          col("vec_id") === col("doc_id"), "left_semi")
        try Similarity.ivfPqSearchQueries(fIndex, xq, qcells, 5, IvfPqRerank)
          .orderBy("qid", "rn").pin()
        finally index.unpersist(blocking = false)
      },
      Some(s"""WITH ${ivfPqSearchCtesWith(externalQueryRoutedCtes,
          s"""asg AS (
            |  SELECT s.vec_id, s.cell
            |  FROM (SELECT vec_id, cell FROM asgp WHERE rn = 1) s
            |  JOIN documents d ON s.vec_id = d.doc_id
            |  WHERE d.lang = 'en')""".stripMargin,
          "qprobe AS (SELECT qid, cell FROM xqasgp)",
          "qvec AS (SELECT qid, qv AS v FROM xq)")}
        |SELECT qid, rn, nid, cos FROM final WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin)),

    // ---- filtered-ANN recall/selectivity eval (the q237 trade, measured) --
    // q237's scaladoc names the knob algebra — pre-filter thins cells so a
    // selective predicate wants a higher nprobe, and a WEAK predicate is
    // better served by post-filter-with-overfetch — but documented ≠
    // measured (r11 verdict item #2). This eval runs both strategies at
    // three predicate selectivities (lang buckets: en ≈ 44%, de ≈ 14%,
    // zh ∧ id%3 ≈ 5% of the corpus) against brute-force ground truth ON
    // THE FILTERED corpus, in exact integer units (counts + ppm recall via
    // integer div — hash-checkable). Legs per selectivity: pre-filter at
    // nprobe 4 (the operator default) and 8 (the recovery knob), and
    // post-filter over ONE shared unfiltered top-25 search (overfetch =
    // 5k). MEASURED on the fixtures (sf0.01 / sf0.1, both hash-green): at
    // the weak predicate the strategies TIE (en: post 0.67/0.70 ≡ pre
    // 0.67/0.70) and post-filter is the cheaper call (one shared
    // unfiltered search serves every predicate); as the predicate
    // strengthens post-filter collapses (de 0.50/0.49, zh3 0.20/0.28 —
    // only ~s·overfetch of the 25 survive the filter) while pre-filter
    // holds (de 0.59/0.60, zh3 0.57/0.53), and raising nprobe 4→8 buys
    // real recall exactly where q237's scaladoc predicts — most at the
    // bigger corpus, whose cells are thinner (sf0.1: en 0.70→0.77,
    // de 0.60→0.67, zh3 0.53→0.68). The crossover sits where s·overfetch
    // ≈ k (s ≈ 20% at overfetch 25): above it post-filter ties at lower
    // cost, below it pre-filter + raised nprobe is the only strategy
    // that holds recall.
    QueryDef("q238_filtered_ann_recall_eval",
      (s, dir) => {
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.expressions.Window
        val (xq, index, qc4, coarse, froute) = externalAnnSetup(s, dir)
        val emb = Tables.embeddings(s, dir)
        val docs = Tables.documents(s, dir)
        val qc8 = Similarity.assignProbesTwoLevelWith(
            xq.select(col("qid").as("vec_id"), col("qv").as("v")),
            coarse, froute, 8, 2)
          .select(col("vec_id").as("qid"), explode(col("cells")).as("cell"))
        val tags = Seq("en", "de", "zh3")
        try {
          // COMPOSITE restructure (r21, guide §1.2/§2.4): the original
          // body ran 3 separate brute-force truth jobs (one per
          // predicate) and SEVEN separate ivfPqSearchQueries pipelines
          // (1 overfetch + 3 tags × 2 nprobes), each paying its own
          // shuffles, broadcasts and whole-stage-codegen compiles —
          // step-profiled at 4.8 s for the search job alone against
          // ~25k total candidate rows (pure per-leg fixed overhead, not
          // data). The predicates are DISJOINT lang buckets, so every
          // leg now rides ONE tagged pipeline keyed by (leg, qid):
          // identical per-leg candidate sets, ADC arithmetic, tie rules
          // and rerank — the oracle (and the measured recalls) are
          // unchanged, proven hash-green at both SFs.
          val tagCol = when(col("lang") === "en", "en")
            .when(col("lang") === "de", "de")
            .when(col("lang") === "zh" && col("doc_id") % 3 === 0, "zh3")
          // all three allowed sets in one documents pass
          val tagged = docs.select(col("doc_id"), tagCol.as("tag"))
            .filter(col("tag").isNotNull).pin()
          // ONE composite brute-force truth pass: tags are disjoint, so
          // each corpus row scores in exactly one leg — same per-leg
          // (cos DESC, nid ASC) top-5 as three bruteForceTopK calls
          val qb = xq.select(col("qid"), col("qv"))
          val truthLazy = emb
            .join(tagged, col("vec_id") === col("doc_id"))
            .select(col("tag"), col("vec_id").as("nid"),
              Similarity.asDouble(col("embedding")).as("nv"))
            .join(broadcast(qb), col("nid") =!= col("qid"))
            .withColumn("cos", Similarity.cosine(col("qv"), col("nv")))
            .groupBy("tag", "qid")
            .agg(graft.functions.TopKNeighborsAgg
              .topkNeighbors(col("cos"), col("nid"), 5).as("top"))
            .select(col("tag"), col("qid"),
              explode(transform(col("top"), _.getField("nid"))).as("nid"))
          // ONE composite IVF-PQ search over leg-tagged corpus/probe
          // rows: leg "over" = the shared unfiltered overfetch, legs
          // "p4_<tag>"/"p8_<tag>" = the pre-filtered searches. Same
          // stages as ivfPqSearchImpl with (qid) → (leg, qid).
          val corpusAll = index.select(col("vec_id").as("nid"),
            col("cells").getItem(0).as("cell"), col("pq_code"))
          val corpusTag = corpusAll
            .join(tagged, col("nid") === col("doc_id"))
            .select(col("tag"), col("nid"), col("cell"), col("pq_code"))
          val legCorpus = corpusAll.select(lit("over").as("leg"),
              col("nid"), col("cell"), col("pq_code"))
            .unionAll(corpusTag.select(concat(lit("p4_"), col("tag"))
              .as("leg"), col("nid"), col("cell"), col("pq_code")))
            .unionAll(corpusTag.select(concat(lit("p8_"), col("tag"))
              .as("leg"), col("nid"), col("cell"), col("pq_code")))
          val tagLits = array(tags.map(lit): _*)
          val legCells = qc4.select(lit("over").as("leg"), col("qid"),
              col("cell"))
            .unionAll(qc4.select(explode(tagLits).as("tag"), col("qid"),
                col("cell"))
              .select(concat(lit("p4_"), col("tag")).as("leg"), col("qid"),
                col("cell")))
            .unionAll(qc8.select(explode(tagLits).as("tag"), col("qid"),
                col("cell"))
              .select(concat(lit("p8_"), col("tag")).as("leg"), col("qid"),
                col("cell")))
          val qlut = qb.withColumn("lut", Similarity.adcLut(col("qv")))
          val short = legCells.join(legCorpus, Seq("leg", "cell"))
            .filter(col("nid") =!= col("qid"))
            .join(broadcast(qlut.select(col("qid"), col("lut"))), Seq("qid"))
            .withColumn("nadc", (-Similarity
              .adcDist2MicroLut(col("lut"), col("pq_code"))).cast("double"))
            .groupBy("leg", "qid")
            .agg(graft.functions.TopKNeighborsAgg
              .topkNeighbors(col("nadc"), col("nid"), IvfPqRerank).as("top"))
            .select(col("leg"), col("qid"), explode(col("top")).as("n"))
            .select(col("leg"), col("qid"), col("n").getField("nid").as("nid"))
          val nvec = index.select(col("vec_id").as("nid"), col("v").as("nv"))
          val resLazy = nvec.join(broadcast(short), Seq("nid"))
            .join(broadcast(qb), Seq("qid"))
            .withColumn("cos", Similarity.cosine(col("qv"), col("nv")))
            .groupBy("leg", "qid")
            .agg(graft.functions.TopKNeighborsAgg
              .topkNeighbors(col("cos"), col("nid"), PostOverfetch).as("top"))
            .select(col("leg"), col("qid"),
              posexplode(col("top")).as(Seq("pos", "n")))
            .select(col("leg"), col("qid"),
              (col("pos") + 1).cast("int").as("rn"),
              col("n.nid").as("nid"), col("n.cos").as("cos"))
          // the composite truth pass (brute force over emb) and the
          // composite search pass (ADC chain over the index) are
          // independent once `tagged` is pinned — they only meet in the
          // recall join below. Overlapped (guide §2.6): the truth leg's
          // task tail back-fills with the search leg's stages.
          val pinned = new Array[DataFrame](2)
          graft.util.Par.run(
            () => pinned(0) = truthLazy.pin(),
            () => pinned(1) = resLazy.pin())
          val (truth, res) = (pinned(0), pinned(1))
          val over = res.filter(col("leg") === "over").drop("leg")
          val legs = tags.flatMap { tag =>
            val truthT = truth.filter(col("tag") === tag)
            def stats(method: String, approx: DataFrame): DataFrame =
              truthT.agg(count(lit(1)).as("n_truth"))
                .crossJoin(truthT.join(approx
                    .select(col("qid").as("q2"), col("nid").as("n2")),
                    col("qid") === col("q2") && col("nid") === col("n2"),
                    "left_semi")
                  .agg(count(lit(1)).as("hits")))
                .select(lit(method).as("method"), col("n_truth"),
                  col("hits"),
                  expr("(hits * CAST(1000000 AS BIGINT)) div n_truth")
                    .as("recall_micro"))
            val post = over
              .join(tagged.filter(col("tag") === tag),
                col("nid") === col("doc_id"), "left_semi")
              .withColumn("rn2", row_number().over(
                Window.partitionBy("qid").orderBy(col("rn").asc)))
              .filter(col("rn2") <= 5)
            Seq(
              stats(s"pre_np4_$tag",
                res.filter(col("leg") === s"p4_$tag" && col("rn") <= 5)),
              stats(s"pre_np8_$tag",
                res.filter(col("leg") === s"p8_$tag" && col("rn") <= 5)),
              stats(s"post_np4_$tag", post))
          }
          legs.reduce(_ unionAll _).orderBy("method").pin()
        } finally index.unpersist(blocking = false)
      },
      Some(s"""WITH $externalQueryRoutedCtes,
        |${xqAsgpCte("xqasgp8", 8)},
        |qvec AS (SELECT qid, qv AS v FROM xq),
        |$pqCodesCtes,
        |asgu AS (SELECT vec_id, cell FROM asgp WHERE rn = 1),
        |${adcChainCtes("u", "asgu", "xqasgp", "qvec")},
        |${filteredAnnTagCtes("en", "lang = 'en'")},
        |${filteredAnnTagCtes("de", "lang = 'de'")},
        |${filteredAnnTagCtes("zh3", "lang = 'zh' AND doc_id % 3 = 0")}
        |SELECT method, n_truth, hits,
        |  (hits * CAST(1000000 AS BIGINT)) // n_truth AS recall_micro
        |FROM (
        |${filteredAnnStatsSql("en")}
        |UNION ALL
        |${filteredAnnStatsSql("de")}
        |UNION ALL
        |${filteredAnnStatsSql("zh3")})
        |ORDER BY method""".stripMargin)),

    // ---- k-means++ init quality eval (the production centroid path,
    // measured on the corpus) ----
    // Round 12 proved the seeded ++ init's >10x quantization win on an
    // adversarial spec fixture (Round12Spec's id-ordered blobs); this
    // eval MEASURES the same comparison on the corpus the IVF operators
    // actually cluster: converged quantization error (sum over vectors of
    // min squared distance to the centroid set) of the deterministic
    // first-n-seeded clustering vs the ++-seeded one, identical k and
    // Lloyd iterations. Integer micro-units — floor(d2·1e6 + 0.5) per
    // vector is exact/correctly-rounded IEEE ops on a deterministic d2
    // (sequential-fold dot), so the long sums are partition-layout
    // independent. Rows-only check by design: the seeded race is xxhash64
    // (a DuckDB twin would re-implement the hash — the q98/q107 class);
    // Round12Spec pins the init's semantics, this records the number.
    // Expected reading: on THIS corpus vec_id order is uncorrelated with
    // cluster structure, so first-n ≈ a random draw and the two inits
    // converge to parity (measured ppm ≈ 1.00e6 at sf0.01) — ++'s value
    // is ROBUSTNESS to id-ordered/adversarial layouts (the Round12Spec
    // blobs, >10× there), not a win on already-shuffled data.
    QueryDef("q239_kmeanspp_quality_eval",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        def errMicro(cents: org.apache.spark.sql.DataFrame): Long =
          emb.select(Similarity.asDouble(col("embedding")).as("v"),
              col("vec_id"))
            .crossJoin(broadcast(cents))
            .select(col("vec_id"),
              greatest(Similarity.dot(col("v"), col("v"))
                - lit(2.0) * Similarity.dot(col("v"), col("cv"))
                + Similarity.dot(col("cv"), col("cv")), lit(0.0)).as("d2"))
            .groupBy("vec_id").agg(min(col("d2")).as("best"))
            .agg(sum(floor(col("best") * 1000000d + 0.5d).cast("long"))
              .as("e"))
            .head().getLong(0)
        val (k, iters) = (8, 5)
        // the two eval legs are INDEPENDENT job chains (separate init,
        // separate Lloyd loop, separate error aggregate — they only meet
        // in the final one-row result), each a sequence of small driver-
        // synced rounds that leaves most of the box idle: overlapped
        // (guide §2.6). Shared-cache note: both legs cache the same
        // (vec_id, v) projection, so whichever finishes first unpersists
        // it and the other leg's remaining rounds recompute the (cheap)
        // projection — a perf footnote, never a correctness one.
        val slots = new Array[Long](2)
        graft.util.Par.run(
          () => slots(0) =
            errMicro(Similarity.kmeansCentroids(emb, k, iters)),
          () => slots(1) = errMicro(
            Similarity.kmeansPlusPlusCentroids(emb, k, iters, seed = 42L)))
        val (eFirst, ePp) = (slots(0), slots(1))
        // ppm ratio in pure Long arithmetic (eFirst > 0: the corpus is
        // never a perfect 8-point codebook)
        Seq((k, iters, eFirst, ePp, ePp * 1000000L / eFirst))
          .toDF("k", "iterations", "err_first_micro", "err_pp_micro",
            "pp_vs_first_ppm")
      },
      None),

    // ---- k-means‖ seeding wired into the two-level PRODUCTION build ----
    // kmeansParallelCentroids existed, was spec-pinned and benched
    // (bench/scale_sweep_r13/kmInit_*.json: init 2.2/4.7/24.6 s vs ++'s
    // 11.8/14.3/30.4 s across
    // the 1×/10×/100× corpora at k=64), but no composed artifact used it
    // (r13 verdict #3). Here the ‖-seeded Lloyd centroids ARE the
    // fine-cell table of the two-level build (buildIvfPqIndexTwoLevelWith
    // — the index a production corpus builds at the autoscale law's
    // k ~ 10⁴, where ++'s k sequential barrier jobs are exactly what ‖
    // exists to remove). The ‖ race is seeded xxhash64 — the
    // q98/q107/q239 un-oracle-able class — so the search runs at
    // DEGENERATE knobs (nProbe = cells, gProbe = nCoarse, rerank = n):
    // every candidate survives every stage, and the output must equal
    // exact brute-force cosine top-5 REGARDLESS of where the seeded
    // centroids landed — which IS DuckDB-expressible (q35's chain).
    // What the hash-check proves: the ‖-seeded centroid table feeds
    // routing, build, ADC shortlist and exact rerank bit-identically end
    // to end (q227's argument with the seeding swapped in). Seeding
    // QUALITY at production knobs is measured territory —
    // bench/scale_sweep_r13/kmInit_*.json (seed cost/quality ±1% vs ++)
    // and Round13Spec (>10×
    // blob recovery vs first-n) — not oracle territory.
    QueryDef("q241_kmeans_par_seeded_index",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val n = emb.count().toInt
        val cells = math.max(8, n / 100)
        val nCoarse = math.max(4, math.ceil(math.sqrt(cells.toDouble)).toInt)
        val fine = Similarity.kmeansParallelCentroids(emb, cells,
          iterations = 2, seed = 7L, rounds = 3)
        val coarse = Similarity.ivfCoarseCentroids(emb, nCoarse)
          .pin()
        val index = Similarity.buildIvfPqIndexTwoLevelWith(emb, fine,
            coarse, cells, nCoarse)
          .persist()
        try Similarity.ivfPqSearchIndexed(index, 5,
            col("vec_id") % 50 === 0, rerank = n)
          .orderBy("qid", "rn").pin()
        finally index.unpersist(blocking = false)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid, $cosSql AS cos
        |  FROM e a JOIN e b ON a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id),
        |ranked AS (SELECT qid, nid, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS INTEGER) AS rn
        |  FROM scored)
        |SELECT qid, rn, nid, cos FROM ranked WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin)),

    // ---- STREAMING ANN search (the serving path as a stream) ----------
    // q233/q235 stream the WRITE side of the vector store (ingest screen,
    // index append); this streams the READ side — the retrieval serving
    // loop a deployed index actually runs: query vectors arrive as
    // micro-batches (q236's 20 external queries staged as 4 single-file
    // epochs, maxFilesPerTrigger=1) and each foreachBatch epoch routes
    // ONLY the batch's queries against the index's persisted coarse/fine
    // tables (batch·O(√cells) routing — the same delta-sized seam an
    // append batch uses), runs the unchanged ADC/rerank chain against the
    // STATIC persisted index, and lands results via the idempotent
    // overwrite-by-epoch parquet sink (q187's discipline: replaying any
    // epoch rewrites the identical result — per-query search depends only
    // on (query row, static index), so the verdict set is row-local and
    // independent of batch boundaries and delivery order). That
    // independence is what makes a STREAM SQL-oracle-able: union over
    // epochs ≡ the one-shot batch search, so the oracle IS q236's —
    // shared by construction (externalSearchOracleSql), hash-exact.
    // At scale this is the stream-static join pattern: the index is the
    // static side (persisted, cell-partitioned), each micro-batch joins
    // its routed cells only — no per-epoch index scan, no stream state.
    QueryDef("q245_stream_ann_search",
      (s, dir) => {
        val (xq, index, _, coarse, froute) = externalAnnSetup(s, dir)
        val sc = s.sparkContext
        import graft.util.CheckpointGen
        val root = java.nio.file.Files
          .createTempDirectory("graft_stream_ann").toString
        try {
          // stage the queries as one file per epoch (flat dir, so
          // maxFilesPerTrigger=1 delivers exactly 4 micro-batches) — the
          // r20 staged-ingest discipline: ONE partitionBy write + renames
          // instead of four filtered coalesce(1) writes (guide §1.2/§6;
          // same per-epoch file content, epoch = pmod(qid, 4) either way)
          val schema = graft.util.StagedIngest.stage(s, xq,
            pmod(col("qid"), lit(4)), root, epochs = 4)
          // demo-depth tiering (the r16 verdict #7 policy the CC
          // maintenance demos already follow, applied uniformly to the
          // vector-store streams): bench depth ingests the staged epoch
          // files in ONE trigger — per-query search depends only on
          // (query row, static index), so union-over-epochs ≡ the
          // one-trigger batch by the same row-locality argument the
          // oracle already rests on; full depth (Verify/ScalaTest)
          // keeps the 4-micro-batch serving demonstration. Round21Spec
          // pins reduced ≡ full.
          val src = s.readStream.schema(schema)
          val ingest = (if (graft.util.BenchMode.reducedDemos) src
            else src.option("maxFilesPerTrigger", "1"))
            .parquet(s"$root/in/*")
          val step: (org.apache.spark.sql.DataFrame, Long) => Unit =
            (batch, epoch) => {
              val b = batch.pin()
              val bPins = CheckpointGen.pinnedIds(b)
              try {
                val qcells = Similarity.assignProbesTwoLevelWith(
                    b.select(col("qid").as("vec_id"), col("qv").as("v")),
                    coarse, froute, SemDedupProbes, 2)
                  .select(col("vec_id").as("qid"),
                    explode(col("cells")).as("cell"))
                Similarity.ivfPqSearchQueries(index, b, qcells, 5,
                    IvfPqRerank)
                  .write.mode("overwrite").parquet(s"$root/out/batch=$epoch")
              } finally CheckpointGen.release(sc, bPins)
            }
          val q = ingest.writeStream.foreachBatch(step).start()
          try q.processAllAvailable() finally q.stop()
          s.read.parquet(s"$root/out").drop("batch")
            .orderBy("qid", "rn").pin()
        } finally {
          index.unpersist(blocking = false)
          scala.util.Using.resource(java.nio.file.Files
              .walk(java.nio.file.Paths.get(root))) { w =>
            w.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => java.nio.file.Files.deleteIfExists(p))
          }
        }
      },
      Some(externalSearchOracleSql)),

    // ---- index-store COMPACTION (small-files maintenance) -------------
    // The op that keeps q235/q245's store healthy: per-epoch append
    // deltas accumulate one small dir per epoch, and file COUNT is a
    // first-class scale variable (the r14 bucket-probe sweep measured
    // per-file open overhead EXCEEDING pruning savings at ~25 KB files —
    // bench/scale_sweep_r14/iC*_*.json step_bucketed_s vs step_s). Here
    // the fragmented store
    // (base written wide + two per-epoch deltas, the q223 append split
    // staged as parquet dirs) is compacted by one distributed rewrite —
    // Similarity.compactIndex: repartition to target file count, rows
    // clustered by primary cell for row-group locality — and search runs
    // over the COMPACTED read. Compaction is row-preserving by
    // construction, so the oracle is the full append-search chain
    // (q216/q223's): the store round-trip (build → fragment → compact →
    // read → search) must be hash-exact end to end. Round14Spec pins the
    // layout claim itself (file count drops, content identical).
    QueryDef("q246_index_compaction",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val isNew = col("vec_id") >= IvfPqCells && col("vec_id") % 5 === 0
        val old = emb.filter(!isNew)
        val cents = Similarity.ivfCentroids(old, IvfPqCells)
          .pin()
        val base = Similarity.buildIvfPqIndex(old, IvfPqCells, IvfPqProbes)
        val root = java.nio.file.Files
          .createTempDirectory("graft_index_compact").toString
        try {
          base.repartition(6).write.mode("overwrite")
            .parquet(s"$root/frag/base")
          for (e <- Seq(0, 5)) {
            Similarity.appendToIvfPqIndex(base.limit(0), cents,
                emb.filter(isNew && pmod(col("vec_id"), lit(10)) === e),
                IvfPqProbes)
              .repartition(3).write.mode("overwrite")
              .parquet(s"$root/frag/delta$e")
          }
          val frag = s.read.parquet(s"$root/frag/base",
            s"$root/frag/delta0", s"$root/frag/delta5")
          Similarity.compactIndex(frag, 2)
            .write.mode("overwrite").parquet(s"$root/compact")
          val index = s.read.parquet(s"$root/compact").persist()
          try Similarity.ivfPqSearchIndexed(index, 5,
              col("vec_id") % 50 === 0, IvfPqRerank)
            .orderBy("qid", "rn").pin()
          finally index.unpersist(blocking = false)
        } finally {
          scala.util.Using.resource(java.nio.file.Files
              .walk(java.nio.file.Paths.get(root))) { w =>
            w.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => java.nio.file.Files.deleteIfExists(p))
          }
        }
      },
      Some(s"""WITH $ivfPqCtes
        |SELECT qid, rn, nid, cos FROM final WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin)),

    // ---- COMPACTION AS A POLICY (threshold-triggered, mid-stream) ------
    // q246 compacts ON DEMAND; this is the automated consumer of the
    // measured file-count law (r14 verdict #3): q235's screen→append
    // pipeline with the store ON DISK (Similarity.indexStoreView layout:
    // base generation + per-epoch deltas), where after every append the
    // policy (Similarity.compactStoreIfNeeded) counts the view's data
    // files and folds the store into a new generation once they cross the
    // threshold. The staging makes the trigger fire MID-stream
    // deterministically at every SF (base fragmented to 12 files >
    // threshold 10, so the FIRST append folds base+delta to 2 files
    // regardless of how many files the delta writer emits, and the later
    // epochs' deltas land ON the compacted generation) — the query
    // require()s that shape loudly, so a silently-never-firing
    // policy can't pass as green. After the stream the store is GC'd
    // (Similarity.gcStore: superseded generations + folded deltas leave
    // the disk — they left the READ PATH when their fold committed), so
    // the oracle proves search invariance across BOTH lifecycle edges:
    // the mid-stream fold and the post-stream GC. Compaction is
    // row-preserving and the screen scores against the STATIC corpus, so
    // the final search over the view equals q235's one-shot chain — the
    // oracle IS q235's, shared by construction. Round15Spec pins the
    // policy mechanics (fires over threshold, idles under it, count
    // drops, content identical, a crashed fold's _SUCCESS-less dir is
    // invisible, GC removes exactly the out-of-view dirs).
    QueryDef("q253_compaction_policy_stream",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cells = math.max(8L, emb.count() / 100L).toInt
        val nCoarse = math.max(4, math.ceil(math.sqrt(cells.toDouble)).toInt)
        val isNew = col("vec_id") >= cells && col("vec_id") % 5 === 0
        val old = emb.filter(!isNew)
        val coarse = Similarity.ivfCoarseCentroids(old, nCoarse)
          .pin()
        val froute = Similarity
          .routeFineCentroids(Similarity.ivfCentroids(old, cells), coarse)
          .pin()
        val index0 = Similarity.buildIvfPqIndexTwoLevelRouted(old, coarse,
            froute, SemDedupProbes, 2)
          .persist()
        val sc = s.sparkContext
        import graft.util.CheckpointGen
        val root = java.nio.file.Files
          .createTempDirectory("graft_compact_policy").toString
        try {
          // base generation, deliberately fragmented — the store starts
          // where a naive wide writer leaves it
          // base-generation write ∥ ingest staging — disjoint dirs,
          // independent inputs (guide §2.6)
          var schema: org.apache.spark.sql.types.StructType = null
          graft.util.Par.run(
            () => index0.repartition(12).write.mode("overwrite")
              .parquet(s"$root/store/gens/g=-1"),
            () => schema = stageVecIngest(s, emb.filter(isNew), root))
          val corpProbes = index0.select(col("vec_id").as("nid"),
            explode(col("cells")).as("cell"), col("v").as("nv"))
          // demo-depth tiering (r16 verdict #7, extended to the vector
          // stores): bench depth delivers the staged files in ONE
          // trigger — the screen is vs the STATIC base index and
          // appends/compaction are row-preserving, so the final view is
          // batch-boundary independent (the oracle's own argument); the
          // compaction policy still fires mid-stream at this depth (base
          // is fragmented to 12 > 10 files, so the FIRST append folds —
          // the require()s below hold at either depth). Full depth keeps
          // the 3-epoch deltas-land-on-compacted-generation exercise.
          val src253 = s.readStream.schema(schema)
          val ingest = (if (graft.util.BenchMode.reducedDemos) src253
            else src253.option("maxFilesPerTrigger", "1"))
            .parquet(s"$root/in/*")
          val events =
            new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]
          val step: (org.apache.spark.sql.DataFrame, Long) => Unit =
            (batch, epoch) => {
              val b = batch.pin()
              val bPins = CheckpointGen.pinnedIds(b)
              try {
                val asg = Similarity.assignProbesTwoLevelWith(
                  b.select(col("vec_id"),
                    Similarity.asDouble(col("embedding")).as("v")),
                  coarse, froute, SemDedupProbes, 2)
                val dupIds = Similarity
                  .cellLocalScreen(asg, corpProbes, SemDedupTau)
                  .select(col("vec_id").as("dup_id")).distinct()
                val survivors = b.join(dupIds,
                  col("vec_id") === col("dup_id"), "left_anti")
                Similarity.appendToIvfPqIndexTwoLevel(index0.limit(0),
                    coarse, froute, survivors, SemDedupProbes, 2)
                  .repartition(3)
                  .write.mode("overwrite")
                  .parquet(s"$root/store/deltas/epoch=$epoch")
                Similarity.compactStoreIfNeeded(s, s"$root/store",
                    maxFiles = 10L, targetFiles = 2, epoch)
                  .foreach { case (bf, af) => events.add((epoch, bf, af)); () }
              } finally CheckpointGen.release(sc, bPins)
            }
          val q = ingest.writeStream.foreachBatch(step).start()
          try q.processAllAvailable() finally q.stop()
          import scala.jdk.CollectionConverters._
          val ev = events.asScala.toSeq.sortBy(_._1)
          // the policy must have fired MID-stream (a delta landed after
          // the fold) and actually shrunk the view — otherwise this query
          // is just q246 wearing a stream
          require(ev.nonEmpty && ev.head._1 < 2,
            s"compaction policy did not fire mid-stream (events: $ev)")
          require(ev.forall { case (_, bf, af) => af < bf },
            s"compaction did not shrink the view (events: $ev)")
          // GC the folded-away dirs; the search below proves the view
          // (and thus the result) is invariant across the deletion
          val gced = Similarity.gcStore(s"$root/store")
          require(gced > 0, "gc removed nothing after a committed fold")
          val merged = Similarity.indexStoreView(s, s"$root/store").persist()
          try Similarity.ivfPqSearchIndexed(merged, 5,
              col("vec_id") % 49 === 0, IvfPqRerank)
            .orderBy("qid", "rn").pin()
          finally merged.unpersist(blocking = false)
        } finally {
          index0.unpersist(blocking = false)
          scala.util.Using.resource(java.nio.file.Files
              .walk(java.nio.file.Paths.get(root))) { w =>
            w.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => java.nio.file.Files.deleteIfExists(p))
          }
        }
      },
      Some(streamIngestAppendOracleSql)),

    // ---- multimodal: shared-segment graph → k-core over MEDIA ---------
    // The r14 parity gap: the media family had plumbing + chunk dedup but
    // never fed the graph machinery. Here the q143 frame segmentation
    // becomes the media analogue of the shingle posting index — distinct
    // (media_id, frame-hash) postings (16-byte frames, so shared segments
    // recur across media the way shingles recur across text) — and the
    // EXISTING dedup/graph seams run unchanged on it:
    // ngramPostingSizes / ngramJaccardPairsFromPostings (the posting
    // self-join is modality-blind — it only sees (i, sk)) build the
    // shared-segment graph, and Graph.coreness stratifies it (which media
    // sit in densely re-used segment families — the clip-farm detector).
    // maxRounds = the oracle's 8 unrolled h-index rounds, so a deeper
    // fixpoint fails loudly instead of hash-mismatching (the q248 pin).
    // Scale shape inherited wholesale: inverted-index equi-join pairs,
    // |E|-sized fixpoint, no new shuffle class.
    QueryDef("q255_media_graph_coreness",
      (s, dir) => {
        val fr = Multimodal.frames(
            Multimodal.asMedia(Tables.documents(s, dir)), frameBytes = 16)
          .select(col("media_id").as("i"),
            xxhash64(col("frame_md5")).as("sk"))
          .distinct().pin()
        val sizes = Dedup.ngramPostingSizes(fr)
        val edges = Dedup.ngramJaccardPairsFromPostings(fr, sizes, 0.3)
          .select(col("i").as("src"), col("j").as("dst"))
        Graph.coreness(edges, maxRounds = 8)
          .select(col("id").as("media_id"), col("coreness"))
          .orderBy("media_id")
      },
      // frame-set jaccard joins on the md5 text (≡ Spark's xxhash64 of it
      // — both only feed equality over the same distinct sets)
      Some(s"""WITH f AS (
        |  SELECT DISTINCT doc_id AS i,
        |    md5(substr(text, frame_idx * 16 + 1, 16)) AS sk
        |  FROM (SELECT doc_id, text,
        |          CAST(unnest(range(0, (length(text) + 15) // 16))
        |            AS INTEGER) AS frame_idx
        |        FROM documents WHERE length(text) > 0)),
        |sz AS (SELECT i, COUNT(*) AS na FROM f GROUP BY i),
        |cand AS (
        |  SELECT a.i AS i, b.i AS j, COUNT(*) AS inter
        |  FROM f a JOIN f b ON a.sk = b.sk AND a.i < b.i
        |  GROUP BY 1, 2),
        |e AS (
        |  SELECT c.i, c.j FROM cand c
        |  JOIN sz x ON c.i = x.i JOIN sz y ON c.j = y.i
        |  WHERE CAST(inter AS DOUBLE) / (x.na + y.na - inter) >= 0.3),
        |sym AS MATERIALIZED (
        |  SELECT i AS v, j AS u FROM e UNION ALL SELECT j AS v, i AS u FROM e),
        |h0 AS (SELECT v, COUNT(*) AS c FROM sym GROUP BY v),
        |${TextQueries.hIndexRounds(8)}
        |SELECT v AS media_id, c AS coreness FROM h8
        |ORDER BY media_id""".stripMargin)),

    // ---- multimodal: cross-modal retrieval (embeddings ⋈ media) -------
    // The production retrieval composite the two modalities exist FOR:
    // search the VECTOR modality, deliver the MEDIA modality — nearest
    // neighbors by embedding cosine, hydrated with the media record's
    // payload metadata (content hash, byte length) via the cross-modal id
    // join. The corpus is the intersection that has both modalities (the
    // id semi-join); the hydration joins the corpus-sized media table to
    // the BROADCAST hit set (|queries|·k rows), so media payloads never
    // shuffle — at 100 TB the media table streams map-side exactly like
    // the label table in the CC upsert.
    QueryDef("q256_crossmodal_retrieval",
      (s, dir) => {
        val media = Multimodal.asMedia(Tables.documents(s, dir)).toDF()
          .select(col("media_id"), md5(col("payload")).as("payload_md5"),
            octet_length(col("payload")).as("n_bytes"))
        val corpus = Tables.embeddings(s, dir)
          .join(media.select(col("media_id").as("vec_id")), "vec_id")
        val hits = Similarity.bruteForceTopK(
          corpus.filter(col("vec_id") % 49 === 0), corpus, 5)
        media.join(broadcast(hits), col("nid") === col("media_id"))
          .select(col("qid"), col("rn"), col("nid"), col("cos"),
            col("payload_md5"), col("n_bytes"))
          .orderBy("qid", "rn")
      },
      Some(s"""WITH m AS (
        |  SELECT doc_id AS media_id, md5(text) AS payload_md5,
        |    CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
        |  FROM documents),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |      WHERE vec_id IN (SELECT media_id FROM m)),
        |scored AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid, $cosSql AS cos
        |  FROM e a JOIN e b ON a.vec_id % 49 = 0 AND b.vec_id <> a.vec_id),
        |ranked AS (SELECT qid, nid, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, nid ASC) AS INTEGER) AS rn
        |  FROM scored)
        |SELECT r.qid, r.rn, r.nid, r.cos, m.payload_md5, m.n_bytes
        |FROM ranked r JOIN m ON r.nid = m.media_id
        |WHERE r.rn <= 5
        |ORDER BY qid, rn""".stripMargin)),

    // ---- filtered ANN: the strategy as a COST RULE (r14 verdict #9) ----
    // q237 exposes pre-filter, q238 MEASURED the pre/post crossover
    // (post-filter survivors ≈ s·overfetch; it ties pre above the point
    // where that covers k and collapses below it). This retires the
    // caller knob: Similarity.filteredAnnSearchAuto picks the strategy
    // from the predicate's measured selectivity with the integer-exact
    // rule |allowed|·overfetch ≥ k·|corpus| → post, else pre. Two
    // embeddings-native predicates straddle the tie point (vec_id % 2:
    // s = 50%, 12.5 expected survivors ≥ 5 → post; vec_id % 20: s = 5%,
    // 1.25 < 5 → pre) and the query require()s both branches actually
    // taken, so a rule stuck on one side fails loudly. The oracle
    // re-derives the SAME rule in SQL (counts, not hard-coded labels)
    // and routes each tag through the matching verified chain — the
    // post leg over the shared unfiltered overfetch (ufinal), the pre
    // leg over the allowed-only assignment.
    QueryDef("q257_filtered_ann_cost_rule",
      (s, dir) => {
        val (xq, index, qc4, _, _) = externalAnnSetup(s, dir)
        val emb = Tables.embeddings(s, dir)
        try {
          // the cost rule consumes only (|corpus|, |allowed|); both legs'
          // cardinalities come from ONE conditional aggregate over the
          // index ids (the predicates are pure on vec_id, so
          // ids ⋉ allowed ≡ ids.filter(p)) and ride in via the stats seam
          // — the REPEATED-predicate serving shape r15 verdict #8 added
          // (Round16Spec pins stats-passed ≡ derived). Four per-leg count
          // jobs collapse to one.
          val cRow = index.select("vec_id").distinct()
            .agg(count(lit(1)).as("n"),
              count(when(col("vec_id") % 2 === 0, 1)).as("nw"),
              count(when(col("vec_id") % 20 === 0, 1)).as("ns")).head()
          val (nAll, nW, nS) =
            (cRow.getLong(0), cRow.getLong(1), cRow.getLong(2))
          val legs = Seq(
            ("w", col("vec_id") % 2 === 0, nW),
            ("s", col("vec_id") % 20 === 0, nS)).map { case (tag, p, nA) =>
            val allowed = emb.filter(p).select("vec_id").pin()
            val (strategy, res) = Similarity.filteredAnnSearchAuto(
              index, xq, qc4, allowed, 5, PostOverfetch, IvfPqRerank,
              stats = Some((nAll, nA)))
            (tag, strategy,
              res.select(lit(tag).as("tag"), lit(strategy).as("strategy"),
                col("qid"), col("rn"), col("nid"), col("cos")))
          }
          // the fixture must exercise BOTH sides of the crossover
          require(legs.map(_._2).sorted == Seq("post", "pre"),
            s"cost rule did not straddle the tie point: " +
              legs.map(l => s"${l._1}->${l._2}").mkString(", "))
          legs.map(_._3).reduce(_ unionAll _)
            .orderBy("tag", "qid", "rn").pin()
        } finally index.unpersist(blocking = false)
      },
      Some(s"""WITH $externalQueryRoutedCtes,
        |qvec AS (SELECT qid, qv AS v FROM xq),
        |$pqCodesCtes,
        |asgu AS (SELECT vec_id, cell FROM asgp WHERE rn = 1),
        |${adcChainCtes("u", "asgu", "xqasgp", "qvec")},
        |alw_w AS (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0),
        |alw_s AS (SELECT vec_id FROM embeddings WHERE vec_id % 20 = 0),
        |nall AS (SELECT COUNT(*) AS c FROM embeddings),
        |st_w AS (SELECT CASE WHEN (SELECT COUNT(*) FROM alw_w) * $PostOverfetch
        |    >= 5 * (SELECT c FROM nall) THEN 'post' ELSE 'pre' END AS st),
        |st_s AS (SELECT CASE WHEN (SELECT COUNT(*) FROM alw_s) * $PostOverfetch
        |    >= 5 * (SELECT c FROM nall) THEN 'post' ELSE 'pre' END AS st),
        |asg_w AS (SELECT a.vec_id, a.cell FROM asgu a
        |          JOIN alw_w d USING (vec_id)),
        |asg_s AS (SELECT a.vec_id, a.cell FROM asgu a
        |          JOIN alw_s d USING (vec_id)),
        |${adcChainCtes("pw", "asg_w", "xqasgp", "qvec")},
        |${adcChainCtes("ps", "asg_s", "xqasgp", "qvec")},
        |post_w AS (SELECT qid, CAST(rn2 AS INTEGER) AS rn, nid, cos FROM (
        |  SELECT f.qid, f.nid, f.cos, ROW_NUMBER() OVER (
        |    PARTITION BY f.qid ORDER BY f.rn ASC) AS rn2
        |  FROM ufinal f JOIN alw_w d ON f.nid = d.vec_id
        |  WHERE f.rn <= $PostOverfetch) WHERE rn2 <= 5),
        |post_s AS (SELECT qid, CAST(rn2 AS INTEGER) AS rn, nid, cos FROM (
        |  SELECT f.qid, f.nid, f.cos, ROW_NUMBER() OVER (
        |    PARTITION BY f.qid ORDER BY f.rn ASC) AS rn2
        |  FROM ufinal f JOIN alw_s d ON f.nid = d.vec_id
        |  WHERE f.rn <= $PostOverfetch) WHERE rn2 <= 5),
        |pre_w AS (SELECT qid, rn, nid, cos FROM pwfinal WHERE rn <= 5),
        |pre_s AS (SELECT qid, rn, nid, cos FROM psfinal WHERE rn <= 5),
        |leg_w AS (
        |  SELECT 'w' AS tag, (SELECT st FROM st_w) AS strategy, * FROM (
        |    SELECT * FROM post_w WHERE (SELECT st FROM st_w) = 'post'
        |    UNION ALL
        |    SELECT * FROM pre_w WHERE (SELECT st FROM st_w) = 'pre')),
        |leg_s AS (
        |  SELECT 's' AS tag, (SELECT st FROM st_s) AS strategy, * FROM (
        |    SELECT * FROM post_s WHERE (SELECT st FROM st_s) = 'post'
        |    UNION ALL
        |    SELECT * FROM pre_s WHERE (SELECT st FROM st_s) = 'pre'))
        |SELECT tag, strategy, qid, rn, nid, cos
        |FROM (SELECT * FROM leg_w UNION ALL SELECT * FROM leg_s)
        |ORDER BY tag, qid, rn""".stripMargin)),

    // ---- RESTART-RESUME for the vector-store append stream ------------
    // q252 proved restart-resume for the CC maintenance loop; this proves
    // it for the VECTOR store — the q253 pipeline run with a real
    // checkpointLocation and killed mid-epoch-1 at ITS nastiest
    // partial-commit point (the epoch's delta written, the fold policy
    // not yet run), then restarted: the file source re-delivers the
    // failed epoch, the delta write is an idempotent overwrite keyed by
    // epoch, the fold is _SUCCESS-gated (a crashed fold is invisible,
    // Round15Spec), so the restarted stream converges to the
    // uninterrupted store. Disk-faithful screen: the dedup screen reads
    // the PERSISTED base generation, not an in-memory handle — a
    // restarted driver has nothing else (the coarse/fine routing tables
    // would likewise reload from their persisted copies). Search over
    // the recovered view is hash-exact vs q235/q253's shared oracle.
    QueryDef("q259_store_restart_resume",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cells = math.max(8L, emb.count() / 100L).toInt
        val nCoarse = math.max(4, math.ceil(math.sqrt(cells.toDouble)).toInt)
        val isNew = col("vec_id") >= cells && col("vec_id") % 5 === 0
        val old = emb.filter(!isNew)
        val coarse = Similarity.ivfCoarseCentroids(old, nCoarse)
          .pin()
        val froute = Similarity
          .routeFineCentroids(Similarity.ivfCentroids(old, cells), coarse)
          .pin()
        val index0 = Similarity.buildIvfPqIndexTwoLevelRouted(old, coarse,
            froute, SemDedupProbes, 2)
          .persist()
        val sc = s.sparkContext
        import graft.util.CheckpointGen
        val root = java.nio.file.Files
          .createTempDirectory("graft_store_restart").toString
        try {
          // base-generation write ∥ ingest staging — disjoint dirs,
          // independent inputs (guide §2.6)
          var schema: org.apache.spark.sql.types.StructType = null
          graft.util.Par.run(
            () => index0.repartition(12).write.mode("overwrite")
              .parquet(s"$root/store/gens/g=-1"),
            () => schema = stageVecIngest(s, emb.filter(isNew), root))
          val baseGen = s.read.parquet(s"$root/store/gens/g=-1")
          val corpProbes = baseGen.select(col("vec_id").as("nid"),
            explode(col("cells")).as("cell"), col("v").as("nv"))
          val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
          def step(kill: Boolean)
              : (org.apache.spark.sql.DataFrame, Long) => Unit =
            (batch, epoch) => {
              val b = batch.pin()
              val bPins = CheckpointGen.pinnedIds(b)
              try {
                val asg = Similarity.assignProbesTwoLevelWith(
                  b.select(col("vec_id"),
                    Similarity.asDouble(col("embedding")).as("v")),
                  coarse, froute, SemDedupProbes, 2)
                val dupIds = Similarity
                  .cellLocalScreen(asg, corpProbes, SemDedupTau)
                  .select(col("vec_id").as("dup_id")).distinct()
                val survivors = b.join(dupIds,
                  col("vec_id") === col("dup_id"), "left_anti")
                Similarity.appendToIvfPqIndexTwoLevel(index0.limit(0),
                    coarse, froute, survivors, SemDedupProbes, 2)
                  .repartition(3)
                  .write.mode("overwrite")
                  .parquet(s"$root/store/deltas/epoch=$epoch")
                if (kill && epoch == 1L && armed.compareAndSet(true, false))
                  throw new IllegalStateException("injected kill: epoch 1 " +
                    "died after its delta write, before the fold policy ran")
                Similarity.compactStoreIfNeeded(s, s"$root/store",
                  maxFiles = 10L, targetFiles = 2, epoch)
                ()
              } finally CheckpointGen.release(sc, bPins)
            }
          // demo-depth tiering (r16 verdict #7, extended to the vector
          // stores — the q252 treatment): bench depth runs ONE
          // uninterrupted one-trigger stream (the kill + restart leg is
          // a correctness-run exercise; screen vs the static base,
          // row-local appends and a row-preserving fold make the final
          // view batch-boundary independent — the oracle's own
          // argument). Full depth (Verify/ScalaTest) keeps the
          // 3-micro-batch kill + checkpoint-restart demonstration.
          val reduced = graft.util.BenchMode.reducedDemos
          def start(kill: Boolean) = {
            val src = s.readStream.schema(schema)
            (if (reduced) src else src.option("maxFilesPerTrigger", "1"))
              .parquet(s"$root/in/*")
              .writeStream.option("checkpointLocation", s"$root/ckpt")
              .foreachBatch(step(kill)).start()
          }
          if (reduced) {
            val q = start(kill = false)
            try q.processAllAvailable() finally q.stop()
          } else {
            val q1 = start(kill = true)
            val died =
              try { q1.processAllAvailable(); false }
              catch { case _: Throwable => true }
              finally q1.stop()
            require(died && !armed.get,
              "the injected epoch-1 kill did not fire")
            val q2 = start(kill = false)
            try q2.processAllAvailable() finally q2.stop()
          }
          val merged = Similarity.indexStoreView(s, s"$root/store").persist()
          try Similarity.ivfPqSearchIndexed(merged, 5,
              col("vec_id") % 49 === 0, IvfPqRerank)
            .orderBy("qid", "rn").pin()
          finally merged.unpersist(blocking = false)
        } finally {
          index0.unpersist(blocking = false)
          scala.util.Using.resource(java.nio.file.Files
              .walk(java.nio.file.Paths.get(root))) { w =>
            w.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => java.nio.file.Files.deleteIfExists(p))
          }
        }
      },
      Some(streamIngestAppendOracleSql))
  )

  /** Stage the q253/q259 vector ingest: the streamed embeddings split
    * into 3 single-file epochs (pmod(vec_id, 3)) under `$root/in`, so
    * maxFilesPerTrigger=1 delivers exactly 3 micro-batches (q245's
    * discipline). Shared so the two store-lifecycle queries' batch
    * boundaries cannot drift. Returns the ingest schema.
    */
  private def stageVecIngest(s: org.apache.spark.sql.SparkSession,
      ingestRows: org.apache.spark.sql.DataFrame, root: String)
      : org.apache.spark.sql.types.StructType =
    graft.util.StagedIngest.stage(s, ingestRows,
      pmod(col("vec_id"), lit(3)), root)

  /** q235's screen→append→search oracle — ALSO q253's: the dedup screen
    * scores every ingest row against the STATIC corpus (batch-
    * independent), appends are row-local, and compaction (q253's policy
    * trigger) is row-preserving, so the final search over the store view
    * equals the one-shot chain regardless of batch boundaries or how many
    * times the store folded. One definition so they cannot drift.
    */
  private lazy val streamIngestAppendOracleSql: String =
    s"""WITH ${ivfPqSearchCtesWith(
        s"""$twoLevelAsgpCtes,
          |sicorp AS (
          |  SELECT vec_id, cell FROM asgp
          |  WHERE NOT (vec_id >= (SELECT cells FROM k) AND vec_id % 5 = 0)),
          |siing AS (
          |  SELECT vec_id, cell FROM asgp
          |  WHERE vec_id >= (SELECT cells FROM k) AND vec_id % 5 = 0),
          |sidup AS (
          |  SELECT DISTINCT i.vec_id AS dup_id
          |  FROM siing i JOIN sicorp c ON i.cell = c.cell
          |  JOIN e ei ON i.vec_id = ei.vec_id
          |  JOIN e ec ON c.vec_id = ec.vec_id
          |  WHERE list_dot_product(ei.v, ec.v)
          |      / (sqrt(list_dot_product(ei.v, ei.v))
          |        * sqrt(list_dot_product(ec.v, ec.v))) >= $SemDedupTau)""".stripMargin,
        """asg AS (
          |  SELECT vec_id, cell FROM asgp WHERE rn = 1
          |    AND vec_id NOT IN (SELECT dup_id FROM sidup))""".stripMargin,
        """qprobe AS (
          |  SELECT vec_id AS qid, cell FROM asgp WHERE vec_id % 49 = 0
          |    AND vec_id NOT IN (SELECT dup_id FROM sidup))""".stripMargin)}
      |SELECT qid, rn, nid, cos FROM final WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  /** q236's external-query search oracle — ALSO q245's: the streamed
    * search is row-local against a static index, so union-over-epochs ≡
    * the one-shot batch search. One definition so they cannot drift.
    */
  private lazy val externalSearchOracleSql: String =
    s"""WITH ${ivfPqSearchCtesWith(externalQueryRoutedCtes,
        "asg AS (SELECT vec_id, cell FROM asgp WHERE rn = 1)",
        "qprobe AS (SELECT qid, cell FROM xqasgp)",
        "qvec AS (SELECT qid, qv AS v FROM xq)")}
      |SELECT qid, rn, nid, cos FROM final WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  /** Per-selectivity oracle CTEs for q238: allowed ids, brute-force truth
    * over the FILTERED corpus, the filtered corpus assignment, the two
    * pre-filter ADC chains (probe width 4 and 8), and the post-filter
    * re-rank over the shared unfiltered overfetch chain (`ufinal`).
    */
  private def filteredAnnTagCtes(tag: String, pred: String): String =
    s"""alw_$tag AS (SELECT doc_id FROM documents WHERE $pred),
      |tru_$tag AS (
      |  SELECT qid, nid FROM (
      |    SELECT x.qid, b.vec_id AS nid,
      |      row_number() OVER (PARTITION BY x.qid
      |        ORDER BY list_dot_product(x.qv, b.v)
      |            / (sqrt(list_dot_product(x.qv, x.qv))
      |              * sqrt(list_dot_product(b.v, b.v))) DESC,
      |          b.vec_id ASC) AS rn
      |    FROM xq x JOIN e b ON b.vec_id <> x.qid
      |    JOIN alw_$tag d ON b.vec_id = d.doc_id) WHERE rn <= 5),
      |asg_$tag AS (
      |  SELECT a.vec_id, a.cell FROM asgu a
      |  JOIN alw_$tag d ON a.vec_id = d.doc_id),
      |${adcChainCtes(s"p4$tag", s"asg_$tag", "xqasgp", "qvec")},
      |${adcChainCtes(s"p8$tag", s"asg_$tag", "xqasgp8", "qvec")},
      |post_$tag AS (
      |  SELECT qid, nid FROM (
      |    SELECT f.qid, f.nid,
      |      row_number() OVER (PARTITION BY f.qid ORDER BY f.rn ASC) AS rn2
      |    FROM ufinal f JOIN alw_$tag d ON f.nid = d.doc_id
      |    WHERE f.rn <= $PostOverfetch) WHERE rn2 <= 5)""".stripMargin

  /** The three one-row stats legs (pre np4/np8, post np4) for one q238
    * selectivity tag, UNION ALL-joined by the caller.
    */
  private def filteredAnnStatsSql(tag: String): String =
    Seq(("pre_np4", s"(SELECT qid, nid FROM p4${tag}final WHERE rn <= 5)"),
        ("pre_np8", s"(SELECT qid, nid FROM p8${tag}final WHERE rn <= 5)"),
        ("post_np4", s"post_$tag")).map { case (m, tbl) =>
      s"""SELECT '${m}_$tag' AS method,
        |  (SELECT COUNT(*) FROM tru_$tag) AS n_truth,
        |  (SELECT COUNT(*) FROM tru_$tag t JOIN $tbl a
        |     ON t.qid = a.qid AND t.nid = a.nid) AS hits""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Shared Spark-side scaffold for the external-query searches
    * (q236/q237/q238): the 20 deterministic jittered queries, the
    * persisted two-level centroid/routing tables (returned so q238 can
    * derive probe assignments at other widths), the autoscaled two-level
    * index (PERSISTED — the caller owns the unpersist), and the queries'
    * default probe assignment. One definition so the filtered variants
    * cannot drift from the unfiltered one.
    */
  private def externalAnnSetup(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    val cells = math.max(8L, emb.count() / 100L).toInt
    val nCoarse = math.max(4, math.ceil(math.sqrt(cells.toDouble)).toInt)
    val xq = externalQueries(s, dir)
    val coarse = Similarity.ivfCoarseCentroids(emb, nCoarse)
      .pin()
    val froute = Similarity
      .routeFineCentroids(Similarity.ivfCentroids(emb, cells), coarse)
      .pin()
    val index = Similarity.buildIvfPqIndexTwoLevelRouted(emb, coarse,
        froute, SemDedupProbes, 2)
      .persist()
    val qcells = Similarity.assignProbesTwoLevelWith(
        xq.select(col("qid").as("vec_id"), col("qv").as("v")),
        coarse, froute, SemDedupProbes, 2)
      .select(col("vec_id").as("qid"), explode(col("cells")).as("cell"))
    (xq, index, qcells, coarse, froute)
  }

  /** The 20 deterministic external query vectors (q225's md5-parity ±0.025
    * jitter of the first corpus vectors, ids offset by
    * [[Similarity.ExternalQueryIdOffset]]) — package-visible so the
    * persisted-index search split (bench/scale_sweep_r13/aS_*.json) timed
    * the same query set q236/q237/q238 verify.
    */
  private[graft] def externalQueries(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val dims = emb.filter(col("vec_id") < 20)
      .select(col("vec_id"),
        posexplode(Similarity.asDouble(col("embedding"))).as(Seq("j", "x")))
    dims.withColumn("x2", col("x") +
        when(conv(substring(md5(concat_ws("_", col("vec_id"), col("j"))),
            32, 1), 16, 10).cast("int") % 2 === 1,
          lit(0.025)).otherwise(lit(-0.025)))
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("j"), col("x2")))).as("ps"))
      .select((col("vec_id") + lit(Similarity.ExternalQueryIdOffset))
          .as("qid"),
        transform(col("ps"), _.getField("x2")).as("qv"))
      .pin() // 20 rows; reused by routing + search
  }

}
