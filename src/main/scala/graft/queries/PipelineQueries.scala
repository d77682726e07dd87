package graft.queries
import graft.util.Pin._
import graft.util.DevTiming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.ext.{Dedup, Graph, TextAnalysis => TA}
import graft.util.OracleSafe.{dsum, sqlDsum}

/** Training-data pipeline plumbing beyond dedup/similarity: deterministic
  * corpus splits, stratified sampling, and text normalization.
  *
  * Split/sample discipline at scale: assignment must be a pure function of
  * the row key (content-addressed via a stable hash), never of partition
  * layout, row order, or an RNG — so re-runs, backfills, and incremental
  * appends land every document in the same split on any cluster size.
  */
object PipelineQueries {

  import graft.util.StableHash.{h48, sql48 => sqlH48}

  /** Memory-gated broadcast hint for an RDD-backed CC label table, shared
    * by q103 and q215. The table has no Catalyst stats (the planner would
    * sort-merge the corpus against it) and its size is NOT bounded — it
    * scales with the corpus duplication rate — so the hint is guarded by
    * the actual label count, which `connectedComponentsCounted` captures
    * as an observed metric on the final checkpoint job (no extra count()
    * job per q103/q215 run). The gate is MEMORY-based, not a bare row
    * count: an explicit broadcast() bypasses Spark's size safety, and a
    * HashedRelation of (long, long) rows costs ~48 bytes each resident on
    * the driver AND every executor — cap the relation at 32 MB (~700k
    * labels) and fall back to the shuffle join above that.
    */
  private def guardedBroadcast(labels: org.apache.spark.sql.DataFrame,
                               nLabels: Long)
      : org.apache.spark.sql.DataFrame =
    if (nLabels <= 32L * 1024 * 1024 / 48) broadcast(labels)
    else labels

  // shared oracle scaffold for q65/q103: exact ngram-Jaccard pairs →
  // reachability closure → min-label components (`comp(id, label)`)
  /** The DuckDB 3-shingle-Jaccard-CC closure (docs → shingle postings →
    * thresholded pairs → reachability → min-label components), instanced
    * under a name prefix and a doc predicate so one definition serves the
    * full-corpus oracles (q65/q232) AND q240's corpus-only twin — the
    * factoring rule: scaffold drift must be impossible, not unlikely.
    */
  private def ccCtesFor(p: String, pred: String): String =
    s"""${p}docs AS (SELECT doc_id, string_split(text, ' ') w
      |  FROM documents WHERE $pred),
      |${p}sh AS (SELECT doc_id,
      |  list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]) ds
      |  FROM ${p}docs),
      |${p}ex AS (SELECT doc_id, unnest(ds) AS s, len(ds) AS n
      |  FROM ${p}sh WHERE len(ds) > 0),
      |${p}cand AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter,
      |    any_value(a.n) AS na, any_value(b.n) AS nb
      |  FROM ${p}ex a JOIN ${p}ex b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |${p}jpairs AS (SELECT i, j FROM ${p}cand
      |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5),
      |${p}edges AS (SELECT i AS src, j AS dst FROM ${p}jpairs
      |  UNION ALL SELECT j, i FROM ${p}jpairs),
      |${p}reach(id, r) AS (
      |  SELECT DISTINCT src, src FROM ${p}edges
      |  UNION
      |  SELECT ${p}reach.id, e.dst FROM ${p}reach JOIN ${p}edges e
      |    ON ${p}reach.r = e.src),
      |${p}comp AS (SELECT id, min(r) AS label FROM ${p}reach GROUP BY id)""".stripMargin

  private val ccOracleCte = ccCtesFor("", "TRUE")

  /** The oracle of the CC stream demos (q242, q252, q260, q261): the
    * full closure's components ∪ a self-label for each streamed doc
    * (doc_id % 5 = 0) that never pairs. The final labels are
    * batch-boundary independent, so every ingest split, fold cadence and
    * kill/restart must land on this one table.
    */
  private val ccStreamOracle = s"""WITH RECURSIVE $ccOracleCte,
    |fin AS (
    |  SELECT id, label FROM comp
    |  UNION ALL
    |  SELECT d.doc_id AS id, d.doc_id AS label FROM documents d
    |  WHERE d.doc_id % 5 = 0
    |    AND d.doc_id NOT IN (SELECT id FROM comp))
    |SELECT id, label FROM fin ORDER BY id""".stripMargin

  /** Stage the maintenance demos' streamed ingest: the "new" docs
    * (doc_id % 5 = 0) split into 3 epoch files (doc_id % 15 = e·5), ONE
    * parquet file each under `$root/in`, so maxFilesPerTrigger=1 delivers
    * exactly 3 micro-batches in a deterministic order. Shared by every
    * maintenance demo so their batch boundaries cannot drift apart.
    * Returns the ingest schema.
    */
  private def stageCcIngest(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame, root: String,
      cols: Seq[String] = Seq("doc_id", "text"))
      : org.apache.spark.sql.types.StructType =
    graft.util.StagedIngest.stage(s, docs.filter(col("doc_id") % 5 === 0)
        .select(cols.map(col): _*),
      expr("(doc_id % 15) div 5"), root)

  /** The staged-ingest reader at the requested demo depth: full depth
    * delivers the staged epoch files one micro-batch each
    * (maxFilesPerTrigger=1); `reduced` bench depth ([[QueryDef.benchFn]])
    * ingests them all in ONE trigger. One definition for every
    * maintenance demo, text and vector, so the depth policy cannot drift
    * per site.
    */
  private[queries] def demoIngest(sess: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType, root: String,
      reduced: Boolean): org.apache.spark.sql.DataFrame = {
    val src = sess.readStream.schema(schema)
    (if (reduced) src else src.option("maxFilesPerTrigger", "1"))
      .parquet(s"$root/in/*")
  }

  /** What a composed CC stream demo keeps beside the CC store, built by
    * [[ccStoreLoopRun]] from the run's root (so every store it names
    * lives, and dies, under that root):
    *   - `init`: its own stores' init, called with the init corpus and
    *     overlapped with the ingest staging and `ccStoreInit` (q263,
    *     q270) — disjoint dirs, each with its own idempotency guard;
    *   - `step`: its own per-epoch writes, overlapped with `ccStoreStep`
    *     (q263, q270) — disjoint state dirs, both derived from the
    *     delivered batch only, every write an epoch-keyed idempotent
    *     overwrite, so a crash in either re-delivers the epoch and
    *     re-runs both;
    *   - `onInitPairs` / `onEpochPairs`: passed through to `ccStoreInit`
    *     / `ccStoreStep` (q264 reuses the pairs the CC store computes);
    *   - `serve`: the result from the merge-on-read labels, pinned before
    *     the root is deleted (the plain demos serve the labels);
    *   - `folds`: its stores whose folds must fire mid-stream at full
    *     depth, by name.
    */
  private final case class CcCompose(
      init: DataFrame => Unit = _ => (),
      step: (DataFrame, Long) => Unit = (_, _) => (),
      onInitPairs: Option[DataFrame => Unit] = None,
      onEpochPairs: (DataFrame, Long) => Unit = (_, _) => (),
      serve: DataFrame => DataFrame = _.orderBy("id").pin(),
      folds: Seq[(String, graft.util.GenStore)] = Nil)

  /** The v2-store maintenance run over a `(doc_id, text)` corpus — the
    * one loop body of every CC stream demo: q242, q252, q260 and q261 on
    * text 3-grams, q262 on media frame tokens with k=1, and the composed
    * demos q263 (curation), q264 (coreness, threshold 0.3) and q270
    * (tokenized tail), which add their own stores through a
    * [[CcCompose]]. The demos differ only in the knobs below and the
    * corpus prep; the modality-blind claim holds BY CONSTRUCTION. Stages
    * the 3-epoch ingest (the `staged` columns), inits the store from the
    * rest of the corpus, runs the stream, and serves.
    *   - `nBuckets`: posting layout, flat (0) or hive-bucketed.
    *   - `kill`: at full depth, inject the mid-epoch-1 kill, require()
    *     that it fired (a silently-surviving first run would demote the
    *     demo to a plain uninterrupted test), then resume from the
    *     checkpoint.
    *   - `midStreamFolds`: at full depth, force both folds to fire
    *     mid-stream (labels at epoch 2 via maxLabelDeltas=1; postings
    *     every epoch via maxPostingGens=0 — so epoch 2's probe reads
    *     across a fold boundary) and require() that they did, and that
    *     every store in the composition's `folds` folded too. Otherwise
    *     the production cadence runs, which folds nothing in 3 epochs.
    * `reduced` bench depth ([[QueryDef.benchFn]]) runs ONE
    * uninterrupted one-trigger stream at the production cadence
    * (Round17Spec pins reduced ≡ full). The uninterrupted or resume leg
    * always starts on a FRESH SESSION (r15 verdict #3): recovery — and,
    * uninterrupted, the whole run — depends on disk state + checkpoint
    * only, nothing session-held. GC runs as the gcAfterFold policy, so
    * the oracle hash over the served result also pins fold and
    * mid-stream GC view-invariance.
    */
  private def ccStoreLoopRun(s: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, k: Int, nBuckets: Int,
      kill: Boolean, midStreamFolds: Boolean, reduced: Boolean,
      threshold: Double = 0.5, staged: Seq[String] = Seq("doc_id", "text"),
      compose: String => CcCompose = _ => CcCompose()): DataFrame = {
    import graft.streaming.Streams
    val root = java.nio.file.Files
      .createTempDirectory("graft_cc_store").toString
    try {
      val c = compose(root)
      val state = s"$root/state"
      val initCorpus = corpus.filter(col("doc_id") % 5 =!= 0)
      // the ingest staging (files under $root/in), the store init (state
      // under $root/state) and the composition's init read the same
      // static corpus and write disjoint dirs — independent, overlapped
      // (guide §2.6); each keeps its internal ordering contract (the
      // label base commits last inside ccStoreInit)
      var schema: org.apache.spark.sql.types.StructType = null
      graft.util.Par.run(
        () => schema = stageCcIngest(s, corpus, root, staged),
        () => Streams.ccStoreInit(initCorpus, state, k = k,
          threshold = threshold, nBuckets = nBuckets,
          onInitPairs = c.onInitPairs),
        () => c.init(initCorpus))
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      val folds = midStreamFolds && !reduced
      def start(killLeg: Boolean) = {
        val killAt = if (killLeg) Some((1L, armed)) else None
        val ccStep: (DataFrame, Long) => Unit =
          if (folds) Streams.ccStoreStep(state, k, threshold, nBuckets,
            maxLabelDeltas = 1, maxPostingGens = 0, gcAfterFold = true,
            killOnceAt = killAt, onEpochPairs = c.onEpochPairs)
          else Streams.ccStoreStep(state, k, threshold, nBuckets,
            gcAfterFold = true, killOnceAt = killAt,
            onEpochPairs = c.onEpochPairs)
        val step: (DataFrame, Long) => Unit = (batch, epoch) =>
          graft.util.Par.run(() => ccStep(batch, epoch),
            () => c.step(batch, epoch))
        Streams.start(demoIngest(if (killLeg) s else s.newSession(), schema, root,
            reduced))(_.option("checkpointLocation", s"$root/ckpt").foreachBatch(step))
      }
      if (kill && !reduced) {
        val q1 = start(killLeg = true)
        val died =
          try { q1.processAllAvailable(); false }
          catch { case _: Throwable => true }
          finally q1.stop()
        require(died && !armed.get, "the injected epoch-1 kill did not fire")
      }
      val q = start(killLeg = false)
      try q.processAllAvailable() finally q.stop()
      def committed(p: String) = java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$state/$p/_SUCCESS"))
      if (folds) {
        require(committed("gens/label_base/g=1"),
          "the label fold did not fire mid-stream")
        require(committed("gens/posting_base/g=1"),
          "the posting fold did not fire mid-stream")
        c.folds.foreach { case (name, st) =>
          require(st.latestCompleteBase() >= 1,
            s"the $name fold did not fire mid-stream")
        }
      }
      // GC ran as the gcAfterFold POLICY inside the stream — a
      // post-stream sweep must find nothing superseded left
      require(Streams.ccStoreGc(state) == 0,
        "the mid-stream GC policy left superseded state behind")
      c.serve(Streams.ccStoreLabels(s, state))
    } finally {
      graft.util.Dirs.rmTree(root)
    }
  }

  /** The two-store sidecar of the curation demos (q263, q270): a rows
    * store of per-epoch `rowsOf(batch)` deltas (the corpus never
    * rewrites) and a census store of per-epoch (source, q_micro, c)
    * counts over those rows, `q` scoring a row. The census covers ALL
    * ingested docs, not survivors: the cut is set by each source's RAW
    * quality distribution, which is what keeps census state append-only
    * (survivorship shifts as later epochs merge components). Init writes
    * the census base FIRST: its guard keys on the rows base's _SUCCESS,
    * so the marker it checks is the LAST write and a crash between the
    * two re-runs the whole init (heal-on-redelivery, the GenStore
    * discipline). Each epoch writes both deltas — epoch-keyed idempotent
    * overwrites that read the pinned rows and land disjoint dirs,
    * overlapped — then folds the census once more than one delta is live
    * (the shared seam on a non-union merge: a grouped re-sum) and sweeps
    * what the fold retired. `serve` gets the labels, the rows view and
    * the census totals, and pins its result.
    */
  private def curationSidecar(root: String, rowsOf: DataFrame => DataFrame,
      q: org.apache.spark.sql.Column)(
      serve: (DataFrame, DataFrame, DataFrame) => DataFrame): CcCompose = {
    import graft.util.{GenStore, Pin}
    val rows = GenStore(s"$root/state/side/rows_base",
      s"$root/state/side/rows")
    val census = GenStore(s"$root/state/side/census_base",
      s"$root/state/side/census")
    def censusOf(d: DataFrame) =
      d.groupBy(col("source"), q.as("q_micro")).agg(count(lit(1)).as("c"))
    def totals(sess: org.apache.spark.sql.SparkSession, bound: Long) =
      census.unionView(sess, bound)
        .groupBy("source", "q_micro").agg(sum("c").as("c"))
    CcCompose(
      init = initCorpus => if (!java.nio.file.Files.exists(java.nio
          .file.Paths.get(rows.basePath(-1), "_SUCCESS")))
        Pin.scope { pins =>
          val r = pins(rowsOf(initCorpus))
          census.writeBase(censusOf(r), -1)
          rows.writeBase(r, -1)
        },
      step = (batch, epoch) => {
        Pin.scope { pins =>
          val r = pins(rowsOf(batch))
          graft.util.Par.run(
            () => rows.writeDelta(r, epoch),
            () => census.writeDelta(censusOf(r), epoch))
        }
        census.foldIfDue(epoch)(_.size > 1) { g =>
          census.writeBase(totals(batch.sparkSession, epoch), g)
          census.gc(); ()
        }
        ()
      },
      serve = labels => serve(labels, rows.unionView(labels.sparkSession),
        totals(labels.sparkSession, Long.MaxValue)),
      folds = Seq("census" -> census))
  }

  /** Per-source top-quintile cut table (source, cut_micro) from a
    * (source, q_micro, c) census — q247's nearest-rank-from-top rule
    * (largest grid value with >= ceil(n/5) docs at-or-above). ONE
    * definition for the batch tail (q251), the incremental serve (q263),
    * and the tokenized tail (q267), so the cut semantics cannot drift
    * (r19 review; the DuckDB oracles nest the same CTE block verbatim).
    */
  private[graft] def censusQuintileCuts(
      census: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bySrc = Window.partitionBy("source")
    census
      .withColumn("cum", sum("c").over(bySrc.orderBy(col("q_micro").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(bySrc))
      .withColumn("k", expr("(n + 4) div 5"))
      .groupBy("source")
      .agg(max(when(col("cum") >= col("k"), col("q_micro")))
        .as("cut_micro"))
  }

  /** The integer-micro quality score shared by q251 (batch curation tail)
    * and q263 (its incremental twin) — one definition so the two
    * pipelines' cut semantics cannot drift.
    */
  private def qualityMicro: org.apache.spark.sql.Column =
    floor(TA.qualityScore(col("text")) * lit(1e6) + lit(0.5))

  /** The survivor filter every curation pool shares (r20 review — it was
    * restated at three sites): rows scored with q_micro ⋈ CC labels
    * (LEFT; label NULL = the doc never saw an edge, label = doc_id = its
    * component's min-id representative) ⋈ the broadcast per-source
    * quintile cut, quality-thresholded. One definition so the
    * rep-selection and cut semantics cannot drift between the batch
    * tails (q267/q269), the incremental serves (q263/q270), and any
    * future pool.
    */
  private[graft] def poolSurvivors(scored: org.apache.spark.sql.DataFrame,
      labels: org.apache.spark.sql.DataFrame,
      cuts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    scored
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
        "left")
      .filter(col("label").isNull || col("label") === col("doc_id"))
      .join(broadcast(cuts), "source")
      .filter(col("q_micro") >= col("cut_micro"))

  /** Stage 1 of the tokenized tails (q267/q269): the curated pool —
    * q263's pool semantics in batch form (CC cluster reps of the
    * 3-shingle Jaccard-0.5 graph ∩ per-source top-quintile quality cut).
    */
  private[graft] def curatedPool(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val labels = Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5))
      .pin()
    val scored = docs.select(col("doc_id"), col("source"), col("text"),
      qualityMicro.as("q_micro"))
    val census = scored.groupBy("source", "q_micro")
      .agg(count(lit(1)).as("c"))
    val cuts = censusQuintileCuts(census)
    poolSurvivors(scored, labels, cuts)
      .select("doc_id", "source", "text")
  }

  /** Stages 2–3 of the tokenized tails (q267/q269/q270): train the BPE
    * vocab on the FULL corpus (vocab induction precedes curation),
    * broadcast the vocabulary-sized word→token-count table, and mass the
    * q209 stride-24/window-32 chunk grid over the curated pool in BPE
    * tokens → (doc_id, source, chunk_idx, n_bpe). The corpus never
    * carries the merge chain — chunk words re-split and sum against the
    * broadcast table in one map-side-partial aggregate.
    */
  /** The EAGER half of [[bpeChunkMasses]] — train the BPE vocab on the
    * full corpus (driver-side merge collects) and return the lazy
    * vocabulary-sized word→token-count table. Split out so the tails can
    * overlap the train with the (independent) curated-pool CC pin
    * (guide §2.6).
    */
  private[graft] def bpeWordTokens(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // merges + the distinct-word vocab come from ONE census pass (r21,
    // TextAnalysis.bpeTrainAndVocab): the separate corpus re-scan +
    // distinct exchange for the broadcast word table is gone
    val (mergesDf, vocab) = TA.bpeTrainAndVocab(docs, "text",
      TextQueries.BpeMerges)
    val merges = mergesDf
      .orderBy("step").select("left", "right").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    vocab.select(col("w").as("cw"))
      .withColumn("tok", TA.bpeTokenCount(col("cw"), merges))
  }

  private[graft] def bpeChunkMasses(docs: org.apache.spark.sql.DataFrame,
      kept: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bpeChunkMassesWith(bpeWordTokens(docs), kept)

  /** [[bpeChunkMasses]] from a pre-trained word→token-count table. */
  private[graft] def bpeChunkMassesWith(
      wtok: org.apache.spark.sql.DataFrame,
      kept: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    kept
      .select(col("doc_id"), col("source"),
        split(col("text"), " ", -1).as("w"))
      .select(col("doc_id"), col("source"), posexplode(expr(
        "transform(sequence(0, (size(w)-1) div 24)," +
          " k -> array_join(slice(w, k*24+1, 32), ' '))"))
        .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("source"), col("chunk_idx"),
        explode(split(col("chunk"), " ", -1)).as("cw"))
      .join(broadcast(wtok), "cw")
      .groupBy("doc_id", "source", "chunk_idx")
      .agg(sum(col("tok").cast("long")).as("n_bpe"))
  }

  /** q269/q270's snapshot BUILD: the tokenized tail with the
    * SHARD-PARALLEL pack stage (r19 verdict #1) — curated pool chunked
    * and massed in BPE tokens, then [[shardParallelPack]] on those
    * masses (stripe-then-pack: the sequential unit is one shard, not one
    * source, so pack parallelism scales with the corpus). The ctok
    * checkpoint is load-bearing: the total-order rank's range sampling
    * and offset pass would otherwise re-run the CC+BPE+chunk lineage.
    */
  private[graft] def shardParallelTokenizedSnapshot(
      docs: org.apache.spark.sql.DataFrame,
      kept: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ctok = bpeChunkMasses(docs, kept).pin()
    shardParallelPack(ctok, "n_bpe", Seq("doc_id", "chunk_idx"), 8, 512)
      .select("doc_id", "chunk_idx", "source", "n_bpe", "r", "shard",
        "bin", "bin_offset")
  }

  /** The q269 batch tail with the two EAGER prefix legs overlapped
    * (guide §2.6): the curated pool's CC pin and the BPE vocab train are
    * independent (pool = dedup reps ∩ quality cut over the corpus; vocab
    * induction precedes curation and reads the full corpus) — they only
    * meet in the chunk-massing join. Same frames, same plan, driver-side
    * scheduling only.
    */
  private[graft] def shardParallelTokenizedSnapshotPar(
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val legs = new Array[org.apache.spark.sql.DataFrame](2)
    graft.util.Par.run(
      () => legs(0) = curatedPool(docs),
      () => legs(1) = bpeWordTokens(docs))
    val ctok = bpeChunkMassesWith(legs(1), legs(0)).pin()
    shardParallelPack(ctok, "n_bpe", Seq("doc_id", "chunk_idx"), 8, 512)
      .select("doc_id", "chunk_idx", "source", "n_bpe", "r", "shard",
        "bin", "bin_offset")
  }

  /** q267’s snapshot BUILD (stages 1–5, pre-write) — factored out so
    * PlanShapeSpec can pin the census discipline of the plan that
    * actually computes the layout (the registry query returns the disk
    * READ-BACK, whose plan is just the snapshot scan).
    */
  private[graft] def tokenizedTrainingSnapshot(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        // stages 1-3: curated pool → BPE vocab → chunk grid massed in
        // BPE tokens (shared with q269/q270); the pool's CC pin and the
        // vocab train are independent eager legs — overlapped
        // (guide §2.6, the shardParallelTokenizedSnapshotPar treatment)
        val legs = new Array[org.apache.spark.sql.DataFrame](2)
        graft.util.Par.run(
          () => legs(0) = curatedPool(docs),
          () => legs(1) = bpeWordTokens(docs))
        val ctok = bpeChunkMassesWith(legs(1), legs(0))
        // stage 4: q148's first-fit recurrence on chunks, cap 512 BPE —
        // streamed per source (r20: the same O(1)-task-memory treatment
        // as the shard-parallel pack; per-source bin CONTINUITY is the
        // semantics, the per-task array was not)
        val packed = streamFirstFit(
            ctok.select(col("source"), col("doc_id"), col("chunk_idx"),
              col("n_bpe")),
            Seq("source"), Seq("doc_id", "chunk_idx"), "n_bpe", 512)
          .pin() // read twice: bin masses + final join
        // stage 5: serpentine stripe the bins (q249's shape; the census
        // is bounded by the 512-token grid)
        val bins = packed.groupBy("source", "bin")
          .agg(sum("n_bpe").as("bin_tok"))
        val sharded = censusOffsetRank(bins, "bin_tok", Seq("source", "bin"))
          .withColumn("shard", serpentineShardExpr("r", 8))
          .select("source", "bin", "r", "shard")
        val snapshot = packed.join(sharded, Seq("source", "bin"))
          .select("doc_id", "chunk_idx", "source", "n_bpe", "bin",
            "bin_offset", "r", "shard")
    snapshot
  }

  /** q263's SERVE: cut the training snapshot from state views only —
    * survivors (merge-on-read labels filtered to min-id cluster reps:
    * label NULL = never saw an edge, label = doc_id = its component's
    * representative) ⋈ broadcast per-source census quintile cut →
    * serpentine striping via the census-offset rank. One corpus pass;
    * the only unpartitioned window runs over the CENSUS (grid-bounded),
    * the corpus rank window partitions by the token-count value
    * (PlanShapeSpec pins the shape). Package-visible so the plan spec
    * can drive it on synthetic state without running the stream.
    */
  private[graft] def incrementalCurationServe(
      labels: org.apache.spark.sql.DataFrame,
      scoredAll: org.apache.spark.sql.DataFrame,
      censusAll: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cuts = censusQuintileCuts(censusAll)
    val kept = poolSurvivors(scoredAll, labels, cuts)
      .select(col("doc_id"), col("source"), col("n_tok"))
    censusOffsetRank(kept, "n_tok", Seq("doc_id"))
      .withColumn("shard", serpentineShardExpr("r", 8))
      .select("doc_id", "source", "n_tok", "r", "shard")
      .orderBy("doc_id")
  }

  /** Land a striped training snapshot on disk — the q254 treatment,
    * factored so q263's stream run and Round18Spec's layout assertions
    * share one writer (r17 verdict #5): `repartition(col("shard"))` puts
    * each shard in exactly one task, `partitionBy("shard")` gives one
    * dir (and hence one file) per shard, and the returned frame is the
    * READ-BACK — trainers consume the disk layout, so the oracle must
    * pin the round trip, not the pre-write view. A shard-pruned consumer
    * (`filter(col("shard") === k)`) reads exactly one file
    * (PartitionFilters; Round18Spec asserts via numFiles).
    */
  private[graft] def writeShardSnapshot(
      snapshot: org.apache.spark.sql.DataFrame, dir: String)
      : org.apache.spark.sql.DataFrame = {
    // restore the writer's column order and the BIGINT shard type on the
    // read-back (the partition column comes back directory-inferred INT
    // and last) — schema-generic so q263's doc snapshot and q267's
    // chunk/bin snapshot share this one writer
    val cols = snapshot.columns.toSeq.map {
      case "shard" => col("shard").cast("long").as("shard")
      case c => col(c)
    }
    snapshot.repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
    snapshot.sparkSession.read.parquet(dir).select(cols: _*)
  }

  /** q264's pair state carrying its storage bucket `pb = pmod(i, B)` —
    * the q244/q265 bucket treatment applied to the pair store: persist
    * with `.repartition(col("pb")).write.partitionBy("pb")` and the
    * per-epoch component-recompute probe prunes to the affected set's
    * buckets at the scan ([[pruneToPairBuckets]]).
    */
  private[graft] def bucketedPairs(pairs: org.apache.spark.sql.DataFrame,
      nBuckets: Int): org.apache.spark.sql.DataFrame =
    pairs.select(col("i"), col("j"),
      Dedup.postingBucket(col("i"), nBuckets).as("pb"))

  /** Prune a bucket-partitioned pair state to the affected set's bucket
    * list (a literal in-filter on the partition column — Catalyst skips
    * non-hit bucket dirs at the scan; Round18Spec asserts via numFiles).
    * Sound for the SAME reason the i-only semi-join is (q258): an edge
    * of a touched component has BOTH endpoints in the affected set, so
    * its i's bucket is always hit — a pruned bucket holds no affected i
    * and none of its edges can belong to a touched component.
    */
  private[graft] def pruneToPairBuckets(
      view: org.apache.spark.sql.DataFrame, hit: Seq[Int])
      : org.apache.spark.sql.DataFrame =
    view.filter(col("pb").isInCollection(hit)).drop("pb")

  /** The boustrophedon shard assignment for a 1-based rank column: rank
    * r lands in shard (r-1)%n on even n-row passes and n-1-(r-1)%n on
    * odd ones, so the heavy end of a mass-sorted rank never feeds shard 0
    * exclusively. ONE definition (r19 verdict #3) for every striping site
    * (q249/q251/q254/q263/q267/q268/q269/q270) — the serpentine
    * arithmetic cannot drift per call site anymore. `div`, not `/`:
    * Column `/` on BIGINT is double division.
    */
  private[graft] def serpentineShardExpr(r: String, n: Int)
      : org.apache.spark.sql.Column =
    expr(s"CASE WHEN (($r - 1) div $n) % 2 = 0 THEN ($r - 1) % $n " +
      s"ELSE ${n - 1} - ($r - 1) % $n END")

  /** Census-offset global rank by (massCol DESC, orderCols ASC), for
    * masses on a provably BOUNDED grid (doc token counts, 512-capped bin
    * masses): grid census → prefix-sum offsets (a window over CENSUS rows
    * only, broadcast back onto the corpus) → per-value row_number. NEVER
    * a corpus-wide single-partition window (the q229 trap) — but its
    * parallelism is the grid's distinct-value count, so it is the right
    * shape only when the grid is small AND per-value groups stay modest;
    * corpus-sized groups take [[rankByTotalOrder]] instead (the q268
    * lesson, r19 ADVICE #3). Adds a 1-based BIGINT `r`.
    */
  private[graft] def censusOffsetRank(df: org.apache.spark.sql.DataFrame,
      massCol: String, orderCols: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val census = df.groupBy(massCol).agg(count(lit(1)).as("c"))
    val off = census
      .withColumn("off", sum("c").over(Window.orderBy(col(massCol).desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - col("c"))
      .select(massCol, "off")
    df.join(broadcast(off), massCol)
      .withColumn("r", col("off")
        + row_number().over(Window.partitionBy(massCol)
            .orderBy(orderCols.map(col): _*)).cast("long"))
      .drop("off")
  }

  /** Scalable global rank by an arbitrary total order — the 100 TB rank
    * shape (r19 ADVICE #3 on q268): range-repartition on the sort key,
    * pin the layout with an eager localCheckpoint (range bounds are
    * SAMPLED per execution, so the offset pass and the rank pass must
    * read one materialization or the offsets lie), then global rank =
    * per-partition prefix counts (a P-row broadcast) + a row_number
    * window partitioned by the PHYSICAL partition id. Parallelism is the
    * shuffle partition count — it scales with the cluster, not with the
    * mass grid's distinct-value count (the census-rank cap that made
    * q268's stripe 32-way forever). Deterministic for any TOTAL order
    * (callers pass unique tiebreakers): the rank reconstructs the global
    * sort position regardless of where the sampled bounds land.
    * Adds a 1-based BIGINT `r`.
    */
  private[graft] def rankByTotalOrder(df: org.apache.spark.sql.DataFrame,
      sortCols: Seq[org.apache.spark.sql.Column])
      : org.apache.spark.sql.DataFrame = {
    val sorted = df
      .repartitionByRange(sortCols: _*)
      .withColumn("_p", spark_partition_id())
      .pin()
    // range partition i holds sort keys <= partition i+1's, so prefix
    // counts by _p are exactly the global rank offsets
    val offs = sorted.groupBy("_p").agg(count(lit(1)).as("c"))
      .withColumn("off", sum("c").over(Window.orderBy("_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - col("c"))
      .select("_p", "off")
    sorted.join(broadcast(offs), "_p")
      .withColumn("r", col("off") + row_number().over(
        Window.partitionBy("_p").orderBy(sortCols: _*)).cast("long"))
      .drop("_p", "off")
  }

  /** Streaming first-fit bin packing WITHIN each key group, in the given
    * order, capacity `cap` — the STREAMING recurrence shape (r19 verdict
    * #2): hash-repartition on the key co-locates each group, a
    * within-partition (key, order) sort feeds mapPartitions an ordered
    * stream, and the fold advances row by row with O(1) task memory — a
    * group never has to fit in one task's heap (the per-group
    * `it.toArray` it replaces did). A partition may hold several groups
    * (hash collisions, AQE coalescing); the sort makes each a contiguous
    * run, so the fold just resets at the key boundary. Appends BIGINT
    * `bin` (0-based within group) and `bin_offset`. ONE definition for
    * every pack recurrence: per-shard (q268/q269/q270 via
    * [[packWithinShards]]), per-source docs (q148), per-source chunks
    * (q267).
    */
  private[graft] def streamFirstFit(df: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String], orderCols: Seq[String], massCol: String,
      cap: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val outSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+ StructField("bin", LongType, false) :+
        StructField("bin_offset", LongType, false))
    val keyIdx = keyCols.map(df.schema.fieldIndex)
    val massIdx = df.schema.fieldIndex(massCol)
    df.repartition(keyCols.map(col): _*)
      .sortWithinPartitions((keyCols ++ orderCols).map(col): _*)
      .mapPartitions { it =>
        // key-change detection without per-row allocation (r20 review):
        // the hot path is key-unchanged, so compare fields in place
        // against a cached array instead of building a Seq per row
        val keyIdxArr = keyIdx.toArray
        val cur = new Array[Any](keyIdxArr.length)
        var started = false; var bin = 0L; var fill = 0L
        it.map { row =>
          var changed = !started
          var i = 0
          while (i < keyIdxArr.length) {
            val v = row.get(keyIdxArr(i))
            if (!changed && v != cur(i)) changed = true
            cur(i) = v
            i += 1
          }
          val m = row.getAs[Number](massIdx).longValue
          if (changed) { started = true; bin = 0L; fill = m }
          else if (fill + m > cap) { bin += 1; fill = m }
          else fill += m
          org.apache.spark.sql.Row.fromSeq(
            row.toSeq :+ bin :+ (fill - m))
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** [[streamFirstFit]] keyed by the serpentine shard in rank order —
    * the pack stage of q268/q269/q270.
    */
  private[graft] def packWithinShards(
      striped: org.apache.spark.sql.DataFrame, massCol: String, cap: Long)
      : org.apache.spark.sql.DataFrame =
    streamFirstFit(striped, Seq("shard"), Seq("r"), massCol, cap)

  /** Shard-parallel pack — the 100 TB shape of the pack stage (r19
    * verdict #1/#3): serpentine stripe rows into nShards by mass via the
    * SCALABLE total-order rank, then run the first-fit recurrence within
    * each shard in rank order, streamed. The sequential unit is one
    * shard — the unit a data-parallel trainer consumes anyway — so
    * parallelism scales with the corpus (production sizes shard count to
    * the cluster); the stated trade: bins never cross shard boundaries,
    * so up to one underfilled bin per shard replaces per-source bin
    * continuity (sequences never span training files). Shared by q268,
    * q269 and q270 so the pack arithmetic cannot drift.
    */
  private[graft] def shardParallelPack(df: org.apache.spark.sql.DataFrame,
      massCol: String, orderCols: Seq[String], nShards: Int, cap: Long)
      : org.apache.spark.sql.DataFrame = {
    val ranked = rankByTotalOrder(df,
      col(massCol).desc +: orderCols.map(col))
    val striped = ranked.withColumn("shard",
      serpentineShardExpr("r", nShards))
    packWithinShards(striped, massCol, cap)
  }

  /** The q249 serpentine balanced-shard layout (doc_id, n_tok, r, shard)
    * — rank by (n_tok DESC, doc_id) via the census-offset rank
    * (plan-pinned in PlanShapeSpec), then boustrophedon-stripe rank r.
    * Shared by q249 (the layout) and q254 (the layout written to disk)
    * so they cannot drift.
    */
  private def serpentineShards(s: org.apache.spark.sql.SparkSession,
      dir: String, n: Int): org.apache.spark.sql.DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
    censusOffsetRank(toks, "n_tok", Seq("doc_id"))
      .withColumn("shard", serpentineShardExpr("r", n))
      .select("doc_id", "n_tok", "r", "shard")
  }

  /** The DuckDB twin of [[serpentineShards]] at n = 8 — q249's and
    * q254's shared oracle (the disk round trip is content-preserving).
    */
  private val serpentineOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |census AS (SELECT n_tok, COUNT(*) AS c FROM toks GROUP BY n_tok),
      |off AS (
      |  SELECT n_tok, CAST(SUM(c) OVER (ORDER BY n_tok DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
      |    AS BIGINT) AS off
      |  FROM census),
      |ranked AS (
      |  SELECT t.doc_id, t.n_tok,
      |    o.off + ROW_NUMBER() OVER (PARTITION BY t.n_tok
      |      ORDER BY t.doc_id) AS r
      |  FROM toks t JOIN off o USING (n_tok))
      |SELECT doc_id, n_tok, r,
      |  CAST(CASE WHEN ((r - 1) // 8) % 2 = 0 THEN (r - 1) % 8
      |       ELSE 7 - (r - 1) % 8 END AS BIGINT) AS shard
      |FROM ranked ORDER BY doc_id""".stripMargin

  /** Shared oracle CTE chain of the tokenized tails (q267/q269/q270):
    * CC closure → per-source quality-cut survivors → BPE trainer → chunk
    * grid → per-chunk BPE masses `ctok(doc_id, source, chunk_idx,
    * n_bpe)`. The DuckDB twin of [[curatedPool]] + [[bpeChunkMasses]],
    * stated once so the three tails' oracles cannot drift. ctok is
    * MATERIALIZED: everything above it is the expensive CC+BPE chain and
    * the consumers read it from inside (or twice around) a recursion —
    * the q267 lesson (inlined, DuckDB re-runs the whole chain per
    * recursion step; measured 88 CPU-minutes unfinished vs seconds).
    * Callers prepend `WITH RECURSIVE ` and append their pack CTEs.
    */
  private lazy val tokenizedCtokCtes: String = s"""$ccOracleCte,
    |q AS (SELECT doc_id, source,
    |  CAST(floor((0.4 * least(1.0, len(string_split(text, ' ')) / 50.0)
    |    + 0.3 * (1.0 - len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) / CAST(len(string_split(text, ' ')) AS DOUBLE))
    |    + 0.3 * least(1.0, (length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 6.0)) * 1e6 + 0.5) AS BIGINT) AS q_micro
    |  FROM documents),
    |qc AS (SELECT source, q_micro, COUNT(*) AS c FROM q GROUP BY 1, 2),
    |qcum AS (
    |  SELECT source, q_micro,
    |    SUM(c) OVER (PARTITION BY source ORDER BY q_micro DESC
    |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    |    SUM(c) OVER (PARTITION BY source) AS n
    |  FROM qc),
    |cuts AS (
    |  SELECT source,
    |    MAX(CASE WHEN cum >= (n + 4) // 5 THEN q_micro END) AS cut_micro
    |  FROM qcum GROUP BY source),
    |kept AS (
    |  SELECT q.doc_id, q.source
    |  FROM q LEFT JOIN comp ON q.doc_id = comp.id
    |  JOIN cuts ON q.source = cuts.source
    |  WHERE (comp.id IS NULL OR comp.label = q.doc_id)
    |    AND q.q_micro >= cuts.cut_micro),
    |${TextQueries.bpeTrainerCtes(TextQueries.BpeMerges)},
    |wtok AS (SELECT w, CAST(len(string_split(s, '|')) AS INT) AS tok
    |  FROM w${TextQueries.BpeMerges}),
    |kdocs AS (
    |  SELECT d.doc_id, k.source, string_split(d.text, ' ') AS w
    |  FROM documents d JOIN kept k USING (doc_id)),
    |ch AS (
    |  SELECT doc_id, source, CAST(kk.k AS INTEGER) AS chunk_idx,
    |    array_to_string(w[(kk.k*24+1):(kk.k*24+32)], ' ') AS chunk
    |  FROM kdocs, (SELECT unnest(range(0, 256)) AS k) kk
    |  WHERE kk.k <= (len(w) - 1) // 24),
    |cw AS (
    |  SELECT doc_id, source, chunk_idx,
    |    unnest(string_split(chunk, ' ')) AS cw
    |  FROM ch),
    |ctok AS MATERIALIZED (
    |  SELECT doc_id, source, chunk_idx,
    |    CAST(SUM(t.tok) AS BIGINT) AS n_bpe
    |  FROM cw JOIN wtok t ON cw.cw = t.w
    |  GROUP BY 1, 2, 3)""".stripMargin

  /** The shard-parallel tokenized tail's oracle (q269 AND q270 — q270's
    * accumulated corpus is exactly the documents table, so batch-boundary
    * independence is pinned by sharing this string verbatim): the ctok
    * chain, the serpentine stripe of CHUNKS by BPE mass (census-offset
    * rank — arithmetically identical to the engine's total-order rank),
    * and the q148 first-fit recursion PARTITIONED BY shard. ranked is
    * MATERIALIZED — the recursion scans it once per step.
    */
  private lazy val shardParallelTailOracleSql: String =
    s"""WITH RECURSIVE $tokenizedCtokCtes,
    |mc AS (SELECT n_bpe, COUNT(*) AS c FROM ctok GROUP BY n_bpe),
    |off AS (
    |  SELECT n_bpe, CAST(SUM(c) OVER (ORDER BY n_bpe DESC
    |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
    |    AS BIGINT) AS off
    |  FROM mc),
    |ranked0 AS (
    |  SELECT c.doc_id, c.source, c.chunk_idx, c.n_bpe,
    |    o.off + ROW_NUMBER() OVER (PARTITION BY c.n_bpe
    |      ORDER BY c.doc_id, c.chunk_idx) AS r
    |  FROM ctok c JOIN off o USING (n_bpe)),
    |ranked AS MATERIALIZED (
    |  SELECT doc_id, source, chunk_idx, n_bpe, r,
    |    CAST(CASE WHEN ((r - 1) // 8) % 2 = 0 THEN (r - 1) % 8
    |         ELSE 7 - (r - 1) % 8 END AS BIGINT) AS shard,
    |    ROW_NUMBER() OVER (PARTITION BY
    |      CASE WHEN ((r - 1) // 8) % 2 = 0 THEN (r - 1) % 8
    |           ELSE 7 - (r - 1) % 8 END
    |      ORDER BY r) AS rn
    |  FROM ranked0),
    |pr AS (
    |  SELECT doc_id, source, chunk_idx, n_bpe, r, shard, rn,
    |    CAST(0 AS BIGINT) AS bin, n_bpe AS fill
    |  FROM ranked WHERE rn = 1
    |  UNION ALL
    |  SELECT b.doc_id, b.source, b.chunk_idx, b.n_bpe, b.r, b.shard,
    |    b.rn,
    |    CASE WHEN pr.fill + b.n_bpe > 512 THEN pr.bin + 1
    |         ELSE pr.bin END,
    |    CASE WHEN pr.fill + b.n_bpe > 512 THEN b.n_bpe
    |         ELSE pr.fill + b.n_bpe END
    |  FROM ranked b JOIN pr ON b.shard = pr.shard
    |    AND b.rn = pr.rn + 1)
    |SELECT doc_id, chunk_idx, source, n_bpe, r, shard, bin,
    |  fill - n_bpe AS bin_offset
    |FROM pr
    |ORDER BY doc_id, chunk_idx""".stripMargin

  /** The DSIR importance scores (doc_id, source, score_raw) shared by the
    * global-quota (q229) and per-source-quota (q243) selections — one
    * definition so the two selection policies cannot drift apart in
    * scoring. Add-one-smoothed unigram log-likelihood ratio of target
    * ('src0') vs pool; per-token weights are pure IEEE divisions,
    * per-doc scores accumulate through dsum (decimal-6), scores stay
    * UNROUNDED for ranking.
    */
  private def dsirScores(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("tok"))
    val isT = col("source") === "src0"
    // the vocabulary census feeds the totals AND the weight table; lazy
    // it re-tokenized the corpus per consumer (3 document scans in the
    // r20 plan dump). Pin the vocabulary-bounded table once (r20, guide
    // §1.2); the scoring pass below keeps its map-side corpus scan. Swap
    // checkpoint() for localCheckpoint at cluster scale.
    val cnt = toks.groupBy("tok").agg(
      sum(when(isT, 1L).otherwise(0L)).as("a"),
      sum(when(isT, 0L).otherwise(1L)).as("b"))
      .pin()
    val tot = cnt.agg(sum("a").as("na"), sum("b").as("nb"),
      count(lit(1)).as("v"))
    val w = cnt.crossJoin(broadcast(tot))
      .select(col("tok"),
        (((col("a") + 1).cast("double")
            / (col("na") + col("v")).cast("double"))
          / ((col("b") + 1).cast("double")
            / (col("nb") + col("v")).cast("double"))).as("w"))
    toks.filter(!isT)
      .join(w, "tok")
      .groupBy("doc_id", "source")
      .agg(dsum(log(col("w"))).as("score_raw"))
  }

  /** The DuckDB twin of [[dsirScores]] (CTEs tok→cnt→tot→w→scored). */
  private val dsirScoreCtes =
    s"""tok AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |cnt AS (
      |  SELECT tok,
      |    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS a,
      |    SUM(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS b
      |  FROM tok GROUP BY 1),
      |tot AS (SELECT SUM(a) AS na, SUM(b) AS nb, COUNT(*) AS v FROM cnt),
      |w AS (
      |  SELECT tok,
      |    ((CAST(a + 1 AS DOUBLE) / CAST(na + v AS DOUBLE))
      |      / ((CAST(b + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE)))) AS w
      |  FROM cnt CROSS JOIN tot),
      |scored AS (
      |  SELECT t.doc_id, t.source, ${sqlDsum("ln(w.w)")} AS score_raw
      |  FROM tok t JOIN w ON t.tok = w.tok
      |  WHERE t.source <> 'src0' GROUP BY 1, 2)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- deterministic train/test split (hash-mod buckets, 80/20) ----
    QueryDef("q62_train_test_split",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          (h48(col("doc_id")) % 10).as("bucket"))
        .withColumn("split", when(col("bucket") < 8, "train").otherwise("test"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang, ${sqlH48("doc_id")} % 10 AS bucket,
        |CASE WHEN ${sqlH48("doc_id")} % 10 < 8 THEN 'train' ELSE 'test' END AS split
        |FROM documents
        |ORDER BY doc_id""".stripMargin)),

    // ---- stratified 20% sample: per-language hash-rank quota ----
    // rank-by-stable-hash within each stratum = a deterministic "random"
    // sample whose per-stratum fraction is exact, not expected-value
    QueryDef("q63_stratified_sample",
      (s, dir) => {
        val byHash = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
        val stratum = Window.partitionBy("lang")
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"), h48(col("doc_id")).as("h"))
          .withColumn("rn", row_number().over(byHash))
          .withColumn("n_stratum", count(lit(1)).over(stratum))
          .filter(col("rn") <= ceil(col("n_stratum") * 0.2))
          .select("doc_id", "lang", "n_chars")
          .orderBy("doc_id")
      },
      Some(s"""WITH ranked AS (
        |  SELECT doc_id, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ${sqlH48("doc_id")}, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS n_stratum
        |  FROM documents)
        |SELECT doc_id, lang, n_chars
        |FROM ranked
        |WHERE rn <= ceil(n_stratum * 0.2)
        |ORDER BY doc_id""".stripMargin)),

    // ---- text normalization: case-fold, strip punctuation, collapse ws ----
    QueryDef("q64_text_normalize",
      (s, dir) => {
        val normed = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            length(col("text")).as("len_raw"),
            length(normed).as("len_norm"),
            size(split(normed, " ")).as("n_tokens_norm"),
            md5(normed).as("norm_md5"))
          .orderBy("doc_id")
      },
      // DuckDB regexp_replace is first-match unless the 'g' flag is given
      Some("""WITH n AS (SELECT doc_id, text,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS normed
        |  FROM documents)
        |SELECT doc_id, CAST(length(text) AS INTEGER) AS len_raw,
        |  CAST(length(normed) AS INTEGER) AS len_norm,
        |  CAST(len(string_split(normed, ' ')) AS INTEGER) AS n_tokens_norm,
        |  md5(normed) AS norm_md5
        |FROM n
        |ORDER BY doc_id""".stripMargin)),

    // ---- dedup clustering: connected components over near-dup pairs ----
    // LSH/Jaccard emits PAIRS; a usable dedup needs CLUSTERS (keep one doc
    // per component). Min-label propagation over the pair graph; oracle is
    // a recursive-CTE reachability closure over the same exact pairs.
    QueryDef("q65_dedup_clusters",
      (s, dir) => {
        val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.5)
        Dedup.connectedComponents(pairs)
          .groupBy("label")
          .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
          .orderBy("label")
      },
      Some(s"""WITH RECURSIVE $ccOracleCte
        |SELECT label, COUNT(*) AS n_members, max(id) AS max_id
        |FROM comp
        |GROUP BY label
        |ORDER BY label""".stripMargin)),

    // ---- bloom-filter-pruned semi join ----
    // The big-side scan is prefiltered by a compact bloom built over the
    // small side's keys (treeAggregate under Dataset.stat.bloomFilter),
    // then EXACTLY verified by the semi join — so bloom false positives
    // never reach the result and the answer equals the plain semi join.
    // At 100 TB this is the runtime-filter pattern: ship a few MB of bloom
    // to every executor and drop non-matching fact rows AT THE SCAN,
    // instead of shuffling the whole fact table into the join.
    QueryDef("q92_bloom_semi_join",
      (s, dir) => {
        val hot = Tables.orders(s, dir)
          .filter(col("o_totalprice") > 450000.0)
          .select(col("o_orderkey"))
        val bloom = hot.stat.bloomFilter("o_orderkey", 10000L, 0.01)
        val bloomBc = s.sparkContext.broadcast(bloom)
        val mightContain = udf((k: Long) => bloomBc.value.mightContainLong(k))
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_returnflag", "l_extendedprice")
          .filter(mightContain(col("l_orderkey"))) // probabilistic prefilter
          .join(hot, col("l_orderkey") === col("o_orderkey"), "left_semi") // exact
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
        |${sqlDsum("l_extendedprice")} AS sum_price
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // ---- dedup survivorship: one canonical doc per near-dup cluster ----
    // The end-to-end dedup flow: pairs → components → a deterministic
    // survivor rule (longest text, then lowest id) applied as a single
    // max_by aggregate over cluster members — no window sort of the corpus.
    QueryDef("q103_cluster_canonical",
      (s, dir) => {
        val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.5)
        val (labels, nLabels) = Dedup.connectedComponentsCounted(pairs)
        val members = guardedBroadcast(labels, nLabels) // see the helper's contract
        members.join(Tables.documents(s, dir), members("id") === col("doc_id"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_members"),
               max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id"))).as("survivor_id"),
               max(col("n_chars")).as("survivor_chars"))
          .orderBy("label")
      },
      Some(s"""WITH RECURSIVE $ccOracleCte,
        |ranked AS (
        |  SELECT c.label, d.doc_id, d.n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY c.label
        |                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
        |  FROM comp c JOIN documents d ON c.id = d.doc_id)
        |SELECT label, COUNT(*) AS n_members,
        |  min(CASE WHEN rk = 1 THEN doc_id END) AS survivor_id,
        |  max(n_chars) AS survivor_chars
        |FROM ranked
        |GROUP BY label
        |ORDER BY label""".stripMargin)),

    // ---- column profiling (data-quality summary per column) ----
    // One `stack` generate (no shuffle) + one hash aggregate: every numeric
    // column's null count, distinct count, min, max, and exact sum in a
    // single pass — the schema-audit step a pipeline runs before training.
    // At scale this is ONE scan of the table however many columns are
    // profiled (vs one scan per column for naive per-column queries).
    QueryDef("q127_column_profile",
      (s, dir) => {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val stacked = Tables.lineitem(s, dir)
          .select(expr(cols.map(c => s"'$c', $c").mkString(
            s"stack(${cols.length}, ", ", ", ") AS (col_name, v)")))
        stacked.groupBy("col_name")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("v").isNull.cast("long")).as("n_null"),
            countDistinct(col("v")).as("n_distinct"),
            min(col("v")).as("min_v"), max(col("v")).as("max_v"),
            dsum(col("v")).as("sum_v"))
          .orderBy("col_name")
      },
      Some {
        val one = (c: String) =>
          s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
            |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
            |  COUNT(DISTINCT $c) AS n_distinct,
            |  MIN($c) AS min_v, MAX($c) AS max_v, ${sqlDsum(c)} AS sum_v
            |FROM lineitem""".stripMargin
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .map(one).mkString("", "\nUNION ALL ", "\nORDER BY col_name")
      }),

    // ---- top-p (nucleus) mass filter ----
    // Keep the highest-value rows per group until the kept mass reaches 80%
    // of the group total — the probability-mass curation cut (top-p) from
    // LLM data pipelines. ALL mass arithmetic is exact decimal (running sum
    // + group total), and the 80% threshold is the integer cross-multiply
    // `5·(cum − v) < 4·total` — no double ever enters the keep decision, so
    // any engine/layout computes the identical kept set. One window sort
    // per group; the decision is a per-row comparison (no second pass).
    QueryDef("q133_top_p_mass",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val vd = col("value").cast(DecimalType(27, 6))
        val wRun = Window.partitionBy("event_type")
          .orderBy(col("value").desc, col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("event_type")
        val c = Tables.events(s, dir)
          .select(col("event_type"), col("event_id"), vd.as("vd"),
            sum(vd).over(wRun).as("cum"), sum(vd).over(wAll).as("total"))
          .withColumn("keep", (col("cum") - col("vd")) * 5 < col("total") * 4)
        c.groupBy("event_type")
          .agg(count(lit(1)).as("n_total"),
            sum(col("keep").cast("long")).as("n_kept"),
            sum(when(col("keep"), col("vd")).otherwise(lit(0))).cast("double")
              .as("kept_mass"),
            min(col("total")).cast("double").as("total_mass"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (
        |  SELECT event_type, event_id, CAST(value AS DECIMAL(27,6)) AS vd,
        |    SUM(CAST(value AS DECIMAL(27,6))) OVER
        |      (PARTITION BY event_type ORDER BY value DESC, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(CAST(value AS DECIMAL(27,6))) OVER
        |      (PARTITION BY event_type) AS total
        |  FROM events),
        |k AS (SELECT *, (cum - vd) * 5 < total * 4 AS keep FROM c)
        |SELECT event_type, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN keep THEN vd ELSE 0 END) AS DOUBLE) AS kept_mass,
        |  CAST(min(total) AS DOUBLE) AS total_mass
        |FROM k
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // ---- Gopher-style repetition filter ----
    // Per doc: token count, duplicate-token fraction (1 - distinct/total)
    // and the most-common-token mass fraction (ties broken by token asc) —
    // the repetition screens an LLM-corpus pipeline applies before
    // training. Flags docs whose top token exceeds 12% of all tokens or
    // whose duplicate fraction exceeds 60% (p50 top-frac on this corpus is
    // ~9%, p90 ~14%, so flags split the corpus). Fractions are single
    // IEEE divisions of exact integers → raw doubles match the oracle.
    // One explode + one two-level aggregate; scales as a plain shuffle on
    // (doc_id, token).
    QueryDef("q145_repetition_filter",
      (s, dir) => {
        val tf = Tables.documents(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        tf.groupBy("doc_id")
          // top token by (count DESC, token ASC) as one orderable struct:
          // min((-c, w)) — no second pass, no window
          .agg(sum("c").as("n_tok"), count(lit(1)).as("n_distinct"),
            min(struct((col("c") * -1).as("c"), col("w").as("w"))).as("top"))
          .select(col("doc_id"), col("n_tok"), col("n_distinct"),
            col("top.w").as("top_word"),
            (col("top.c") * -1).as("top_cnt"))
          .select(col("doc_id"), col("n_tok"), col("n_distinct"),
            col("top_word"), col("top_cnt"),
            (col("top_cnt").cast("double") / col("n_tok")).as("top_frac"),
            (lit(1.0) - col("n_distinct").cast("double") / col("n_tok"))
              .as("dup_frac"))
          .withColumn("flagged",
            col("top_frac") > 0.12 || col("dup_frac") > 0.6)
          .orderBy("doc_id")
      },
      Some("""WITH tf AS (
        |  SELECT doc_id, w, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, SUM(c) AS n_tok, COUNT(*) AS n_distinct,
        |    MIN(struct_pack(c := -c, w := w)) AS top
        |  FROM tf GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, n_distinct,
        |  top.w AS top_word, CAST(-top.c AS BIGINT) AS top_cnt,
        |  CAST(-top.c AS DOUBLE) / n_tok AS top_frac,
        |  CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_tok AS dup_frac,
        |  (CAST(-top.c AS DOUBLE) / n_tok > 0.12
        |   OR CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_tok > 0.6)
        |    AS flagged
        |FROM agg
        |ORDER BY doc_id""".stripMargin)),

    // ---- greedy sequence packing (first-fit-in-order bin packing) ----
    // Packs each source's docs, in doc_id order, into 512-token bins:
    // close the bin when the next doc would overflow it — how a training
    // pipeline assembles fixed-length sample sequences from variable-length
    // docs. The bin id depends on every prior doc in the shard, so like
    // EWMA it is a genuine per-key recurrence — streamed via
    // streamFirstFit (one shuffle on source, a within-partition sort,
    // O(1) task state; r20). All-integer → oracle is the identical
    // recurrence as a recursive CTE; bin/bin_offset cast back to INT to
    // keep the oracle's INTEGER schema.
    QueryDef("q148_sequence_packing",
      (s, dir) => {
        streamFirstFit(
            Tables.documents(s, dir)
              .select(col("source"), col("doc_id"),
                size(split(col("text"), " ", -1)).as("n_tok")),
            Seq("source"), Seq("doc_id"), "n_tok", 512)
          .select(col("source"), col("doc_id"), col("n_tok"),
            col("bin").cast("int").as("bin"),
            col("bin_offset").cast("int").as("bin_offset"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE base AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, n_tok, rn, 0 AS bin, n_tok AS fill
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.source, b.doc_id, b.n_tok, b.rn,
        |    CASE WHEN r.fill + b.n_tok > 512 THEN r.bin + 1 ELSE r.bin END,
        |    CASE WHEN r.fill + b.n_tok > 512 THEN b.n_tok
        |         ELSE r.fill + b.n_tok END
        |  FROM base b JOIN r ON b.source = r.source AND b.rn = r.rn + 1)
        |SELECT source, doc_id, n_tok, bin, fill - n_tok AS bin_offset FROM r
        |ORDER BY doc_id""".stripMargin)),

    // ---- domain mixing: per-language deterministic downsampling ----
    // The corpus-mixture step of a training pipeline: each language keeps
    // a configured fraction, decided per doc by the content-addressed
    // 48-bit hash — reproducible on any cluster layout, and exact because
    // every rate is a binary fraction (r·2^48 is an integer threshold, so
    // the keep decision is a pure integer compare, no doubles anywhere).
    // The hash is salted ("mix:") so the decision is independent of the
    // q62 train/test assignment derived from the same key.
    QueryDef("q149_domain_mixing",
      (s, dir) => {
        val thresh = typedLit(Map(
          "zh" -> 281474976710656L, // 1.0    (2^48) — keep all
          "en" -> 140737488355328L, // 0.5    (2^47)
          "es" -> 70368744177664L,  // 0.25   (2^46)
          "de" -> 35184372088832L,  // 0.125  (2^45)
          "fr" -> 17592186044416L)) // 0.0625 (2^44)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            h48(concat(lit("mix:"), col("doc_id").cast("string"))).as("h"))
          .filter(col("h") < element_at(thresh, col("lang")))
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, lang FROM documents
        |WHERE ${sqlH48("'mix:' || CAST(doc_id AS VARCHAR)")} <
        |  CASE lang WHEN 'zh' THEN 281474976710656
        |            WHEN 'en' THEN 140737488355328
        |            WHEN 'es' THEN 70368744177664
        |            WHEN 'de' THEN 35184372088832
        |            WHEN 'fr' THEN 17592186044416 END
        |ORDER BY doc_id""".stripMargin)),

    // ---- ROC-AUC per source (rank-sum / Mann–Whitney) ----
    // Scores = n_chars, labels = (lang = 'en'): the distributed model-eval
    // pattern — AUC from average ranks, no O(P·N) pair join. Ties get the
    // average rank via RANK() + (tie_count−1)/2, so the result is
    // layout-independent; rank terms are integers-plus-halves, which sum
    // EXACTLY in doubles in any order → raw-double AUC matches the oracle.
    QueryDef("q153_roc_auc",
      (s, dir) => {
        val bySrc = Window.partitionBy("source").orderBy("score")
        val byScore = Window.partitionBy("source", "score")
        Tables.documents(s, dir)
          .select(col("source"), col("n_chars").cast("double").as("score"),
            (col("lang") === "en").as("pos"))
          .withColumn("rk", rank().over(bySrc))
          .withColumn("cnt", count(lit(1)).over(byScore))
          .groupBy("source")
          .agg(sum(when(col("pos"), lit(1)).otherwise(lit(0))).as("p"),
            sum(when(!col("pos"), lit(1)).otherwise(lit(0))).as("n"),
            sum(when(col("pos"),
              col("rk") + (col("cnt") - 1) / 2.0)).as("s"))
          .select(col("source"), col("p"), col("n"),
            ((col("s") - col("p") * (col("p") + 1) / 2.0)
              / (col("p").cast("double") * col("n"))).as("auc"))
          .orderBy("source")
      },
      Some("""WITH sc AS (
        |  SELECT source, CAST(n_chars AS DOUBLE) AS score, lang = 'en' AS pos
        |  FROM documents),
        |rk AS (
        |  SELECT source, pos,
        |    RANK() OVER (PARTITION BY source ORDER BY score) AS rk,
        |    COUNT(*) OVER (PARTITION BY source, score) AS cnt
        |  FROM sc),
        |agg AS (
        |  SELECT source,
        |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |    CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS n,
        |    SUM(CASE WHEN pos
        |        THEN CAST(rk AS DOUBLE) + CAST(cnt - 1 AS DOUBLE) / 2 END) AS s
        |  FROM rk GROUP BY source)
        |SELECT source, p, n,
        |  (s - CAST(p AS DOUBLE) * CAST(p + 1 AS DOUBLE) / 2)
        |    / (CAST(p AS DOUBLE) * CAST(n AS DOUBLE)) AS auc
        |FROM agg
        |ORDER BY source""".stripMargin)),

    // ---- referential-integrity audit across the star schema ----
    // The constraint check a lakehouse runs per batch (parquet enforces
    // nothing): per FK edge, child cardinality, orphan rows, and how many
    // distinct parent keys are missing. Each edge is a left-anti join
    // against the deduplicated parent keys — at scale that is a shuffle
    // (or broadcast, for small parents) semi-join per edge, never a
    // collect. The last edge audits against a *restricted* parent set
    // (the "active catalog", p_size ≤ 25) to exercise the nonzero-orphan
    // path on an otherwise-clean corpus.
    QueryDef("q168_referential_integrity",
      (s, dir) => {
        import org.apache.spark.sql.DataFrame
        // child row counts computed ONCE per child table (they are the
        // same value for every edge off that table), not once per edge —
        // three redundant full scans of the biggest table otherwise
        val li = Tables.lineitem(s, dir)
        val liRows = li.count()
        val ordRows = Tables.orders(s, dir).count()
        def edge(name: String, childRows: Long, child: DataFrame,
                 key: String, parentKeys: DataFrame): DataFrame = {
          val orphans = child.join(
            parentKeys.toDF(key).distinct(), Seq(key), "left_anti")
          orphans.agg(count(lit(1)).as("orphan_rows"),
              countDistinct(col(key)).as("missing_parents"))
            .select(lit(name).as("edge"),
              lit(childRows).as("child_rows"),
              col("orphan_rows"), col("missing_parents"))
        }
        // the two l_partkey edges (full catalog / active catalog) share ONE
        // aggregated key census: lineitem is scanned once and reduced to
        // per-key counts, then both parent sets are tested against the
        // census with a single join — one scan and one partkey-sized
        // shuffle instead of two full-lineitem anti-joins
        val pk = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
        val partEdges = pk.join(
            Tables.part(s, dir)
              .select(col("p_partkey"), (col("p_size") <= 25).as("active")),
            col("l_partkey") === col("p_partkey"), "left")
          .agg(
            sum(when(col("p_partkey").isNull, col("cnt")).otherwise(0L))
              .as("orphan_all"),
            // a NULL child key is never a "missing parent": COUNT(DISTINCT k)
            // (the pre-census formulation and the oracle) excludes NULL, so
            // the census row for l_partkey IS NULL must not be counted
            count(when(col("p_partkey").isNull && col("l_partkey").isNotNull, 1))
              .as("missing_all"),
            sum(when(col("p_partkey").isNull || !col("active"), col("cnt"))
              .otherwise(0L)).as("orphan_active"),
            count(when((col("p_partkey").isNull || !col("active")) &&
                col("l_partkey").isNotNull, 1))
              .as("missing_active"))
          .pin() // both edge rows read it; census runs once
        partEdges.select(lit("lineitem_active_part").as("edge"),
            lit(liRows).as("child_rows"),
            col("orphan_active").as("orphan_rows"),
            col("missing_active").as("missing_parents"))
          .unionByName(edge("lineitem_orders", liRows,
            li.select("l_orderkey"), "l_orderkey",
            Tables.orders(s, dir).select("o_orderkey")))
          .unionByName(partEdges.select(lit("lineitem_part").as("edge"),
            lit(liRows).as("child_rows"),
            col("orphan_all").as("orphan_rows"),
            col("missing_all").as("missing_parents")))
          .unionByName(edge("lineitem_supplier", liRows,
            li.select("l_suppkey"), "l_suppkey",
            Tables.supplier(s, dir).select("s_suppkey")))
          .unionByName(edge("orders_customer", ordRows,
            Tables.orders(s, dir).select("o_custkey"), "o_custkey",
            Tables.customer(s, dir).select("c_custkey")))
          .orderBy("edge")
      },
      Some("""WITH e1 AS (
        |  SELECT l_partkey AS k FROM lineitem
        |  WHERE l_partkey NOT IN
        |    (SELECT p_partkey FROM part WHERE p_size <= 25)),
        |e2 AS (SELECT l_orderkey AS k FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |e3 AS (SELECT l_partkey AS k FROM lineitem
        |  WHERE l_partkey NOT IN (SELECT p_partkey FROM part)),
        |e4 AS (SELECT l_suppkey AS k FROM lineitem
        |  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)),
        |e5 AS (SELECT o_custkey AS k FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        |SELECT 'lineitem_active_part' AS edge,
        |  (SELECT COUNT(*) FROM lineitem) AS child_rows,
        |  (SELECT COUNT(*) FROM e1) AS orphan_rows,
        |  (SELECT COUNT(DISTINCT k) FROM e1) AS missing_parents
        |UNION ALL SELECT 'lineitem_orders',
        |  (SELECT COUNT(*) FROM lineitem), (SELECT COUNT(*) FROM e2),
        |  (SELECT COUNT(DISTINCT k) FROM e2)
        |UNION ALL SELECT 'lineitem_part',
        |  (SELECT COUNT(*) FROM lineitem), (SELECT COUNT(*) FROM e3),
        |  (SELECT COUNT(DISTINCT k) FROM e3)
        |UNION ALL SELECT 'lineitem_supplier',
        |  (SELECT COUNT(*) FROM lineitem), (SELECT COUNT(*) FROM e4),
        |  (SELECT COUNT(DISTINCT k) FROM e4)
        |UNION ALL SELECT 'orders_customer',
        |  (SELECT COUNT(*) FROM orders), (SELECT COUNT(*) FROM e5),
        |  (SELECT COUNT(DISTINCT k) FROM e5)
        |ORDER BY edge""".stripMargin)),

    // ---- weighted Bernoulli sampling (importance-weighted, stable) ----
    // Length-proportional document sampling: keep a doc with probability
    // n_chars/max(n_chars), decided by the content-addressed 48-bit hash
    // so the sample is identical on any cluster size, row order, or
    // re-run (the same split discipline as q62). The accept test is a
    // pure integer compare — h·maxw < w·2^48 — no floating point at all;
    // the max weight is a broadcast scalar. Both products run in
    // DECIMAL(38,0): h is up to 2^48−1, so the int64 form would wrap
    // (silently in Spark, an error in DuckDB) as soon as any weight
    // reaches 2^15 = 32768 — routine for real document lengths.
    QueryDef("q176_weighted_sample",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val big = DecimalType(38, 0)
        val mx = Tables.documents(s, dir).agg(max("n_chars").as("maxw"))
        Tables.documents(s, dir).crossJoin(broadcast(mx))
          .filter(h48(col("doc_id")).cast(big) * col("maxw")
            < col("n_chars").cast(big) * lit(1L << 48))
          .select("doc_id", "lang", "n_chars")
          .orderBy("doc_id")
      },
      Some(s"""WITH mx AS (SELECT MAX(n_chars) AS maxw FROM documents)
        |SELECT doc_id, lang, n_chars
        |FROM documents CROSS JOIN mx
        |WHERE CAST(${sqlH48("doc_id")} AS DECIMAL(38,0)) * maxw
        |      < CAST(n_chars AS DECIMAL(38,0))
        |        * (CAST(1 AS BIGINT) << 48)
        |ORDER BY doc_id""".stripMargin)),

    // ---- quantile normalization across sources ----
    // Batch-effect correction before mixing corpora: each document's
    // length is replaced by the GLOBAL length at the same quantile
    // position its length holds WITHIN its source — all sources then
    // share one length distribution. Pure integer rank arithmetic
    // (gpos = ⌈srk·N/n_src⌉ via exact integer ceil-division), so the
    // mapping is engine- and layout-independent.
    //
    // Scale shape — EXACT distributed ranking, no corpus-wide sort: all
    // ranks decompose through the (source, n_chars) census (bounded by
    // source count × the length domain, not by |docs|). A document's
    // source rank = docs-below-its-length offset (census cumsum) + its
    // doc_id rank WITHIN its (source, length) group — the only window
    // over the corpus partitions on that HIGH-cardinality pair. The
    // global value-at-rank lookup is a banded join against the ~|domain|
    // cumulative census (prev-cum < gpos ≤ cum picks exactly one row),
    // broadcast because it is domain-bounded. Ties share their length
    // value, so every decomposition is rank-for-rank identical to the
    // windowed formulation the oracle keeps.
    QueryDef("q185_quantile_normalize",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select("doc_id", "source", "n_chars")
        val cs = docs.groupBy("source", "n_chars")
          .agg(count(lit(1)).as("kc"))
          .pin() // tiny census; four consumers below
        // per-source cumulative counts: low-card partitions, but over the
        // CENSUS (domain-bounded), never over the corpus
        val csCum = cs.select(col("source").as("s2"), col("n_chars").as("c2"),
          (sum("kc").over(Window.partitionBy("source").orderBy("n_chars")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            - col("kc")).as("soff"))
        val srcTot = cs.groupBy("source").agg(sum("kc").as("n_src"))
        val cg = cs.groupBy("n_chars").agg(sum("kc").as("gkc"))
          .select(col("n_chars").as("gchars"), col("gkc"),
            sum("gkc").over(Window.orderBy("n_chars")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("ghi"))
          .select(col("gchars"), (col("ghi") - col("gkc")).as("glo"),
            col("ghi"))
        val n = cs.agg(sum("kc").as("n_tot"))
        docs
          .withColumn("wrk", row_number().over(
            Window.partitionBy("source", "n_chars").orderBy("doc_id")))
          .join(broadcast(csCum),
            col("source") === col("s2") && col("n_chars") === col("c2"))
          .join(broadcast(srcTot), "source")
          .crossJoin(broadcast(n))
          .withColumn("srk", col("soff") + col("wrk"))
          .withColumn("gpos", expr("(srk * n_tot + n_src - 1) div n_src"))
          .join(broadcast(cg),
            col("gpos") > col("glo") && col("gpos") <= col("ghi"))
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("gchars").as("norm_chars"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
        |  SELECT n_chars AS gchars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS grk
        |  FROM documents),
        |n AS (SELECT COUNT(*) AS n_tot FROM documents),
        |s AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS srk,
        |    COUNT(*) OVER (PARTITION BY source) AS n_src
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source, n_chars,
        |    (srk * n_tot + n_src - 1) // n_src AS gpos
        |  FROM s CROSS JOIN n)
        |SELECT m.doc_id, m.source, m.n_chars, g.gchars AS norm_chars
        |FROM m JOIN g ON m.gpos = g.grk
        |ORDER BY m.doc_id""".stripMargin)),

    // ---- population stability index (distribution drift monitor) ----
    // The ML-monitoring primitive: decile edges fitted on the reference
    // window (first half-month), both windows binned against those SAME
    // edges, per-bin PSI contribution (pₐ−p_b)·ln(pₐ/p_b) with Haldane
    // smoothing so empty bins stay finite. Edge fitting never sorts the
    // raw window: counts compress to the distinct value domain first
    // (events.value is 2-decimal by corpus fact — a BOUNDED domain at any
    // SF, guard-specced in Round6ESpec), the cumulative census runs over
    // that bounded table, and edge i = the least value whose cumulative
    // count reaches rank (i·n) div 10 — with ties grouped, identical to
    // the value at that exact rank under any tie order (the formulation
    // the oracle uses). The 9-edge table broadcasts into both binning
    // passes.
    QueryDef("q189_psi_drift",
      (s, dir) => {
        val cut = lit("2024-01-15").cast("timestamp")
        val ev = Tables.events(s, dir)
        val w1 = ev.filter(col("ts") < cut).select("event_id", "value")
        val w2 = ev.filter(col("ts") >= cut).select("event_id", "value")
        // the value census is read by the cumulative window AND the total:
        // pin the (tiny, domain-bounded) table once instead of re-scanning
        // the window twice
        val vc = w1.groupBy("value").agg(count(lit(1)).as("c"))
          .pin()
        // global window, but over the DISTINCT-value census only — the
        // single-partition sort is bounded by the value domain, not |rows|.
        // Values are unique here, so the explicit ROWS frame (the O(1)
        // running-sum path) equals the default RANGE frame.
        val cum = vc.select(col("value"),
          sum("c").over(Window.orderBy("value")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("cum"))
        val tot1 = vc.agg(sum("c").as("n"))
        val is = ev.sparkSession.range(1, 10)
          .select(col("id").cast("int").as("i"))
        // rank 0 (a reference window of fewer than 10 rows) must yield a
        // NULL edge — the oracle's MAX-over-no-rows semantics — not the
        // domain minimum; the k >= 1 guard inside the conditional keeps
        // all nine edge rows with exact parity at ANY window size
        val edges = cum.crossJoin(broadcast(is)).crossJoin(broadcast(tot1))
          .groupBy("i").agg(min(when(expr("(i * n) div 10 >= 1")
              && col("cum") >= expr("(i * n) div 10"), col("value")))
            .as("edge"))
        def bins(w: org.apache.spark.sql.DataFrame) = w
          .crossJoin(broadcast(edges))
          .groupBy("event_id")
          .agg(sum(when(col("value") > col("edge"), 1).otherwise(0))
            .cast("int").as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("c"))
        val c = bins(w1).toDF("bin", "ca")
          .join(bins(w2).toDF("bin2", "cb"),
            col("bin") === col("bin2"), "full_outer")
          .select(coalesce(col("bin"), col("bin2")).as("bin"),
            coalesce(col("ca"), lit(0L)).as("ca"),
            coalesce(col("cb"), lit(0L)).as("cb"))
        val tot = c.agg(sum("ca").as("na"), sum("cb").as("nb"))
        val pa = (col("ca") + 0.5d) / (col("na") + 5)
        val pb = (col("cb") + 0.5d) / (col("nb") + 5)
        c.crossJoin(broadcast(tot))
          .select(col("bin"), col("ca"), col("cb"),
            round((pa - pb) * log(pa / pb), 6).as("psi_contrib"))
          .orderBy("bin")
      },
      Some("""WITH w1 AS (SELECT event_id, value FROM events
        |  WHERE ts < TIMESTAMP '2024-01-15'),
        |w2 AS (SELECT event_id, value FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-15'),
        |r1 AS (SELECT value, row_number() OVER (ORDER BY value) AS rn,
        |         COUNT(*) OVER () AS n FROM w1),
        |edges AS (
        |  SELECT CAST(i AS INTEGER) AS i,
        |    MAX(CASE WHEN rn = (i * n) // 10 THEN value END) AS edge
        |  FROM r1 CROSS JOIN (SELECT unnest(range(1, 10)) AS i) g
        |  GROUP BY i),
        |b1 AS (
        |  SELECT e2.event_id,
        |    CAST(SUM(CASE WHEN e2.value > e.edge THEN 1 ELSE 0 END)
        |      AS INTEGER) AS bin
        |  FROM w1 e2 CROSS JOIN edges e GROUP BY e2.event_id),
        |b2 AS (
        |  SELECT e2.event_id,
        |    CAST(SUM(CASE WHEN e2.value > e.edge THEN 1 ELSE 0 END)
        |      AS INTEGER) AS bin
        |  FROM w2 e2 CROSS JOIN edges e GROUP BY e2.event_id),
        |c AS (
        |  SELECT COALESCE(c1.bin, c2.bin) AS bin,
        |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM (SELECT bin, COUNT(*) AS ca FROM b1 GROUP BY 1) c1
        |  FULL OUTER JOIN (SELECT bin, COUNT(*) AS cb FROM b2 GROUP BY 1) c2
        |    ON c1.bin = c2.bin),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |               CAST(SUM(cb) AS BIGINT) AS nb FROM c)
        |SELECT bin, ca, cb,
        |  round(((ca + CAST(0.5 AS DOUBLE)) / (na + 5)
        |      - (cb + CAST(0.5 AS DOUBLE)) / (nb + 5))
        |    * ln(((ca + CAST(0.5 AS DOUBLE)) / (na + 5))
        |      / ((cb + CAST(0.5 AS DOUBLE)) / (nb + 5))), 6) AS psi_contrib
        |FROM c CROSS JOIN tot
        |ORDER BY bin""".stripMargin)),

    // ---- contrastive negative sampling (training-pair synthesis) ----
    // For every near-dup positive pair (i, j), mint two deterministic
    // negatives for anchor i: candidate = stable-hash(i, j, slot) mod N,
    // rejected (not resampled — determinism over exact count) when it
    // equals the anchor or collides with a known positive in either
    // orientation. Content-addressed like every sampler here: identical
    // pairs on any cluster size, layout, or re-run. The positive set is
    // checkpointed once; negatives are two anti-joins on the (tiny)
    // positive list — no corpus shuffle at all.
    QueryDef("q203_negative_sampling",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pos = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
          .select("i", "j").pin()
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val slots = s.range(1, 3).select(col("id").cast("int").as("neg_slot"))
        val cand = pos.crossJoin(broadcast(slots))
          .crossJoin(broadcast(nDocs))
          .select(col("i"), col("neg_slot"),
            (h48(concat(col("i").cast("string"), lit("_"),
              col("j").cast("string"), lit("_"),
              col("neg_slot").cast("string"))) % col("n_docs")).as("neg"))
        cand.filter(col("neg") =!= col("i"))
          .join(pos.toDF("pi", "pj"),
            col("i") === col("pi") && col("neg") === col("pj"), "left_anti")
          .join(pos.toDF("pi2", "pj2"),
            col("neg") === col("pi2") && col("i") === col("pj2"),
            "left_anti")
          .select("i", "neg_slot", "neg")
          .orderBy("i", "neg_slot", "neg")
      },
      Some("""WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]
        |    for i in range(1, len(w)-1)]) ds
        |  FROM docs),
        |ex AS (SELECT doc_id, unnest(ds) AS s, len(ds) AS n
        |       FROM sh WHERE len(ds) > 0),
        |pairs AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter,
        |    any_value(a.n) AS na, any_value(b.n) AS nb
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pos AS (SELECT i, j FROM pairs
        |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5),
        |nn AS (SELECT COUNT(*) AS n_docs FROM documents),
        |cand AS (
        |  SELECT p.i, k.k AS neg_slot,
        |    CAST(('0x' || substr(md5(CAST(p.i AS VARCHAR) || '_'
        |      || CAST(p.j AS VARCHAR) || '_' || CAST(k.k AS VARCHAR)),
        |      1, 12)) AS BIGINT) % n_docs AS neg
        |  FROM pos p
        |  CROSS JOIN (SELECT CAST(unnest(range(1, 3)) AS INTEGER) AS k) k
        |  CROSS JOIN nn)
        |SELECT c.i, c.neg_slot, c.neg FROM cand c
        |WHERE c.neg <> c.i
        |  AND NOT EXISTS (SELECT 1 FROM pos p2
        |    WHERE (p2.i = c.i AND p2.j = c.neg)
        |       OR (p2.i = c.neg AND p2.j = c.i))
        |ORDER BY i, neg_slot, neg""".stripMargin)),

    // ---- mixture rebalance: per-source repeat schedule (epochs) ----
    // The data-mixing step before pretraining: rebalance a skewed source
    // mix to a uniform per-source token share. Target tokens per source =
    // total/n_sources; epochs = target/tokens_s held as EXACT integer
    // micro-units (one integer division — no double ever enters, so no
    // rounding to diverge on). A source above its share gets epochs < 1
    // (downsampling), below gets > 1 (repetition). The fractional epoch is
    // realized per document, content-addressed: doc d gets an extra repeat
    // iff h48(d) mod 1e6 < frac_micro — a pure function of identity, so
    // any cluster size or re-run plans the same repeats (same discipline
    // as the q62 split), and the realized token count concentrates tightly
    // around the target. Output is the per-source audit: planned docs and
    // tokens after the schedule. Plan shape: two tiny aggregates (sources
    // ~ handfuls) broadcast back over one corpus map — no corpus shuffle
    // beyond the per-source count itself.
    QueryDef("q211_mixture_rebalance",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("source"), col("doc_id"),
            size(split(col("text"), " ", -1)).as("tok"))
        // the per-source census feeds the totals AND the schedule; lazy it
        // re-scanned the corpus per consumer (3 document scans in the r20
        // plan dump). Pin the handful-of-rows table once (guide §1.2);
        // the final per-doc map below keeps its map-side corpus scan.
        val src = docs.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"))
          .pin()
        val tot = src.agg(sum("tokens").as("total_tokens"),
          count(lit(1)).as("n_sources"))
        val sched = src.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("tokens"),
            expr("(total_tokens div n_sources) * 1000000 div tokens")
              .as("epochs_micro"))
        docs.join(broadcast(sched), "source")
          .select(col("source"), col("n_docs"), col("tokens"),
            col("epochs_micro"), col("tok"),
            (expr("epochs_micro div 1000000")
              + when(h48(col("doc_id")) % 1000000L
                  < col("epochs_micro") % 1000000L, 1L).otherwise(0L))
              .as("rep"))
          .groupBy("source")
          .agg(min("n_docs").as("n_docs"), min("tokens").as("tokens"),
            min("epochs_micro").as("epochs_micro"),
            sum(when(col("rep") > expr("epochs_micro div 1000000"), 1L)
              .otherwise(0L)).as("n_extra"),
            sum(col("rep")).as("planned_docs"),
            sum(col("rep") * col("tok")).as("planned_tokens"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS tok
        |  FROM documents),
        |src AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(tok) AS BIGINT) AS tokens
        |  FROM d GROUP BY source),
        |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
        |    COUNT(*) AS n_sources FROM src),
        |sched AS (SELECT source, n_docs, tokens,
        |    ((total_tokens // n_sources) * 1000000) // tokens
        |      AS epochs_micro
        |  FROM src CROSS JOIN tot),
        |rep AS (
        |  SELECT d.source, s.n_docs, s.tokens, s.epochs_micro, d.tok,
        |    s.epochs_micro // 1000000
        |      + CASE WHEN ${sqlH48("d.doc_id")} % 1000000
        |          < s.epochs_micro % 1000000 THEN 1 ELSE 0 END AS rep
        |  FROM d JOIN sched s ON d.source = s.source)
        |SELECT source, MIN(n_docs) AS n_docs, MIN(tokens) AS tokens,
        |  MIN(epochs_micro) AS epochs_micro,
        |  CAST(SUM(CASE WHEN rep > epochs_micro // 1000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_extra,
        |  CAST(SUM(rep) AS BIGINT) AS planned_docs,
        |  CAST(SUM(rep * tok) AS BIGINT) AS planned_tokens
        |FROM rep GROUP BY source
        |ORDER BY source""".stripMargin)),

    // ---- leakage-safe train/valid/test split (cluster-granular) ----
    // q62 splits per document — but near-duplicate documents split apart
    // leak training text into the test set, the classic eval
    // contamination bug. This split assigns at NEAR-DUP-CLUSTER
    // granularity: connected components over the q32 Jaccard pair graph
    // (singletons keep their own id as the group), then the
    // content-addressed 80/10/10 hash split ON THE GROUP KEY — every
    // cluster lands whole in exactly one split, on any cluster size,
    // layout, or re-run. Output is the per-split census; the
    // no-straddling property is structural (split is a pure function of
    // grp) and spec-asserted on the pair endpoints. Scale shape: pairs
    // and CC are the q65 machinery (blocked, checkpoint-bounded); the
    // label join is the q103 guarded broadcast shape; the split itself
    // adds zero shuffles beyond the final census aggregate.
    QueryDef("q215_leakage_safe_split",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        val (labels, nLabels) = Dedup.connectedComponentsCounted(pairs)
        val lab = guardedBroadcast(labels, nLabels) // see the helper's contract
        val grouped = docs
          .join(lab, docs("doc_id") === labels("id"), "left")
          .select(col("doc_id"), col("n_chars"),
            coalesce(col("label"), col("doc_id")).as("grp"))
        val bucket = h48(col("grp")) % 100
        grouped
          .withColumn("split", when(bucket < 80, "train")
            .when(bucket < 90, "valid").otherwise("test"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("grp")).as("n_groups"),
            sum("n_chars").as("total_chars"))
          .orderBy("split")
      },
      Some(s"""WITH RECURSIVE $ccOracleCte,
        |dl AS (
        |  SELECT d.doc_id, d.n_chars, COALESCE(c.label, d.doc_id) AS grp
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |sp AS (
        |  SELECT doc_id, n_chars, grp,
        |    CASE WHEN ${sqlH48("grp")} % 100 < 80 THEN 'train'
        |         WHEN ${sqlH48("grp")} % 100 < 90 THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM dl)
        |SELECT split, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT grp) AS n_groups,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM sp GROUP BY split
        |ORDER BY split""".stripMargin)),

    // ---- importance-based data selection toward a target (DSIR-shaped) --
    // The selection family's missing member next to split/stratified/
    // weighted/negative sampling: score each candidate document by its
    // log-likelihood ratio under the target vs the rest (add-one-smoothed
    // unigram features — the hashed-n-gram importance-resampling recipe,
    // with the feature table kept exact instead of hashed at this
    // vocabulary), then keep the top 10% by (score DESC, doc_id ASC).
    // Target = source 'src0'; pool = everything else. Exactness
    // discipline: per-token weights are pure IEEE divisions (identical in
    // both engines), per-doc scores accumulate through dsum (decimal-6 —
    // the q172 ln() treatment), ranking compares the UNROUNDED dsum
    // doubles, and the quota is integer arithmetic ((total+9) div 10).
    // Scale shape: the token→weight join is a shuffle equi-join on the
    // token (weights are V rows — broadcastable by AQE); the global
    // top-quota window ranks |pool| (doc_id, score) rows — the selection
    // STATE, not the corpus; at 100 TB swap the window for a score
    // threshold from an approx quantile and the rest is unchanged.
    QueryDef("q229_dsir_selection",
      (s, dir) => {
        val scored = dsirScores(s, dir)
        val win = Window.orderBy(col("score_raw").desc, col("doc_id").asc)
        scored
          .withColumn("rn", row_number().over(win))
          .withColumn("total", count(lit(1)).over(
            Window.partitionBy(lit(1))))
          .filter(col("rn") <= expr("(total + 9) div 10"))
          .select(col("doc_id"), col("source"),
            round(col("score_raw"), 6).as("score"), col("rn"))
          .orderBy("rn")
      },
      Some(s"""WITH $dsirScoreCtes,
        |rk AS (
        |  SELECT doc_id, source, score_raw,
        |    ROW_NUMBER() OVER (ORDER BY score_raw DESC, doc_id ASC) AS rn,
        |    COUNT(*) OVER () AS total
        |  FROM scored)
        |SELECT doc_id, source, round(score_raw, 6) AS score,
        |  CAST(rn AS INTEGER) AS rn
        |FROM rk WHERE rn <= (total + 9) // 10
        |ORDER BY rn""".stripMargin)),

    // ---- DSIR selection under a PER-SOURCE quota (the 100 TB swap) ----
    // q229's scaladoc documents its one scale caveat: the global
    // top-10% window ranks the whole selection state through ONE sort.
    // This is the documented swap as a tested operator instead of a
    // comment (r13 verdict #8): identical scoring (one definition —
    // dsirScores / dsirScoreCtes, so the pair cannot drift), but the
    // quota applies WITHIN each source — rank and census are
    // per-source-partitioned windows, so every sort is bounded by its
    // source's rows and sources rank in parallel across the cluster; no
    // global single-partition sort exists in the plan. Per-source quotas
    // are also what a mixture-balancing ingest actually wants: the
    // global quota lets one high-affinity source crowd out the rest,
    // the per-source quota preserves the pool's source mixture.
    QueryDef("q243_dsir_per_source_quota",
      (s, dir) => {
        val scored = dsirScores(s, dir)
        val win = Window.partitionBy("source")
          .orderBy(col("score_raw").desc, col("doc_id").asc)
        scored
          .withColumn("rn", row_number().over(win))
          .withColumn("total", count(lit(1)).over(
            Window.partitionBy("source")))
          .filter(col("rn") <= expr("(total + 9) div 10"))
          .select(col("doc_id"), col("source"),
            round(col("score_raw"), 6).as("score"), col("rn"))
          .orderBy("source", "rn")
      },
      Some(s"""WITH $dsirScoreCtes,
        |rk AS (
        |  SELECT doc_id, source, score_raw,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY score_raw DESC, doc_id ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS total
        |  FROM scored)
        |SELECT doc_id, source, round(score_raw, 6) AS score,
        |  CAST(rn AS INTEGER) AS rn
        |FROM rk WHERE rn <= (total + 9) // 10
        |ORDER BY source, rn""".stripMargin)),

    // ---- incremental CC maintenance (label state + a delta of new pairs) --
    // The q79 analog for the COMPONENT graph: q79 screens an incoming batch
    // for pair hits, but a dedup pipeline's durable state is the LABEL
    // table, and re-running full CC over 100 TB of accumulated pairs per
    // ingest is the rebuild trap. Incremental step: (1) new pairs = within-
    // batch + cross corpus↔batch (both inverted-index joins, never
    // all-pairs); (2) collapse each endpoint through the persisted labels
    // (absent → itself) — an old component enters the delta graph as ONE
    // node, its label; (3) run CC on that collapsed delta (tiny: |delta
    // edges|, not |corpus|); (4) re-label: final = delta label of the old
    // label where present, else unchanged. Min-label canonicality makes
    // this EXACTLY the full rebuild: a persisted label is the min id of
    // its members, so min over {old labels ∪ new ids} in a merged
    // component IS the global min id — proven by the oracle being the
    // full-graph reachability closure (q65's), hash-checked. Components
    // untouched by the delta never move (their labels are absent from the
    // delta graph) — the work per ingest scales with the delta, not the
    // corpus.
    QueryDef("q232_incremental_cc",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val isNew = col("doc_id") % 5 === 0
        val oldDocs = docs.filter(!isNew)
        val newDocs = docs.filter(isNew)
        // the persisted label state (in production: a parquet table)
        val oldLabels = Dedup.connectedComponents(
            Dedup.ngramJaccardPairs(oldDocs, "doc_id", "text", 3, 0.5))
          .pin()
        // delta pairs: within-batch + cross corpus↔batch; materialized once
        // (both union branches and both collapse joins re-read it)
        val newPairs = Dedup
          .ngramJaccardPairs(newDocs, "doc_id", "text", 3, 0.5)
          .select("i", "j")
          .unionByName(Dedup
            .crossCorpusJaccardPairs(oldDocs, newDocs, "doc_id", "text",
              3, 0.5)
            .select("i", "j"))
          .pin()
        val collapsed = newPairs
          .join(oldLabels.select(col("id").as("i"), col("label").as("li")),
            Seq("i"), "left")
          .join(oldLabels.select(col("id").as("j"), col("label").as("lj")),
            Seq("j"), "left")
          .select(coalesce(col("li"), col("i")).as("i"),
            coalesce(col("lj"), col("j")).as("j"))
        val delta = Dedup.connectedComponents(collapsed)
          .select(col("id").as("dl"), col("label").as("nlabel"))
        // nodes = labeled corpus ∪ delta endpoints not yet labeled
        val fresh = newPairs.select(col("i").as("id"))
          .unionAll(newPairs.select(col("j").as("id"))).distinct()
          .join(oldLabels, Seq("id"), "left_anti")
          .select(col("id"), col("id").as("label"))
        oldLabels.unionByName(fresh)
          .join(delta, col("label") === col("dl"), "left")
          .select(col("id"),
            coalesce(col("nlabel"), col("label")).as("label"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_members"),
            sum((col("id") % 5 === 0).cast("long")).as("n_new_members"),
            max(col("id")).as("max_id"))
          .orderBy("label")
      },
      Some(s"""WITH RECURSIVE $ccOracleCte
        |SELECT label, COUNT(*) AS n_members,
        |  CAST(SUM(CASE WHEN id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new_members,
        |  max(id) AS max_id
        |FROM comp
        |GROUP BY label
        |ORDER BY label""".stripMargin)),

    // ---- the incremental-CC LABEL-UPDATE set itself, oracle-checked ----
    // q232 verifies the post-ingest COMPONENT TABLE (the corpus-sized
    // relabel — an oracle-output shape); this verifies the DELTA-SIZED
    // WRITE a production step actually persists: Dedup's changed ∪ fresh
    // ∪ singles update set against the persisted postings/sizes/labels
    // state (the seam Round13Spec pins; its fixed-delta step times are
    // archived in bench/scale_sweep_r13/iC_*.json). The
    // DuckDB twin derives the same set from two reachability closures —
    // corpus-only (o_comp = the persisted labels) and full (comp = the
    // rebuild): changed = ids whose closure label moved, fresh = ids the
    // full closure labels that the corpus one didn't (endpoints pulled in
    // by new pairs), singles = batch docs in no pair at all, self-labeled.
    // Min-label canonicality makes the two formulations provably equal
    // (q232's argument); this query makes the equality HASH-CHECKED.
    QueryDef("q240_incremental_cc_updates",
      (s, dir) => graft.util.Pin.scope { pins =>
        val docs = Tables.documents(s, dir)
        val isNew = col("doc_id") % 5 === 0
        val oldDocs = docs.filter(!isNew)
        // the persisted state (in production: parquet tables)
        val postings = pins(Dedup.ngramPostings(oldDocs, "doc_id", "text", 3))
        val sizes = Dedup.ngramPostingSizes(postings)
        // the label state rebuilds from the persisted index, not by
        // re-shingling the corpus (ngramJaccardPairsFromPostings ≡
        // ngramJaccardPairs, spec-pinned) — one shingle pass total
        val labels = pins(pins.adopt(Dedup.connectedComponents(
          Dedup.ngramJaccardPairsFromPostings(postings, sizes, 0.5))))
        val bp = pins(
          Dedup.ngramPostings(docs.filter(isNew), "doc_id", "text", 3))
        val newPairs = pins(Dedup.incrementalCcPairsFromPostings(postings,
          sizes, bp, 0.5))
        // the scope keeps only the pinned result's own pins
        pins.adopt(Dedup.incrementalCcLabelUpdates(labels, newPairs,
            docs.filter(isNew).select(col("doc_id").as("id"))))
          .orderBy("id").pin()
      },
      Some(s"""WITH RECURSIVE ${ccCtesFor("o_", "doc_id % 5 <> 0")},
        |${ccCtesFor("", "TRUE")},
        |upd AS (
        |  SELECT o.id, c.label FROM o_comp o JOIN comp c ON o.id = c.id
        |  WHERE c.label <> o.label
        |  UNION ALL
        |  SELECT c.id, c.label FROM comp c
        |  LEFT JOIN o_comp o ON c.id = o.id WHERE o.id IS NULL
        |  UNION ALL
        |  SELECT d.doc_id AS id, d.doc_id AS label FROM documents d
        |  WHERE d.doc_id % 5 = 0
        |    AND d.doc_id NOT IN (SELECT id FROM comp))
        |SELECT id, label FROM upd ORDER BY id""".stripMargin)),

    // ---- STREAMING incremental-CC maintenance, end to end (r13 #6) ----
    // q240 oracle-checks ONE label-update write; this runs the whole
    // maintenance loop AS A STREAM. The ingest arrives as a multi-epoch
    // file stream (3 staged files, maxFilesPerTrigger=1); each
    // foreachBatch epoch runs the store step against the CURRENT
    // persisted state: delta pairs (within-batch ∪ cross-corpus via the
    // posting index), the changed ∪ fresh ∪ singles label-update set, an
    // idempotent per-epoch delta write, then the posting/size deltas so
    // the NEXT epoch screens against corpus ∪ all prior epochs.
    // Batch-boundary independence: the Round13Spec step ≡ rebuild
    // equivalence holds at every state the induction visits (a
    // self-labeled singleton collapses identically to an unlabeled
    // endpoint), so the final label table equals the full rebuild
    // regardless of how the ingest splits — which makes it
    // SQL-oracle-able: full-closure components ∪ self-labels for streamed
    // docs that never pair. Flat postings, no kill, and the default fold
    // cadence (no fold in 3 epochs): the plainest run of the store.
    QueryDef.demo("q242_stream_cc_maintenance",
      (s, dir, reduced) => ccStoreLoopRun(s, Tables.documents(s, dir), k = 3,
        nBuckets = 0, kill = false, midStreamFolds = false, reduced),
      Some(ccStreamOracle),
      // at bench depth this is the same one-trigger flat store stream as
      // q252 (whose kill leg only runs at full depth), so the default
      // bench tier skips the duplicate (r17 verdict #6)
      benchSkip = true),

    // ---- RESTART-RESUME for the streaming maintenance loop (r14 #1) ----
    // q242's loop with a REAL checkpointLocation, killed mid-epoch-1 —
    // after the update delta commits but BEFORE the posting/size deltas
    // do, the nastiest partial-commit point — then restarted from the
    // checkpoint on a FRESH SESSION: the file source re-delivers the
    // failed epoch (same batch id, same file), the step recomputes from
    // state strictly below it, and every write is an epoch-keyed
    // overwrite, so the re-run converges to the uninterrupted answer.
    // Round15Spec pins killed+restarted ≡ uninterrupted q242; the oracle
    // is q242's (full closure ∪ batch-singleton self-labels).
    QueryDef.demo("q252_stream_cc_restart_resume",
      (s, dir, reduced) => ccStoreLoopRun(s, Tables.documents(s, dir), k = 3,
        nBuckets = 0, kill = true, midStreamFolds = false, reduced),
      Some(ccStreamOracle)),

    // ---- the PRODUCTION-SHAPED maintenance loop: restartable AND
    // delta-read-sized ----
    // q252 proved restart-resume over the FLAT posting state; the r15
    // win-regime measurement (SCALING.md: bucket-pruned 3.72 s vs compact
    // 60.4 s once the state outgrows a single scan) says the 100 TB state
    // must be BUCKETED. Here the posting generations land hive-partitioned
    // by bucket = pmod(sk, 64), every epoch's probe prunes to the batch's
    // bucket set AT THE SCAN — the q244 invariance argument per
    // generation — and the same mid-epoch-1 kill + fresh-session restart
    // runs on top. Result must equal q242/q252 exactly (pruned buckets
    // hold no batch key; the bucket dimension is invisible to the pairs),
    // so the oracle is theirs, shared.
    QueryDef.demo("q260_stream_cc_bucketed_restart",
      (s, dir, reduced) => ccStoreLoopRun(s, Tables.documents(s, dir), k = 3,
        nBuckets = 64, kill = true, midStreamFolds = false, reduced),
      Some(ccStreamOracle)),

    // ---- the maintenance loop with folds and GC firing MID-STREAM ----
    // q260's bucketed, killed run with threshold-triggered folds forced
    // to fire inside the stream (maxPostingGens=0 folds postings at every
    // epoch, so epoch 2's probe reads ACROSS a fold boundary;
    // maxLabelDeltas=1 folds labels once, at epoch 2); GC runs as the
    // gcAfterFold POLICY inside the stream, sweeping what each fold
    // retired while later epochs still probe the store — so the oracle
    // hash also pins fold and mid-stream GC view-invariance (and the loop
    // require()s both folds fired and a post-stream sweep finds nothing
    // left). (Round16Spec adds the separate-PROCESS restart.) Labels are
    // bitwise the q242/q252/q260 answer — the oracle is theirs, shared.
    QueryDef.demo("q261_stream_cc_store_fold_gc",
      (s, dir, reduced) => ccStoreLoopRun(s, Tables.documents(s, dir), k = 3,
        nBuckets = 64, kill = true, midStreamFolds = true, reduced),
      Some(ccStreamOracle)),

    // ---- MODALITY-BLIND maintenance: the media ingest runs the SAME
    // v2 store loop (r15 verdict #7) ----
    // Media dedup evidence is the frame-segment set (q143/q190/q255:
    // 16-byte payload frames, content-addressed by md5). Re-expressing a
    // media object as a "document" whose text is its sorted distinct
    // frame digests makes the k=1 word-shingle set EXACTLY the frame set
    // — so the streaming screen→postings→CC maintenance loop, with
    // bucketed generations, delta labels, folds, GC, kill and
    // fresh-session restart, is the byte-identical ccStoreLoopRun code
    // path as q261; only the corpus prep differs. No codecs needed: the
    // frame segmentation is the real Spark plumbing (the decode stays a
    // stub per the sandbox contract, q40). Docs with no frames (empty
    // payload) carry no dedup evidence and are out of the screen's scope
    // on BOTH sides (the "" token would otherwise alias all of them into
    // one fake component).
    QueryDef.demo("q262_stream_media_cc_maintenance",
      (s, dir, reduced) => {
        import graft.ext.Multimodal
        val ftext = Multimodal.frames(
            Multimodal.asMedia(Tables.documents(s, dir)), frameBytes = 16)
          .groupBy("media_id")
          .agg(concat_ws(" ", sort_array(collect_set(col("frame_md5"))))
            .as("text"))
          .select(col("media_id").as("doc_id"), col("text"))
        ccStoreLoopRun(s, ftext, k = 1, nBuckets = 16, kill = true,
          midStreamFolds = true, reduced)
      },
      Some("""WITH RECURSIVE f AS (
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
        |jp AS (
        |  SELECT c.i, c.j FROM cand c
        |  JOIN sz x ON c.i = x.i JOIN sz y ON c.j = y.i
        |  WHERE CAST(inter AS DOUBLE) / (x.na + y.na - inter) >= 0.5),
        |edges AS (SELECT i AS src, j AS dst FROM jp
        |  UNION ALL SELECT j, i FROM jp),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN edges e
        |    ON reach.r = e.src),
        |comp AS (SELECT id, min(r) AS label FROM reach GROUP BY id),
        |fin AS (
        |  SELECT id, label FROM comp
        |  UNION ALL
        |  SELECT d.doc_id AS id, d.doc_id AS label FROM documents d
        |  WHERE d.doc_id % 5 = 0 AND length(d.text) > 0
        |    AND d.doc_id NOT IN (SELECT id FROM comp))
        |SELECT id, label FROM fin ORDER BY id""".stripMargin)),

    // ---- deterministic balanced shard layout ----
    // The tail of the training-data pipeline: distribute the curated
    // corpus into N output shards so every shard carries ~equal token
    // mass (data-parallel readers consume one shard each — an unbalanced
    // layout idles every worker behind the fattest shard). Greedy
    // bin-packing is inherently sequential; the scalable deterministic
    // equivalent is size-sorted serpentine striping: rank docs by
    // (n_tok DESC, doc_id), lay rank r into shard r%N on even passes and
    // N-1-r%N on odd passes (boustrophedon — each N-row pass hands every
    // shard exactly one doc, alternating direction so the big-doc end
    // doesn't always land on shard 0). The global rank is NOT a global
    // single-partition window (the q229 trap): token counts are small
    // integers, so rank = census-prefix offset (a window over CENSUS
    // rows only) + row_number partitioned BY the token count — the q243/
    // q247 two-pass discipline; every per-value partition is modest and
    // the census is grid-bounded. All-integer → the oracle is the same
    // arithmetic verbatim. Round14Spec audits the balance claim (doc
    // counts exact ±0, token spread ≤ largest doc on the fixture).
    QueryDef("q249_balanced_shards",
      (s, dir) => serpentineShards(s, dir, 8).orderBy("doc_id"),
      Some(serpentineOracleSql)),

    // ---- the shard layout LANDED ON DISK (r14 verdict #6) -------------
    // q249 computes shard ids; this writes them as the physical layout
    // they exist for — `partitionBy("shard")` parquet, one file per shard
    // dir (repartition on the partition column), so N data-parallel
    // readers each consume exactly one directory and a shard-filtered
    // read prunes to its dir at the scan (the q82 lever; Round15Spec
    // asserts the pruning via the scan's numFiles metric and re-audits
    // the balance claim on the READ-BACK). The registry result is the
    // full read-back — the disk round trip must be content-preserving, so
    // the oracle IS q249's. The partition column comes back
    // directory-inferred (INT) and last; the select restores q249's
    // column order and BIGINT type.
    QueryDef("q254_balanced_shards_written",
      (s, dir) => {
        val root = java.nio.file.Files
          .createTempDirectory("graft_shards_disk").toString
        try {
          serpentineShards(s, dir, 8)
            .repartition(col("shard"))
            .write.mode("overwrite").partitionBy("shard")
            .parquet(s"$root/shards")
          s.read.parquet(s"$root/shards")
            .select(col("doc_id"), col("n_tok"), col("r"),
              col("shard").cast("long").as("shard"))
            .orderBy("doc_id")
            .pin() // materialize before the dir is deleted
        } finally {
          graft.util.Dirs.rmTree(root)
        }
      },
      Some(serpentineOracleSql)),

    // ---- the round-14 curation TAIL as one composed pipeline ----
    // q200/q213's composition discipline applied to this round's
    // operators: per-source adaptive quality cut (q247) → duplicated-span
    // excision WITHIN the curated pool (q250 — dup grams are re-censused
    // over survivors, the correct post-cut semantics) → serpentine shard
    // striping on the SCRUBBED token mass (q249 on n_kept, not raw
    // length). Fully-scrubbed docs (n_kept = 0) drop out, as production
    // would drop empty docs. Each stage keeps its proven scale shape
    // (census windows, broadcast cut/offset tables, token-level
    // anti-join); composing them adds no new shuffle class. Only counts
    // and shard ids ride to the output — all-integer, so the oracle is
    // the three verified CTE blocks nested verbatim.
    QueryDef("q251_curation_tail_pipeline",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
        // stage 1: per-source top-quintile cut (q247's exact shape)
        val scored = docs.select(col("doc_id"), col("source"), col("text"),
          qualityMicro.as("q_micro"))
        val qCensus = scored.groupBy("source", "q_micro")
          .agg(count(lit(1)).as("c"))
        val cuts = censusQuintileCuts(qCensus)
        // the curated pool feeds THREE downstream passes (the gram build
        // twice via `g`, the size table once); lazy it recomputed the
        // quality score + scan per pass (12 document scans in the r20
        // plan dump — exchange reuse does not fire across the branches).
        // Materialize survivors ONCE — exactly what the landed tails
        // (q267/q269) do with this pool on disk; swap checkpoint() for
        // localCheckpoint at cluster scale. Bit-identical result.
        val kept = scored.join(broadcast(cuts), "source")
          .filter(col("q_micro") >= col("cut_micro"))
          .pin()
        // stage 2: span scrub over the curated pool (q250's shape,
        // reduced to counts — the layout needs masses, not text)
        val toks = kept
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
        // the gram table feeds the dup census AND the coverage join: pin
        // the one 8-gram explode (production hashes gram keys into a
        // posting table — ngramPostings — which IS this materialization;
        // the demo keeps strings for oracle exactness)
        // native one-pass gram extraction (WordGrams) instead of the
        // interpreted transform+slice+array_join lambda per gram — same
        // grams, same 1-based positions (r20, guide per-task work)
        val g = kept
          .select(col("doc_id"), posexplode(graft.functions.TextExpressions
            .wordGrams(col("text"), 8)).as(Seq("g0", "gram")))
          .select(col("doc_id"), (col("g0") + 1).as("i"), col("gram"))
          .pin()
        val dup = g.groupBy("gram")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select("gram")
        val nCov = g.join(dup, "gram")
          .select(col("doc_id"), explode(sequence(col("i"), col("i") + 7)).as("p"))
          .distinct()
          .groupBy("doc_id").agg(count(lit(1)).as("n_cov"))
        val sized = toks
          .select(col("doc_id"), col("source"),
            size(col("t")).cast("long").as("n_tok"))
          .join(nCov, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"),
            (col("n_tok") - coalesce(col("n_cov"), lit(0L))).as("n_kept"))
          .filter(col("n_kept") >= 1)
        // stage 3: serpentine striping on the scrubbed mass (q249's shape)
        censusOffsetRank(sized, "n_kept", Seq("doc_id"))
          .withColumn("shard", serpentineShardExpr("r", 8))
          .select("doc_id", "source", "n_kept", "r", "shard")
          .orderBy("doc_id")
      },
      Some("""WITH q AS (SELECT doc_id, source,
        |  CAST(floor((0.4 * least(1.0, len(string_split(text, ' ')) / 50.0)
        |    + 0.3 * (1.0 - len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) / CAST(len(string_split(text, ' ')) AS DOUBLE))
        |    + 0.3 * least(1.0, (length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 6.0)) * 1e6 + 0.5) AS BIGINT) AS q_micro
        |  FROM documents),
        |qc AS (SELECT source, q_micro, COUNT(*) AS c FROM q GROUP BY 1, 2),
        |cum AS (
        |  SELECT source, q_micro,
        |    SUM(c) OVER (PARTITION BY source ORDER BY q_micro DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY source) AS n
        |  FROM qc),
        |cuts AS (
        |  SELECT source,
        |    MAX(CASE WHEN cum >= (n + 4) // 5 THEN q_micro END) AS cut_micro
        |  FROM cum GROUP BY source),
        |toks AS (
        |  SELECT d.doc_id, d.source, string_split(d.text, ' ') AS t
        |  FROM documents d JOIN q USING (doc_id) JOIN cuts c ON q.source = c.source
        |  WHERE q.q_micro >= c.cut_micro),
        |g AS (
        |  SELECT doc_id, i, array_to_string(list_slice(t, i, i + 7), ' ') AS gram
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i)
        |  WHERE len(t) >= 8),
        |dup AS (SELECT gram FROM g GROUP BY gram
        |        HAVING COUNT(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT DISTINCT g.doc_id, g.i + d AS p
        |  FROM g JOIN dup USING (gram),
        |       LATERAL (SELECT unnest(range(0, 8)) AS d)),
        |ncov AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cov
        |         FROM cov GROUP BY doc_id),
        |sized AS (
        |  SELECT t.doc_id, t.source,
        |    CAST(len(t.t) AS BIGINT) - COALESCE(n.n_cov, 0) AS n_kept
        |  FROM toks t LEFT JOIN ncov n USING (doc_id)
        |  WHERE CAST(len(t.t) AS BIGINT) - COALESCE(n.n_cov, 0) >= 1),
        |mc AS (SELECT n_kept, COUNT(*) AS c FROM sized GROUP BY n_kept),
        |off AS (
        |  SELECT n_kept, CAST(SUM(c) OVER (ORDER BY n_kept DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
        |    AS BIGINT) AS off
        |  FROM mc),
        |ranked AS (
        |  SELECT s.doc_id, s.source, s.n_kept,
        |    o.off + ROW_NUMBER() OVER (PARTITION BY s.n_kept
        |      ORDER BY s.doc_id) AS r
        |  FROM sized s JOIN off o USING (n_kept))
        |SELECT doc_id, source, n_kept, r,
        |  CAST(CASE WHEN ((r - 1) // 8) % 2 = 0 THEN (r - 1) % 8
        |       ELSE 7 - (r - 1) % 8 END AS BIGINT) AS shard
        |FROM ranked ORDER BY doc_id""".stripMargin)),

    // ---- the curation tail INCREMENTAL, composed on the v2 store ----
    // q251 runs quality-cut → shard layout as one batch over the corpus;
    // this is the production leg the r16 verdict named as the last
    // missing composition: per-epoch ingest maintained incrementally, a
    // training snapshot CUT as a serve-time view. The q233/q261
    // discipline, applied to curation state, on the ccStoreLoopRun body:
    //   - dedup labels: the existing v2 CC store (Streams.ccStoreStep —
    //     delta-sized update writes, merge-on-read view, mid-stream
    //     folds + GC), byte-identical code path to q261;
    //   - quality census: curationSidecar's census GenStore — each
    //     epoch's write is CENSUS-OF-BATCH-sized, the serve-time cut
    //     reads ONLY census state (grid-bounded, never the corpus);
    //   - scored docs: its rows store, per-epoch (doc_id, source,
    //     q_micro, n_tok) deltas.
    // The SERVE is one pass: survivors = merge-on-read labels filtered
    // to min-id cluster reps (label NULL = never saw an edge; label =
    // doc_id = its component's representative) ⋈ broadcast census cut →
    // serpentine striping via the census-offset rank (q249's shape — no
    // corpus-wide single-partition window). Global shard ranks shift as
    // the corpus grows, so the LAYOUT is inherently a snapshot view —
    // the incremental claim is about per-epoch STATE maintenance, and
    // the oracle pins exactly that: the batch pipeline over the
    // accumulated corpus (batch-boundary independence). No kill/restart
    // leg here — q261/q262 + Round16Spec own the restart proof; this
    // query's claim is the composition, at one stream's cost.
    QueryDef.demo("q263_stream_incremental_curation",
      (s, dir, reduced) => ccStoreLoopRun(s, Tables.documents(s, dir), k = 3,
        nBuckets = 64, kill = false, midStreamFolds = true, reduced,
        staged = Seq("doc_id", "source", "text"),
        compose = root => curationSidecar(root,
          _.select(col("doc_id"), col("source"), qualityMicro.as("q_micro"),
            size(split(col("text"), " ", -1)).cast("long").as("n_tok")),
          col("q_micro")) { (labels, scored, census) =>
          // ---- serve: cut the training snapshot from state only, and
          // LAND it (r17 verdict #5): the q254 treatment inside the same
          // run — one file per shard dir, and the query RETURNS the
          // read-back, so the oracle hash pins the disk round trip
          // trainers actually consume, not the pre-write view
          writeShardSnapshot(incrementalCurationServe(labels, scored, census),
              s"$root/snapshot")
            .orderBy("doc_id")
            .pin() // materialize before the state dir dies
        }),
      Some(s"""WITH RECURSIVE $ccOracleCte,
        |q AS (SELECT doc_id, source,
        |  CAST(floor((0.4 * least(1.0, len(string_split(text, ' ')) / 50.0)
        |    + 0.3 * (1.0 - len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) / CAST(len(string_split(text, ' ')) AS DOUBLE))
        |    + 0.3 * least(1.0, (length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 6.0)) * 1e6 + 0.5) AS BIGINT) AS q_micro,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |qc AS (SELECT source, q_micro, COUNT(*) AS c FROM q GROUP BY 1, 2),
        |qcum AS (
        |  SELECT source, q_micro,
        |    SUM(c) OVER (PARTITION BY source ORDER BY q_micro DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY source) AS n
        |  FROM qc),
        |cuts AS (
        |  SELECT source,
        |    MAX(CASE WHEN cum >= (n + 4) // 5 THEN q_micro END) AS cut_micro
        |  FROM qcum GROUP BY source),
        |kept AS (
        |  SELECT q.doc_id, q.source, q.n_tok
        |  FROM q LEFT JOIN comp ON q.doc_id = comp.id
        |  JOIN cuts ON q.source = cuts.source
        |  WHERE (comp.id IS NULL OR comp.label = q.doc_id)
        |    AND q.q_micro >= cuts.cut_micro),
        |mc AS (SELECT n_tok, COUNT(*) AS c FROM kept GROUP BY n_tok),
        |off AS (
        |  SELECT n_tok, CAST(SUM(c) OVER (ORDER BY n_tok DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
        |    AS BIGINT) AS off
        |  FROM mc),
        |ranked AS (
        |  SELECT k.doc_id, k.source, k.n_tok,
        |    o.off + ROW_NUMBER() OVER (PARTITION BY k.n_tok
        |      ORDER BY k.doc_id) AS r
        |  FROM kept k JOIN off o USING (n_tok))
        |SELECT doc_id, source, n_tok, r,
        |  CAST(CASE WHEN ((r - 1) // 8) % 2 = 0 THEN (r - 1) % 8
        |       ELSE 7 - (r - 1) % 8 END AS BIGINT) AS shard
        |FROM ranked ORDER BY doc_id""".stripMargin)),

    // ---- INCREMENTAL coreness maintenance on the v2 store (r17 #3) ----
    // q258 proved the batch step: coreness is COMPONENT-LOCAL (the
    // h-index fixpoint of a vertex depends only on its component's
    // edges), so a delta's recompute scope is the components it touches.
    // This is the production leg — the q261/q263 discipline applied to
    // graph depth:
    //   - dedup state: the v2 CC store (Streams.ccStoreStep) at the q248
    //     graph's threshold (Jaccard 0.3), delta-sized label updates,
    //     mid-stream folds + GC;
    //   - pair state: a GenStore of per-epoch delta pair sets — the
    //     accumulated union IS the full pair set (a pair's Jaccard
    //     depends only on its two docs: within-old pairs land in the
    //     init base, cross and within-batch pairs in the batch's epoch —
    //     the q258 oracle argument), append-only, delta-sized writes,
    //     persisted BUCKETED by pmod(i, 64) so the per-epoch recompute
    //     probe reads only the affected set's buckets (delta-READ-sized
    //     — the q244/q265 treatment; sound by component closure);
    //   - coreness state: a GenStore of per-epoch (id, coreness) deltas
    //     covering ONLY the touched components — merge-on-read
    //     latest-epoch-wins per id (the label-view shape), so untouched
    //     components serve their stored coreness verbatim and the
    //     coreness table never rewrites corpus-wide.
    // The per-epoch step rides ccStoreStep's onEpochPairs seam (the
    // posting probe is paid ONCE — the pair delta this step already
    // computed is reused), reads the POST-update label view (bound
    // epoch+1: this epoch's merges included, so every edge's two
    // endpoints share a component and one semi-join closes the
    // subgraph), scopes to touched components via broadcast-probe joins
    // (delta-sized builds, the |V|-row label view streams), and
    // recomputes coreness on the component-closed subgraph only. All
    // writes are epoch-keyed idempotent overwrites (the re-delivery
    // contract); folds go through GenStore.foldIfDue (the fold-lag
    // rule), and the loop is ccStoreLoopRun's. No kill/restart leg — q261/q262 + Round16Spec own that
    // proof; this query's claim is incremental graph depth at one
    // stream's cost. Oracle = q248's full-graph recompute over the
    // accumulated corpus: batch-boundary independence for coreness.
    QueryDef.demo("q264_stream_incremental_coreness",
      (s, dir, reduced) => ccStoreLoopRun(s, Tables.documents(s, dir), k = 3,
        nBuckets = 64, kill = false, midStreamFolds = true, reduced,
        threshold = 0.3, compose = root => {
        import graft.util.GenStore
        val pairStore = GenStore(s"$root/state/core/pairs_base",
          s"$root/state/core/pairs")
        val coreStore = GenStore(s"$root/state/core/core_base",
          s"$root/state/core/core")
        // the pair state's one layout: hive-partitioned by pb = pmod(i, 64)
        def writePairs(pairs: DataFrame, path: String): Unit =
          pairs.repartition(col("pb")).write.mode("overwrite")
            .partitionBy("pb").parquet(path)
        // latest-epoch-wins per id — the shared GenStore merge (one
        // implementation, r18 review); no probe hint needed: core
        // deltas are component-sized and the demo serve reads once
        def coreView(sess: org.apache.spark.sql.SparkSession, bound: Long) =
          coreStore.latestWinsView(sess, bound, "id")
        CcCompose(
          // init rides ccStoreInit's onInitPairs seam: ONE materialized
          // pair set feeds the pairs base, the coreness base, and the CC
          // label base (which commits last = the init guard, so a torn
          // init re-runs whole — heal-on-redelivery, r17 ADVICE #3).
          onInitPairs = Some { pairs =>
            // both base writes read the checkpointed pair set and
            // write disjoint stores — overlapped (guide §2.6); the
            // label base (the init guard) still commits last,
            // inside ccStoreInit
            DevTiming("demo", "q264 init: pairs+coreness bases (overlapped)")(
              graft.util.Par.run(
                () => writePairs(bucketedPairs(pairs, 64),
                  pairStore.basePath(-1)),
                () => coreStore.writeBase(Graph.coreness(pairs
                    .select(col("i").as("src"), col("j").as("dst"))),
                  -1)))
          },
          onEpochPairs = (pairs, epoch) =>
            DevTiming("demo", s"q264 epoch $epoch onPairs") {
              val sess = pairs.sparkSession
              // an epoch whose batch pairs with NOTHING changes no
              // component and no coreness: skip both delta writes
              // entirely (append-only content — a missing epoch is
              // simply nothing to add; idempotent under re-delivery)
              val nPairs = pairs.count()
              if (nPairs > 0) graft.util.Pin.scope { pins =>
              val labelsPost = graft.streaming.Streams.ccStoreLabelsView(
                sess, s"$root/state", epoch + 1)
              // broadcast hints COUNT-GUARDED (the r16/r17 merge-storm
              // discipline): a batch bridging into a megacomponent makes
              // ends pair-delta-sized and affected component-sized —
              // past the cap the hint drops and the planner falls back
              // to a shuffle join, correct-but-slower for that epoch.
              // Counts are cheap: pairs and affected are checkpointed.
              val cap = graft.streaming.Streams.CcLabelBroadcastMaxRows
              def hint(df: DataFrame, n: Long) =
                if (n <= cap) broadcast(df) else df
              val ends = pairs.select(col("i").as("id"))
                .unionAll(pairs.select(col("j").as("id"))).distinct()
              // |ends| <= 2·|pairs|, |touchedComps| <= |ends|
              val touchedComps = labelsPost
                .join(hint(ends, 2 * nPairs), Seq("id"), "left_semi")
                .select("label").distinct()
              // the broadcast-guard count AND the affected bucket set
              // (≤ 64 ints) ride the CHECKPOINT materialization itself
              // via Observation (the r20 sidecar discipline) — the
              // separate post-checkpoint aggregate job is gone
              val affObs = org.apache.spark.sql.Observation(
                s"q264_aff_$epoch")
              val affected = pins(labelsPost
                .join(hint(touchedComps, 2 * nPairs), "label")
                .select("id")
                .observe(affObs, count(lit(1)).as("n"),
                  collect_set(Dedup.postingBucket(col("id"), 64)).as("pbs")))
              val nAff = affObs.get("n").asInstanceOf[Long]
              val hit = affObs.get("pbs").asInstanceOf[Seq[Int]]
              // the pair-state probe is PRUNED to the affected buckets
              // at the scan (sound by component closure — see
              // pruneToPairBuckets) and STREAMS map-side against the
              // (usually small) affected probe — affected is an
              // RDD-backed frame with no Catalyst stats, so without the
              // guarded hint the planner would sort-merge the whole
              // pair state every epoch. The probe reads the PRE-epoch
              // store view ∪ this epoch's in-memory pair delta (content-
              // identical to the post-write view at bound epoch+1, since
              // the delta dir is exactly `pairs` — idempotent under
              // re-delivery), which decouples it from the delta WRITE and
              // lets the two run overlapped (guide §2.6).
              val affEdges = pruneToPairBuckets(
                  pairStore.unionView(sess, epoch), hit)
                .unionAll(bucketedPairs(pairs.select("i", "j"), 64)
                  .filter(col("pb").isInCollection(hit)).drop("pb"))
                .join(hint(affected.select(col("id").as("i")), nAff),
                  Seq("i"), "left_semi")
              DevTiming("demo", s"q264 epoch $epoch pair delta + coreness " +
                  "(overlapped)")(
                graft.util.Par.run(
                  () => writePairs(bucketedPairs(pairs.select("i", "j"), 64),
                    pairStore.deltaPath(epoch)),
                  () => coreStore.writeDelta(pins.adopt(Graph.coreness(
                      affEdges.select(col("i").as("src"), col("j").as("dst")))),
                    epoch)))
              }
              // threshold folds + GC on the shared seam
              pairStore.foldIfDue(epoch)(_.size > 1) { g =>
                writePairs(pairStore.unionView(sess, epoch),
                  pairStore.basePath(g))
                pairStore.gc(); ()
              }
              coreStore.foldIfDue(epoch)(_.size > 1) { g =>
                coreStore.writeBase(coreView(sess, epoch), g)
                coreStore.gc(); ()
              }
              ()
            },
          serve = _ => DevTiming("demo", "q264 serve: coreness view")(
            coreView(s, Long.MaxValue)
              .select(col("id").as("doc_id"), col("coreness"))
              .orderBy("doc_id")
              .pin()), // materialize before the root dies
          folds = Seq("pair" -> pairStore, "coreness" -> coreStore))
      }),
      Some(TextQueries.fullCorenessOracleSql)),

    // ---- the TOKENIZED training tail, composed end to end (r18 #4) ----
    // q200/q213/q251 stop the composition discipline before tokenization;
    // this is the artifact a trainer actually consumes, as ONE registry
    // query: curated survivors (q263's pool semantics — CC cluster reps
    // of the 3-shingle Jaccard-0.5 graph ∩ per-source top-quintile
    // quality cut) → BPE-encode with the q218/q219-trained vocab (merge
    // table from 12 driver-side argmax collects; the word→token-count
    // table is VOCABULARY-sized and broadcasts — the corpus never
    // carries the merge chain) → context-window chunking on the q209
    // stride-24/window-32 grid with per-chunk BPE token mass (chunk
    // strings re-split and summed against the broadcast wtok — one
    // map-side-partial aggregate keyed by (doc, chunk)) → greedy
    // first-fit packing of chunks into 512-BPE-token bins (q148's
    // per-source recurrence, in (doc_id, chunk_idx) order) → serpentine
    // shard striping of the BINS by token mass (q249's census-offset
    // rank — bin_tok ∈ [1, 512], so the rank census is grid-bounded by
    // construction, never corpus-wide) → the layout LANDED on disk and
    // read back (q254/q263's writeShardSnapshot; the oracle hash pins
    // the round trip trainers consume). No new shuffle class anywhere:
    // every stage keeps its proven shape, and the only additions are one
    // (doc, chunk)-keyed aggregate and one (source, bin) join. The
    // oracle nests the verified CTE blocks (ccOracleCte + q247's cut +
    // bpeTrainerCtes + q209's grid + q148's recursive pack + q249's
    // serpentine) verbatim. MATERIALIZED on pbase/packed is load-bearing
    // (the bpeTrainerCtes lesson at recursion scale): the pack recursion
    // scans pbase once per iteration and DuckDB inlines plain CTEs per
    // reference — inlined, every one of the ~|chunks|/|sources|
    // iterations re-runs the whole CC+BPE+chunk chain above it
    // (measured: 88 CPU-minutes and unfinished at sf0.1 vs seconds
    // materialized); packed is read twice (bin masses + final join),
    // which would run the recursion itself twice.
    QueryDef("q267_tokenized_training_tail",
      (s, dir) => {
        val root = java.nio.file.Files
          .createTempDirectory("graft_tok_tail").toString
        try {
          writeShardSnapshot(tokenizedTrainingSnapshot(s, dir),
              s"$root/snapshot")
            .orderBy("doc_id", "chunk_idx")
            .pin() // materialize before the dir dies
        } finally {
          graft.util.Dirs.rmTree(root)
        }
      },
      Some(s"""WITH RECURSIVE $tokenizedCtokCtes,
        |pbase AS MATERIALIZED (
        |  SELECT source, doc_id, chunk_idx, n_bpe,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY doc_id, chunk_idx) AS rn
        |  FROM ctok),
        |pr AS (
        |  SELECT source, doc_id, chunk_idx, n_bpe, rn,
        |    CAST(0 AS BIGINT) AS bin, n_bpe AS fill
        |  FROM pbase WHERE rn = 1
        |  UNION ALL
        |  SELECT b.source, b.doc_id, b.chunk_idx, b.n_bpe, b.rn,
        |    CASE WHEN pr.fill + b.n_bpe > 512 THEN pr.bin + 1
        |         ELSE pr.bin END,
        |    CASE WHEN pr.fill + b.n_bpe > 512 THEN b.n_bpe
        |         ELSE pr.fill + b.n_bpe END
        |  FROM pbase b JOIN pr ON b.source = pr.source
        |    AND b.rn = pr.rn + 1),
        |packed AS MATERIALIZED (
        |  SELECT source, doc_id, chunk_idx, n_bpe, bin,
        |    fill - n_bpe AS bin_offset
        |  FROM pr),
        |bins AS (SELECT source, bin, CAST(SUM(n_bpe) AS BIGINT) AS bin_tok
        |  FROM packed GROUP BY 1, 2),
        |bc AS (SELECT bin_tok, COUNT(*) AS c FROM bins GROUP BY bin_tok),
        |boff AS (
        |  SELECT bin_tok, CAST(SUM(c) OVER (ORDER BY bin_tok DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
        |    AS BIGINT) AS off
        |  FROM bc),
        |sharded AS (
        |  SELECT b.source, b.bin,
        |    o.off + ROW_NUMBER() OVER (PARTITION BY b.bin_tok
        |      ORDER BY b.source, b.bin) AS r
        |  FROM bins b JOIN boff o USING (bin_tok))
        |SELECT p.doc_id, p.chunk_idx, p.source, p.n_bpe, p.bin,
        |  p.bin_offset, s.r,
        |  CAST(CASE WHEN ((s.r - 1) // 8) % 2 = 0 THEN (s.r - 1) % 8
        |       ELSE 7 - (s.r - 1) % 8 END AS BIGINT) AS shard
        |FROM packed p JOIN sharded s
        |  ON p.source = s.source AND p.bin = s.bin
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- SHARD-PARALLEL packing (the 100 TB shape of the pack stage) --
    // q148/q267 pack per SOURCE — a genuine recurrence, but its
    // sequential unit is a whole source's chunk stream, which at corpus
    // scale cannot fit one task (5 sources = parallelism 5 forever).
    // Production packs the other way around: stripe chunks into shards
    // FIRST by mass rank, then run the first-fit recurrence WITHIN each
    // shard in deterministic rank order. The sequential unit becomes ONE
    // SHARD — the unit a data-parallel trainer consumes anyway, and
    // production sizes shard count to the cluster, so parallelism scales
    // with the corpus instead of the source vocabulary. The trade,
    // stated: bins never cross shard boundaries, so up to one underfilled
    // bin per shard replaces q267's per-source bin continuity — the
    // accepted production trade (sequences never span training files).
    // Both sequential residues the r19 shape still carried are gone
    // (r19 verdict #2, ADVICE #3): the rank is the scalable total-order
    // rank (range partition + prefix counts — parallelism = the shuffle
    // partition count, not the 32-value n_tok grid), and the per-shard
    // recurrence STREAMS (repartition + sortWithinPartitions +
    // mapPartitions, O(1) task memory — no per-task shard
    // materialization). Chunk masses are q209's whitespace-token grid
    // (the packing-scalability claim does not need the BPE chain again);
    // all-integer, so the oracle is the same arithmetic: chunk grid →
    // serpentine striping → the q148 recursion PARTITIONED BY shard
    // (depth |chunks|/N, not |chunks|/|sources|).
    QueryDef("q268_shard_parallel_packing",
      (s, dir) => {
        val sized = Tables.documents(s, dir)
          .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
          .select(col("doc_id"), col("w"), posexplode(expr(
            "transform(sequence(0, (size(w)-1) div 24)," +
              " k -> k)")).as(Seq("chunk_idx", "k")))
          .select(col("doc_id"), col("chunk_idx"),
            least(lit(32), size(col("w")) - col("chunk_idx") * 24)
              .cast("long").as("n_tok"))
        shardParallelPack(sized, "n_tok", Seq("doc_id", "chunk_idx"),
            8, 512)
          .select("doc_id", "chunk_idx", "n_tok", "r", "shard", "bin",
            "bin_offset")
          .orderBy("doc_id", "chunk_idx")
      },
      // MATERIALIZED on the recursion's input (the q267 lesson): the
      // shard-partitioned pack recursion scans `ranked` once per
      // iteration and DuckDB inlines plain CTEs per reference
      Some("""WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (
        |  SELECT doc_id, CAST(kk.k AS INTEGER) AS chunk_idx,
        |    CAST(least(32, len(w) - kk.k*24) AS BIGINT) AS n_tok
        |  FROM docs, (SELECT unnest(range(0, 256)) AS k) kk
        |  WHERE kk.k <= (len(w) - 1) // 24),
        |mc AS (SELECT n_tok, COUNT(*) AS c FROM ch GROUP BY n_tok),
        |off AS (
        |  SELECT n_tok, CAST(SUM(c) OVER (ORDER BY n_tok DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
        |    AS BIGINT) AS off
        |  FROM mc),
        |ranked0 AS (
        |  SELECT ch.doc_id, ch.chunk_idx, ch.n_tok,
        |    o.off + ROW_NUMBER() OVER (PARTITION BY ch.n_tok
        |      ORDER BY ch.doc_id, ch.chunk_idx) AS r
        |  FROM ch JOIN off o USING (n_tok)),
        |ranked AS MATERIALIZED (
        |  SELECT doc_id, chunk_idx, n_tok, r,
        |    CAST(CASE WHEN ((r - 1) // 8) % 2 = 0 THEN (r - 1) % 8
        |         ELSE 7 - (r - 1) % 8 END AS BIGINT) AS shard,
        |    ROW_NUMBER() OVER (PARTITION BY
        |      CASE WHEN ((r - 1) // 8) % 2 = 0 THEN (r - 1) % 8
        |           ELSE 7 - (r - 1) % 8 END
        |      ORDER BY r) AS rn
        |  FROM ranked0),
        |pr AS (
        |  SELECT doc_id, chunk_idx, n_tok, r, shard, rn,
        |    CAST(0 AS BIGINT) AS bin, n_tok AS fill
        |  FROM ranked WHERE rn = 1
        |  UNION ALL
        |  SELECT b.doc_id, b.chunk_idx, b.n_tok, b.r, b.shard, b.rn,
        |    CASE WHEN pr.fill + b.n_tok > 512 THEN pr.bin + 1
        |         ELSE pr.bin END,
        |    CASE WHEN pr.fill + b.n_tok > 512 THEN b.n_tok
        |         ELSE pr.fill + b.n_tok END
        |  FROM ranked b JOIN pr ON b.shard = pr.shard
        |    AND b.rn = pr.rn + 1)
        |SELECT doc_id, chunk_idx, n_tok, r, shard, bin,
        |  fill - n_tok AS bin_offset
        |FROM pr
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- the tokenized tail LANDED through the shard-parallel pack ----
    // (r19 verdict #1 — the top_next.) q267 composes the full tail but
    // packs per SOURCE (parallelism pinned at |sources| forever); q268
    // proved the stripe-then-pack shape on the whitespace grid but
    // returned rows without landing shards. This is the composition both
    // existed for: curated survivors → BPE-encode → chunk grid massed in
    // BPE tokens → shardParallelPack on those masses (stripe by mass
    // rank, first-fit WITHIN each shard — the sequential unit is one
    // shard, so pack parallelism scales with the corpus) → LANDED via
    // writeShardSnapshot (one file per shard dir) → the read-back
    // trainers consume, hash-pinned. The stated trade vs q267: bins
    // never cross shard boundaries (≤1 underfilled bin per shard,
    // Round20Spec audits), replacing per-source bin continuity —
    // sequences never span training files. Oracle = the q267 ctok chain
    // with q268's shard-partitioned recursion nested on the BPE masses.
    // Reference tie-in: this is the artifact the O5 buffering license
    // (plugin.cpp:113-117) ultimately exists to produce at scale.
    QueryDef("q269_landed_shard_parallel_tail",
      (s, dir) => {
        val root = java.nio.file.Files
          .createTempDirectory("graft_spp_tail").toString
        try {
          val docs = Tables.documents(s, dir)
          writeShardSnapshot(
              shardParallelTokenizedSnapshotPar(docs),
              s"$root/snapshot")
            .orderBy("doc_id", "chunk_idx")
            .pin() // materialize before the dir dies
        } finally {
          graft.util.Dirs.rmTree(root)
        }
      },
      Some(shardParallelTailOracleSql)),

    // ---- the tokenized tail INCREMENTAL on the v2 store (r19 #5) ----
    // q263's serve stops at doc-level serpentine striping; the
    // trainer-consumable artifact had a batch recipe (q267/q269) but no
    // incremental one. Same state as q263 — the v2 CC store at the
    // curation threshold 0.5 plus the same curation sidecar
    // (curationSidecar: the census GenStore and its fold), whose rows
    // store here holds the DOCS: the per-epoch ingest LANDED as delta
    // parquet (production's ingested files ARE this store). No scored
    // store: the serve must read the corpus store anyway to tokenize, so
    // q_micro is recomputed from the stored text while the CUT still
    // comes from census STATE
    // (grid-bounded, maintained incrementally). The SERVE is the batch
    // tail re-expressed over state views: survivors = merge-on-read
    // labels filtered to min-id reps ⋈ broadcast census quintile cut →
    // BPE vocab trained on the accumulated corpus union (vocab induction
    // precedes curation; 12 bounded argmax collects, the q267 shape) →
    // chunk grid massed in BPE tokens → shardParallelPack → landed via
    // writeShardSnapshot → the read-back. Global ranks shift as the
    // corpus grows, so the LAYOUT is inherently a snapshot view — the
    // incremental claim is per-epoch STATE maintenance, and the oracle
    // pins exactly that: q269's batch pipeline over the accumulated
    // corpus, verbatim (batch-boundary independence, the q263/q264
    // discipline). No kill/restart leg — q261/q262 + Round16Spec own
    // that proof; this query's claim is the composition at one stream's
    // cost.
    QueryDef.demo("q270_stream_tokenized_tail",
      (s, dir, reduced) => ccStoreLoopRun(s, Tables.documents(s, dir), k = 3,
        nBuckets = 64, kill = false, midStreamFolds = true, reduced,
        staged = Seq("doc_id", "source", "text"),
        compose = root => curationSidecar(root,
          _.select("doc_id", "source", "text"), qualityMicro) {
          (labels, docsAll, census) =>
          // ---- serve: the batch tail over state views only ----
          val kept = poolSurvivors(
              docsAll.withColumn("q_micro", qualityMicro), labels,
              censusQuintileCuts(census))
            .select("doc_id", "source", "text")
          writeShardSnapshot(
              shardParallelTokenizedSnapshot(docsAll, kept),
              s"$root/snapshot")
            .orderBy("doc_id", "chunk_idx")
            .pin() // materialize before the state dir dies
        }),
      Some(shardParallelTailOracleSql))
  )

}
