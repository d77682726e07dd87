package graft.queries
import graft.util.Pin._

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ext.{Dedup, Graph, TextAnalysis => TA}
import graft.util.OracleSafe._

/** Text analysis + deduplication over the documents table — the training-
  * data-pipeline extension surface (SURVEY.md §2.3): quality scoring,
  * token counting, language ID, fingerprinting, and the dedup ladder
  * (exact → n-gram Jaccard → MinHash LSH → SimHash).
  */
object TextQueries {

  /** Shared oracle CTE: distinct 3-shingle sets per document (DuckDB list
    * comprehension mirrors TextAnalysis.shingleSet). Parameterized by the
    * source relation so composed pipelines (q200) reuse the SAME text
    * instead of pasting a copy that could drift.
    */
  private def shingleCteFor(src: String): String =
    s"""docs AS (SELECT doc_id, string_split(text, ' ') w FROM $src),
      |sh AS (SELECT doc_id,
      |  list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]) ds
      |  FROM docs),
      |ex AS (SELECT doc_id, unnest(ds) AS s, len(ds) AS n FROM sh WHERE len(ds) > 0),
      |pairs AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter,
      |    any_value(a.n) AS na, any_value(b.n) AS nb
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  private val shingleCte = "WITH " + shingleCteFor("documents")

  private val jaccardOracle =
    s"""$shingleCte
      |SELECT i, j, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
      |FROM pairs
      |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
      |ORDER BY i, j""".stripMargin

  /** Oracle replica of Dedup.simhashes: same md5-based stable hash, same
    * tf-weighted bit sums, same 60-bit assembly — generated SQL.
    */
  private def simhashOracle(maxHamming: Int): String = {
    val sTerms = (0 until Dedup.SimhashBits)
      .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN cnt ELSE -cnt END) AS s$b").mkString(", ")
    val fpExpr = (0 until Dedup.SimhashBits)
      .map(b => s"(CASE WHEN s$b >= 0 THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)").mkString(" + ")
    s"""WITH tf AS (SELECT doc_id, w, count(*) AS cnt
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY 1, 2),
      |h AS (SELECT doc_id, cnt, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM tf),
      |bits AS (SELECT doc_id, $sTerms FROM h GROUP BY doc_id),
      |fp AS (SELECT doc_id, $fpExpr AS simhash FROM bits)
      |SELECT a.doc_id AS i, b.doc_id AS j,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming
      |ORDER BY i, j""".stripMargin
  }

  /** Okapi BM25 (k1 = 1.2, b = 0.75) of every document against `terms`,
    * defined ONCE for q161 and q208's lexical fusion tower — a constant
    * or rounding change propagates to both queries and both engines from
    * here (the same drift-surface discipline as OracleSafe.dsum/sqlDsum).
    * Returns (doc_id, bm25) with the decimal-6 rounded, order-independent
    * contribution sum; docs containing no query term are absent.
    */
  private[queries] def bm25Scores(s: org.apache.spark.sql.SparkSession,
      dir: String, terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
    // dl feeds the corpus stats AND the score join; tf feeds the df
    // census AND the score rows — lazy, each consumer re-tokenized the
    // corpus (4 document scans in the r20 plan dump; exchange reuse does
    // not fire across the branches). Materialize the two NARROW derived
    // tables once (no text/token arrays pinned — the decide-on-small
    // discipline); swap checkpoint() for localCheckpoint at cluster
    // scale. Bit-identical scores, and q208's fusion tower inherits the
    // same cut through this shared definition.
    val dl = toks.select(col("doc_id"), size(col("w")).as("dl"))
      .pin()
    val tf = toks.select(col("doc_id"), explode(col("w")).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      .pin()
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_len"))
    val dfq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfq), "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log((col("n_docs").cast("double") - col("df") + 0.5)
            / (col("df").cast("double") + 0.5) + 1.0)
          * (col("tf").cast("double") * 2.2)
          / (col("tf").cast("double")
             + lit(1.2) * (lit(0.25) + lit(0.75)
               * col("dl").cast("double")
               / (col("tot_len").cast("double") / col("n_docs")))))
          .as("contrib"))
      .groupBy("doc_id")
      .agg(round(dsum(col("contrib")), 6).as("bm25"))
  }

  /** DuckDB twin of [[bm25Scores]]: the CTE chain
    * `toks, dl, tf, stats, df, contrib, bm` ending in bm(doc_id, bm25).
    * Splice directly after WITH.
    */
  private[queries] def bm25OracleCtes(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS INTEGER) AS dl FROM toks),
      |tf AS (SELECT doc_id, t, COUNT(*) AS tfq
      |  FROM (SELECT doc_id, unnest(w) AS t FROM toks)
      |  WHERE t IN ($inList)
      |  GROUP BY 1, 2),
      |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_len FROM dl),
      |df AS (SELECT t, COUNT(*) AS dfq FROM tf GROUP BY t),
      |contrib AS (
      |  SELECT tf.doc_id,
      |    ln((CAST(n_docs AS DOUBLE) - dfq + CAST(0.5 AS DOUBLE))
      |        / (CAST(dfq AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |       + CAST(1 AS DOUBLE))
      |      * (CAST(tfq AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |      / (CAST(tfq AS DOUBLE)
      |         + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
      |           + CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE)
      |             / (CAST(tot_len AS DOUBLE) / n_docs))) AS c
      |  FROM tf
      |  JOIN df ON df.t = tf.t
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN stats),
      |bm AS (SELECT doc_id, round(${sqlDsum("c")}, 6) AS bm25
      |  FROM contrib GROUP BY doc_id)""".stripMargin
  }

  private def occSql(pat: String, patLen: Int): String =
    s"CAST((length(text) - length(replace(text, '$pat', ''))) / $patLen AS BIGINT)"

  private def langScoreSql(profile: Seq[String]): String =
    "(" + profile.map(p => occSql(p, p.length)).mkString(" + ") + ") / CAST(length(text) AS DOUBLE)"

  val defs: Seq[QueryDef] = Seq(

    // ---- corpus statistics per language ----
    QueryDef("q26_text_stats",
      // avg_quality is decomposed into its three component sums: the composite
      // score can land exactly on a scale-6 midpoint (0.4+0.3a+0.3b with
      // small-denominator rationals), where Spark's shortest-repr cast and
      // DuckDB's binary-expansion cast round apart. The components themselves
      // are midpoint-free, and recombining identical doubles is exact.
      (s, dir) => {
        val nTok = size(TA.tokens(col("text")))
        val c1 = least(lit(1.0), nTok / lit(50.0))
        val c2 = lit(1.0) - TA.stopwordRatio(col("text"))
        val c3 = least(lit(1.0), TA.avgTokenLen(col("text")) / lit(6.0))
        Tables.documents(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_chars")).as("sum_chars"),
               davg(nTok.cast("double")).as("avg_tokens"),
               ((lit(0.4) * dsum(c1) + lit(0.3) * dsum(c2) + lit(0.3) * dsum(c3))
                 / count(lit(1))).as("avg_quality"))
          .orderBy("lang")
      },
      Some {
        val c1 = "least(1.0, len(string_split(text, ' ')) / 50.0)"
        val c2 = "1.0 - len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) / CAST(len(string_split(text, ' ')) AS DOUBLE)"
        val c3 = "least(1.0, (length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 6.0)"
        s"""SELECT lang, COUNT(*) AS n_docs,
          |CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          |${sqlDavg("CAST(len(string_split(text, ' ')) AS DOUBLE)")} AS avg_tokens,
          |((0.4 * ${sqlDsum(c1)} + 0.3 * ${sqlDsum(c2)} + 0.3 * ${sqlDsum(c3)}) / COUNT(*)) AS avg_quality
          |FROM documents
          |GROUP BY lang
          |ORDER BY lang""".stripMargin
      }),

    // ---- exact dedup (hash-groupBy, deterministic min-id survivor) ----
    QueryDef("q27_dedup_exact",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val survivors = Dedup.exactKeepMin(docs, col("text"), col("doc_id"))
        docs.join(survivors, docs("doc_id") === survivors("keep_id"))
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_unique"), sum(col("n_copies")).as("n_total"))
          .orderBy("lang", "source")
      },
      Some("""WITH survivors AS (
        |  SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY text)
        |SELECT lang, source, COUNT(*) AS n_unique, CAST(SUM(n_copies) AS BIGINT) AS n_total
        |FROM documents JOIN survivors ON doc_id = keep_id
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin)),

    // ---- token counting: whitespace + BPE-ish regex ----
    QueryDef("q28_token_counts",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TA.tokens(col("text"))).as("n_ws_tokens"),
          TA.bpeishCount(col("text")).cast("long").as("n_bpeish"),
          length(col("text")).as("n_chars_live"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
        |CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpeish,
        |CAST(length(text) AS INTEGER) AS n_chars_live
        |FROM documents
        |ORDER BY doc_id""".stripMargin)),

    // ---- quality scoring + filter ----
    QueryDef("q29_quality_filter",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TA.tokens(col("text"))).as("n_tokens"),
          TA.stopwordRatio(col("text")).as("stop_ratio"),
          TA.avgTokenLen(col("text")).as("avg_tok_len"),
          TA.qualityScore(col("text")).as("quality"))
        .filter(col("quality") >= 0.5)
        .orderBy("doc_id"),
      Some("""WITH q AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
        |  length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_tok_len,
        |  0.4 * least(1.0, len(string_split(text, ' ')) / 50.0)
        |    + 0.3 * (1.0 - len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) / CAST(len(string_split(text, ' ')) AS DOUBLE))
        |    + 0.3 * least(1.0, (length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 6.0) AS quality
        |FROM documents)
        |SELECT doc_id, n_tokens, stop_ratio, avg_tok_len, quality
        |FROM q WHERE quality >= 0.5
        |ORDER BY doc_id""".stripMargin)),

    // ---- language ID heuristic vs labeled lang ----
    QueryDef("q30_langid",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TA.langId(col("text")).as("lang_pred"),
          (TA.langId(col("text")) === col("lang")).as("agree"))
        .orderBy("doc_id"),
      Some {
        val scores = TA.LangProfiles.map { case (code, prof) => s"${langScoreSql(prof)} AS sc_$code" }
        val codes = TA.LangProfiles.map(_._1)
        // first-profile-wins-on-ties argmax, mirroring TA.langId's negrank
        val caseArms = codes.init.zipWithIndex.map { case (c, i) =>
          val rest = codes.drop(i + 1).map(o => s"sc_$c >= sc_$o").mkString(" AND ")
          s"WHEN $rest THEN '$c'"
        }.mkString(" ")
        s"""WITH scored AS (SELECT doc_id, lang, ${scores.mkString(", ")} FROM documents),
          |pred AS (SELECT doc_id, lang,
          |  CASE $caseArms ELSE '${codes.last}' END AS lang_pred FROM scored)
          |SELECT doc_id, lang, lang_pred, lang_pred = lang AS agree
          |FROM pred
          |ORDER BY doc_id""".stripMargin
      }),

    // ---- key-collision fingerprint dedup ----
    QueryDef("q31_fingerprint_dedup",
      (s, dir) => {
        val fp = Tables.documents(s, dir)
          .select(col("doc_id"), TA.fingerprint(col("text")).as("fp"))
        fp.groupBy("fp")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
          .filter(col("n_docs") > 1)
          .orderBy("fp")
      },
      Some("""SELECT fp, COUNT(*) AS n_docs, min(doc_id) AS keep_id
        |FROM (SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
        |  FROM documents)
        |GROUP BY fp HAVING COUNT(*) > 1
        |ORDER BY fp""".stripMargin)),

    // ---- exact n-gram Jaccard near-dup (inverted-index blocked) ----
    QueryDef("q32_ngram_jaccard_pairs",
      (s, dir) => Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.5)
        .orderBy("i", "j"),
      Some(jaccardOracle)),

    // ---- MinHash + LSH with exact verification (same ground truth) ----
    QueryDef("q33_minhash_lsh_pairs",
      (s, dir) => Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.5)
        .orderBy("i", "j"),
      Some(jaccardOracle)),

    // ---- SimHash near-dup via pigeonhole banding (perfect recall) ----
    QueryDef("q34_simhash_pairs",
      (s, dir) => Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text", 3)
        .orderBy("i", "j"),
      Some(simhashOracle(3))),

    // ---- custom expressions through the SQL surface (SparkSessionExtensions) ----
    QueryDef("q53_sql_custom_functions",
      (s, dir) => {
        graft.GraftExtensions.registerAll(s)
        Tables.documents(s, dir).createOrReplaceTempView("documents_v")
        s.sql("""SELECT doc_id,
          |  size(distinct_word_shingles(text, 3)) AS n_shingles,
          |  simhash60(split(text, ' ')) AS fp,
          |  sorted_distinct_tokens(text) AS tokset
          |FROM documents_v ORDER BY doc_id""".stripMargin)
      },
      Some {
        val sTerms = (0 until Dedup.SimhashBits)
          .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN cnt ELSE -cnt END) AS s$b").mkString(", ")
        val fpExpr = (0 until Dedup.SimhashBits)
          .map(b => s"(CASE WHEN s$b >= 0 THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)").mkString(" + ")
        s"""WITH tf AS (SELECT doc_id, w, count(*) AS cnt
          |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
          |  GROUP BY 1, 2),
          |h AS (SELECT doc_id, cnt, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM tf),
          |bits AS (SELECT doc_id, $sTerms FROM h GROUP BY doc_id),
          |fp AS (SELECT doc_id, $fpExpr AS simhash FROM bits),
          |sh AS (SELECT doc_id,
          |  CAST(len(list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)])) AS INTEGER) AS n_shingles,
          |  array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ') AS tokset
          |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents))
          |SELECT sh.doc_id AS doc_id, sh.n_shingles, fp.simhash AS fp, sh.tokset
          |FROM sh JOIN fp ON sh.doc_id = fp.doc_id
          |ORDER BY sh.doc_id""".stripMargin
      }),

    // ---- bigram language-model scoring (perplexity-style quality filter) ----
    // Train a corpus bigram model (two aggregates), then score every doc by
    // its mean log-probability — the classic "drop gibberish by LM score"
    // training-data op. The model tables are vocabulary-sized → broadcast.
    // Cross-engine determinism: each ln term is snapped to integer
    // micro-units (round(ln·1e6)), summed exactly in int64, and the mean is
    // rounded half-away-from-zero in INTEGER arithmetic — engine round() of
    // a double mean hits true decimal midpoints (sum·2 ≡ n mod 2n) whose
    // HALF_UP-on-exact-binary (Spark) vs scaled-nearbyint (DuckDB) rounding
    // disagree by 1e-6 at larger corpora; see the verify gotcha list.
    QueryDef("q117_bigram_logprob",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("doc_id").orderBy("pos")
        // the bigram stream feeds the model build AND the scoring join;
        // lazy, each consumer re-paid the posexplode + per-doc window
        // (3 document scans in the r20 plan dump). Materialize the
        // narrow (doc_id, w1, w2) stream once (r20, guide §1.2); swap
        // checkpoint() for localCheckpoint at cluster scale.
        val bigrams = Tables.documents(s, dir)
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w1")))
          .withColumn("w2", lead(col("w1"), 1).over(w))
          .filter(col("w2").isNotNull)
          .select(col("doc_id"), col("w1"), col("w2"))
          .pin()
        val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
        val model = broadcast(c12.join(c1, "w1")
          .withColumn("lp_micro", round(log(col("c12") / col("c1")) * lit(1e6), 0).cast("long")))
        // p = -Σlp_micro ≥ 0; mean micro-units rounded half-up on the
        // magnitude = floor((2p + n) / 2n) via exact integer ops ≤ 2^53.
        bigrams.join(model, Seq("w1", "w2"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("s_micro"))
          .withColumn("avg_logprob",
            -floor((lit(-2) * col("s_micro") + col("n_bigrams")) /
                   (lit(2.0) * col("n_bigrams"))).cast("double") / lit(1e6))
          .select(col("doc_id"), col("n_bigrams"), col("avg_logprob"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w1,
        |         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        |  FROM documents),
        |bigrams AS (
        |  SELECT doc_id, w1, lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM toks QUALIFY w2 IS NOT NULL),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY w1, w2),
        |c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
        |model AS (
        |  SELECT c12.w1, c12.w2,
        |    CAST(round(ln(c12.c12 / c1.c1) * 1e6) AS BIGINT) AS lp_micro
        |  FROM c12 JOIN c1 ON c12.w1 = c1.w1)
        |SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |  -floor((-2 * SUM(m.lp_micro) + COUNT(*)) / (2.0 * COUNT(*))) / 1e6
        |    AS avg_logprob
        |FROM bigrams b JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
        |GROUP BY b.doc_id
        |ORDER BY b.doc_id""".stripMargin)),

    // ---- edit-distance (Levenshtein) near-dup pairs, prefix-blocked ----
    // Completes the dedup ladder with the character-level measure: exact
    // (q27) → token Jaccard (q32) → MinHash (q33) → SimHash (q34) →
    // Levenshtein (here). Blocking = 32-char prefix equality; the oracle
    // applies the identical block + an unbanded levenshtein.
    QueryDef("q125_levenshtein_pairs",
      (s, dir) => Dedup.editDistancePairs(Tables.documents(s, dir),
          "doc_id", "text", prefixLen = 32, maxDist = 40)
        .orderBy("i", "j"),
      Some("""WITH b AS (SELECT doc_id, text, substr(text, 1, 32) AS pfx FROM documents)
        |SELECT a.doc_id AS i, c.doc_id AS j,
        |  CAST(levenshtein(a.text, c.text) AS BIGINT) AS dist
        |FROM b a JOIN b c ON a.pfx = c.pfx AND a.doc_id < c.doc_id
        |WHERE levenshtein(a.text, c.text) <= 40
        |ORDER BY i, j""".stripMargin)),

    // ---- stopword removal + content-token stats ----
    // The tokenize → drop-stopwords → profile step of a training-data
    // pipeline: per document, total tokens, surviving content tokens,
    // distinct content vocabulary, and the leading content token.
    QueryDef("q128_stopword_removal",
      (s, dir) => Tables.documents(s, dir)
        // contentTokens is an interpreted (CodegenFallback) higher-order
        // filter with no subexpression elimination — project it ONCE and
        // derive the three outputs from the materialized column
        .select(col("doc_id"), size(TA.tokens(col("text"))).as("n_tokens"),
          TA.contentTokens(col("text")).as("ct"))
        .select(col("doc_id"), col("n_tokens"),
          size(col("ct")).as("n_content"),
          size(array_distinct(col("ct"))).as("n_vocab"),
          element_at(col("ct"), 1).as("first_content"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |f AS (SELECT doc_id, w,
        |        list_filter(w, x -> x NOT IN ('the', 'a')) AS cw FROM t)
        |SELECT doc_id,
        |  CAST(len(w) AS INTEGER) AS n_tokens,
        |  CAST(len(cw) AS INTEGER) AS n_content,
        |  CAST(len(list_distinct(cw)) AS INTEGER) AS n_vocab,
        |  cw[1] AS first_content
        |FROM f
        |ORDER BY doc_id""".stripMargin)),

    // ---- denylist scrub (PII-redaction machinery) ----
    // The regex-redaction pass of a data-cleaning pipeline: replace every
    // word-boundary denylist hit with a [X] marker (the exact machinery of
    // email/phone PII scrubbing — this corpus has no PII, so the pattern is
    // a term denylist with real hits). regexp_replace is codegen'd and
    // embarrassingly parallel; the md5 of the scrubbed text makes the
    // oracle compare the FULL redacted string, not just the counts.
    // DuckDB regexp_replace needs the 'g' flag for replace-all parity.
    QueryDef("q146_denylist_scrub",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          size(expr(
            "filter(split(text, ' ', -1), t -> t IN ('slow','big','merge'))"))
            .as("n_hits"),
          regexp_replace(col("text"), "\\b(slow|big|merge)\\b", "[X]")
            .as("red"))
        .filter(col("n_hits") > 0)
        .select(col("doc_id"), col("n_hits"),
          length(col("red")).as("red_len"), md5(col("red")).as("red_fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '),
        |       t -> t IN ('slow','big','merge'))) AS INTEGER) AS n_hits,
        |  CAST(len(regexp_replace(text, '\b(slow|big|merge)\b', '[X]', 'g'))
        |       AS INTEGER) AS red_len,
        |  md5(regexp_replace(text, '\b(slow|big|merge)\b', '[X]', 'g'))
        |    AS red_fp
        |FROM documents
        |WHERE len(list_filter(string_split(text, ' '),
        |      t -> t IN ('slow','big','merge'))) > 0
        |ORDER BY doc_id""".stripMargin)),

    // ---- benchmark-contamination screen (n-gram overlap) ----
    // Flags training docs sharing any distinct 3-shingle with the held-out
    // benchmark shard (doc_id % 97 = 0) — the decontamination step run
    // before training on web-scale corpora. The benchmark shingle set is
    // tiny relative to the corpus, so it BROADCASTS and the screen is one
    // map-side semi-join over the exploded training shingles: no shuffle
    // of the 100 TB side beyond its own per-doc aggregate.
    QueryDef("q147_contamination_screen",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bench = docs.filter(col("doc_id") % 97 === 0)
          .select(explode(graft.functions.TextExpressions
            .distinctShingles(col("text"), 3)).as("s"))
          .distinct()
        // train side: ONE scan — shingle set projected once, per-doc size
        // carried through the explode so no second aggregate over the text
        docs.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"), graft.functions.TextExpressions
            .distinctShingles(col("text"), 3).as("ds"))
          .select(col("doc_id"), size(col("ds")).as("ns"),
            explode(col("ds")).as("s"))
          .join(broadcast(bench), "s")
          .groupBy("doc_id")
          .agg(min("ns").as("n_shingles"), count(lit(1)).as("n_shared"))
          .select(col("doc_id"), col("n_shingles"), col("n_shared"),
            (col("n_shared").cast("double") / col("n_shingles"))
              .as("contaminated_frac"))
          .orderBy("doc_id")
      },
      Some(s"""$shingleCte
        |SELECT t.doc_id, CAST(MIN(t.n) AS INTEGER) AS n_shingles,
        |  COUNT(*) AS n_shared,
        |  CAST(COUNT(*) AS DOUBLE) / MIN(t.n) AS contaminated_frac
        |FROM ex t
        |JOIN (SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0) b
        |  ON t.s = b.s
        |WHERE t.doc_id % 97 <> 0
        |GROUP BY t.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    // ---- PMI collocations (statistically-bound word pairs) ----
    // Pointwise mutual information of adjacent bigrams vs their unigram
    // margins: pmi = ln( (c_xy/N_big) / ((c_x/N_tok)(c_y/N_tok)) ), kept
    // at support >= 5 — the collocation-mining step of corpus analysis.
    // Counts shuffle once each; the unigram table is tiny and broadcasts
    // into the bigram table twice. ln is libm → round 6 on both engines;
    // ties in rounded pmi are totally ordered by the bigram itself, so the
    // LIMIT 50 cut is deterministic on both.
    QueryDef("q152_pmi_collocations",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(split(col("text"), " ", -1).as("w"))
        // the unigram census feeds THREE consumers (both join sides + the
        // token total) and the bigram census two (the PMI rows + its
        // total); lazy each consumer re-tokenized the corpus — exchange
        // reuse does NOT fire across these branches (5 document scans in
        // the r20 plan dump, refuting the earlier reuse claim here).
        // Materialize the vocabulary-bounded censuses once (r20, guide
        // §1.2); swap checkpoint() for localCheckpoint at cluster scale.
        val uni = docs.select(explode(col("w")).as("x"))
          .groupBy("x").agg(count(lit(1)).as("cx"))
          .pin()
        val bg = docs.select(explode(expr(
            "zip_with(slice(w, 1, size(w)-1), slice(w, 2, size(w)-1)," +
            " (a, b) -> named_struct('x', a, 'y', b))")).as("b"))
          .select(col("b.x").as("x"), col("b.y").as("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
          .pin()
        // totals as broadcast scalar frames, NOT driver collects
        bg.filter(col("cxy") >= 5)
          .join(broadcast(uni), "x")
          .join(broadcast(uni.select(col("x").as("y"), col("cx").as("cy"))),
            "y")
          .crossJoin(broadcast(uni.agg(sum("cx").as("n_tok"))))
          .crossJoin(broadcast(bg.agg(sum("cxy").as("n_big"))))
          .select(concat(col("x"), lit(" "), col("y")).as("bigram"),
            col("cxy"),
            round(log(
              (col("cxy").cast("double") / col("n_big"))
                / ((col("cx").cast("double") / col("n_tok"))
                   * (col("cy").cast("double") / col("n_tok")))), 6)
              .as("pmi"))
          .orderBy(col("pmi").desc, col("bigram"))
          .limit(50)
      },
      Some("""WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT x, COUNT(*) AS cx
        |  FROM (SELECT unnest(w) AS x FROM d) GROUP BY 1),
        |bg AS (SELECT b, COUNT(*) AS cxy
        |  FROM (SELECT unnest([w[i]||' '||w[i+1] for i in range(1, len(w))]) AS b
        |        FROM d) GROUP BY 1),
        |tot AS (SELECT (SELECT SUM(cx) FROM uni) AS n_tok,
        |               (SELECT SUM(cxy) FROM bg) AS n_big)
        |SELECT b AS bigram, CAST(cxy AS BIGINT) AS cxy,
        |  round(ln((CAST(cxy AS DOUBLE) / n_big)
        |    / ((CAST(ux.cx AS DOUBLE) / n_tok)
        |       * (CAST(uy.cx AS DOUBLE) / n_tok))), 6) AS pmi
        |FROM bg
        |CROSS JOIN tot
        |JOIN uni ux ON ux.x = string_split(b, ' ')[1]
        |JOIN uni uy ON uy.x = string_split(b, ' ')[2]
        |WHERE cxy >= 5
        |ORDER BY pmi DESC, bigram
        |LIMIT 50""".stripMargin)),

    // ---- inverted index (term -> sorted posting list) ----
    // Builds search postings over the doc_id % 50 = 0 shard: per term, the
    // document frequency and the comma-joined sorted doc_id list. The
    // posting list is the canonical text-retrieval structure; group-and-
    // sort-within-key is exactly Spark's aggregate shape, and the sharding
    // bounds each posting string (at full scale postings would be written
    // as bucketed arrays, same plan shape).
    QueryDef("q156_inverted_index",
      (s, dir) => Tables.documents(s, dir)
        .filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("term"))
        .distinct()
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          array_join(expr("transform(array_sort(collect_list(doc_id))," +
            " x -> cast(x as string))"), ",").as("postings"))
        .orderBy("term"),
      Some("""WITH td AS (
        |  SELECT DISTINCT term, doc_id
        |  FROM (SELECT unnest(string_split(text, ' ')) AS term, doc_id
        |        FROM documents WHERE doc_id % 50 = 0))
        |SELECT term, COUNT(*) AS df,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |    AS postings
        |FROM td
        |GROUP BY term
        |ORDER BY term""".stripMargin)),

    // ---- triangle counting on the near-dup similarity graph ----
    // Edges = Jaccard-0.3 near-dup pairs (i < j); triangles are the
    // two-path + closing-edge join e1(i,j) ⋈ e2(j,k) ⋈ e3(i,k), the
    // standard distributed formulation — with i<j<k ordering each
    // triangle is counted exactly once. The edge list is orders of
    // magnitude smaller than the corpus, so both joins broadcast; at
    // web scale the same plan runs as shuffled hash joins partitioned
    // on the shared vertex.
    QueryDef("q160_triangle_count",
      (s, dir) => {
        // materialize the (small) near-dup edge list once: the triangle
        // join references it three times, and each reference would
        // otherwise recompute the whole shingle/pair pipeline (measured
        // ~3× the query's cost)
        val e = Dedup.ngramJaccardPairs(Tables.documents(s, dir),
            "doc_id", "text", 3, 0.3)
          .select("i", "j")
          .pin()
        val e2 = e.select(col("i").as("j2"), col("j").as("k"))
        val e3 = e.select(col("i").as("i3"), col("j").as("k3"))
        e.join(e2, col("j") === col("j2"))
          .join(e3, col("i") === col("i3") && col("k") === col("k3"))
          .select("i", "j", "k")
          .orderBy("i", "j", "k")
      },
      Some(s"""$shingleCte,
        |e AS (SELECT i, j FROM pairs
        |      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.3)
        |SELECT e1.i AS i, e1.j AS j, e2.j AS k
        |FROM e e1
        |JOIN e e2 ON e2.i = e1.j
        |JOIN e e3 ON e3.i = e1.i AND e3.j = e2.j
        |ORDER BY e1.i, e1.j, e2.j""".stripMargin)),

    // ---- BM25 relevance scoring ----
    // Okapi BM25 (k1 = 1.2, b = 0.75) of every document against the query
    // {table, join, fast}: tf and doc-length from one explode-aggregate,
    // df per query term from the same pass, idf = ln((N-df+.5)/(df+.5)+1).
    // Per-term contributions are summed through dsum (decimal-6) so the
    // 3-term sum is order-independent; ln is libm → round 6 both sides.
    // The query-term tables are tiny → broadcast; the corpus side is one
    // shuffle on (doc, term).
    QueryDef("q161_bm25_scoring",
      (s, dir) => bm25Scores(s, dir, Seq("table", "join", "fast"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20),
      Some(s"""WITH ${bm25OracleCtes(Seq("table", "join", "fast"))}
        |SELECT doc_id, bm25 FROM bm
        |ORDER BY bm25 DESC, doc_id
        |LIMIT 20""".stripMargin)),

    // ---- exact-substring span dedup (duplicated 8-gram coverage) ----
    // The token-span variant of exact-substring training-data dedup (Lee
    // et al. 2021): slide an 8-token window over every document, find
    // spans shared verbatim across ≥2 documents, and report each doc's
    // duplicated-span fraction — the signal used to crop or drop
    // boilerplate-heavy documents. Plan shape: one generate (the sliding
    // window is a per-row transform over the token array, no join), one
    // aggregate on the span key (the inverted-index shuffle), and a
    // re-join on the same key that AQE plans without a second exchange
    // of the big side. At 100 TB the span table is the big intermediate;
    // it partitions by span hash and never collects.
    QueryDef("q171_span_dedup",
      (s, dir) => {
        // native one-pass gram extraction (WordGrams) instead of the
        // interpreted transform+slice+array_join lambda per gram — same
        // gram multiset (r20, guide per-task work); the < 8-token guard
        // lives inside the expression (empty array → explode drops)
        val g = Tables.documents(s, dir)
          .select(col("doc_id"), explode(graft.functions.TextExpressions
            .wordGrams(col("text"), 8)).as("gram"))
        val dup = g.groupBy("gram")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2)
          .select(col("gram"), lit(1).as("is_dup"))
        g.join(dup, Seq("gram"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(coalesce(col("is_dup"), lit(0))).as("n_dup"))
          .select(col("doc_id"), col("n_grams"), col("n_dup"),
            round(col("n_dup").cast("double") / col("n_grams"), 6)
              .as("dup_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 6),
        |      i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS gram
        |  FROM toks WHERE len(t) >= 8),
        |dup AS (
        |  SELECT gram FROM g GROUP BY gram
        |  HAVING COUNT(DISTINCT doc_id) >= 2)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN gram IN (SELECT gram FROM dup)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(CAST(CAST(SUM(CASE WHEN gram IN (SELECT gram FROM dup)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) / COUNT(*), 6)
        |    AS dup_frac
        |FROM g GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)),

    // ---- per-source KL divergence from the corpus token mix ----
    // Domain-drift screen run before mixing corpus sources: each source's
    // unigram distribution vs the global one, KL(source ‖ corpus) =
    // Σ p·ln(p/q). One token aggregate, margins by window sums over the
    // (small) source × token table, per-source reduce through the exact
    // decimal accumulator (order-independent); ln is libm → the
    // established dsum-then-round-6 contract (q137).
    QueryDef("q172_source_kl",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val c = Tables.documents(s, dir)
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("n"))
        val m = c.select(col("source"), col("tok"), col("n"),
          sum("n").over(Window.partitionBy("source")).as("n_src"),
          sum("n").over(Window.partitionBy("tok")).as("n_tok"),
          sum("n").over(Window.partitionBy()).as("n_tot"))
        m.groupBy("source")
          .agg(dsum((col("n").cast("double") / col("n_src"))
            * log((col("n").cast("double") / col("n_src"))
              / (col("n_tok").cast("double") / col("n_tot")))).as("klsum"))
          .select(col("source"), round(col("klsum"), 6).as("kl"))
          .orderBy("source")
      },
      Some(s"""WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT source, tok, COUNT(*) AS n FROM tok GROUP BY 1, 2),
        |m AS (
        |  SELECT source, tok, n,
        |    SUM(n) OVER (PARTITION BY source) AS n_src,
        |    SUM(n) OVER (PARTITION BY tok) AS n_tok,
        |    SUM(n) OVER () AS n_tot
        |  FROM c)
        |SELECT source,
        |  round(${sqlDsum("(CAST(n AS DOUBLE) / n_src)" +
            " * ln((CAST(n AS DOUBLE) / n_src)" +
            " / (CAST(n_tok AS DOUBLE) / n_tot))")}, 6) AS kl
        |FROM m GROUP BY source
        |ORDER BY source""".stripMargin)),

    // ---- cross-source duplication overlap matrix ----
    // The corpus-mixing audit: for every source pair, how many distinct
    // content fingerprints (q31's sorted-distinct-token hash) they share.
    // Fingerprints reduce each doc to one 32-char key, so the overlap
    // join is fingerprint-keyed — inverted-index shaped, never
    // docs × docs — and the output is the bounded source × source census.
    QueryDef("q182_source_overlap",
      (s, dir) => {
        val fp = Tables.documents(s, dir)
          .select(TA.fingerprint(col("text")).as("f"), col("source"))
          .distinct()
        fp.toDF("f", "sa").join(fp.toDF("f2", "sb"),
            col("f") === col("f2") && col("sa") < col("sb"))
          .groupBy("sa", "sb").agg(count(lit(1)).as("shared_docs"))
          .orderBy("sa", "sb")
      },
      Some("""WITH fp AS (
        |  SELECT DISTINCT
        |    md5(array_to_string(list_sort(list_distinct(
        |      string_split(lower(text), ' '))), ' ')) AS f,
        |    source
        |  FROM documents)
        |SELECT a.source AS sa, b.source AS sb, COUNT(*) AS shared_docs
        |FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
        |GROUP BY 1, 2
        |ORDER BY sa, sb""".stripMargin)),

    // ---- log-odds token divergence between two languages ----
    // The drill-down behind q172's KL screen: per-token Haldane-smoothed
    // log-odds ln((cₐ+½)/(Nₐ−cₐ+½)) − ln((c_b+½)/(N_b−c_b+½)) between
    // the two corpora — the "what words make these domains differ"
    // report. One token aggregate pivoted to per-token (cₐ, c_b) counts;
    // margins are broadcast scalars; ln follows the round-6 contract.
    QueryDef("q183_log_odds",
      (s, dir) => {
        val c = Tables.documents(s, dir)
          .filter(col("lang").isin("en", "es"))
          .select(col("lang"), explode(split(col("text"), " ")).as("t"))
          .groupBy("t")
          .agg(sum(when(col("lang") === "en", 1).otherwise(0)).as("ca"),
            sum(when(col("lang") === "es", 1).otherwise(0)).as("cb"))
        val tot = c.agg(sum("ca").as("na"), sum("cb").as("nb"))
        c.crossJoin(broadcast(tot))
          .select(col("t"), col("ca"), col("cb"),
            round(log((col("ca") + 0.5d) / (col("na") - col("ca") + 0.5d))
              - log((col("cb") + 0.5d) / (col("nb") - col("cb") + 0.5d)), 6)
              .as("log_odds"))
          .orderBy("t")
      },
      Some("""WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS t
        |  FROM documents WHERE lang IN ('en', 'es')),
        |c AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM tok GROUP BY t),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |               CAST(SUM(cb) AS BIGINT) AS nb FROM c)
        |SELECT t, ca, cb,
        |  round(ln((ca + CAST(0.5 AS DOUBLE))
        |      / (na - ca + CAST(0.5 AS DOUBLE)))
        |    - ln((cb + CAST(0.5 AS DOUBLE))
        |      / (nb - cb + CAST(0.5 AS DOUBLE))), 6) AS log_odds
        |FROM c CROSS JOIN tot
        |ORDER BY t""".stripMargin)),

    // ---- degree assortativity of the near-dup graph ----
    // Do duplicated documents cluster hub-to-hub or hub-to-leaf? Pearson
    // correlation of endpoint degrees over the directed edge list — the
    // graph-structure audit run before choosing a clustering strategy.
    // Degrees and all correlation components are exact integers; the
    // zero-variance case (a graph of perfect cliques) returns NULL by an
    // exact integer guard on both engines instead of dividing 0/0.
    QueryDef("q198_degree_assortativity",
      (s, dir) => {
        val e = Dedup.ngramJaccardPairs(Tables.documents(s, dir),
            "doc_id", "text", 3, 0.3)
          .select("i", "j").pin()
        val dirE = e.unionAll(e.select(col("j"), col("i"))).toDF("src", "dst")
        val deg = dirE.groupBy("src").agg(count(lit(1)).as("d"))
        val dd = dirE
          .join(broadcast(deg.toDF("src", "x")), Seq("src"))
          .join(broadcast(deg.toDF("dst", "y")), Seq("dst"))
        val m = dd.agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("qx"),
          sum(col("y") * col("y")).as("qy"),
          sum(col("x") * col("y")).as("sxy"))
        // the variance guard compares in DECIMAL(38,0): sx² wraps int64
        // once a near-dup clique reaches ~1500 docs (n·qx ≈ 2^63) —
        // silently on Spark, an error on DuckDB (the q176 lesson)
        val big = org.apache.spark.sql.types.DecimalType(38, 0)
        m.select(col("n"),
          when(col("n").cast(big) * col("qx")
                - col("sx").cast(big) * col("sx") > 0
              && col("n").cast(big) * col("qy")
                - col("sy").cast(big) * col("sy") > 0,
            round((col("n") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
              / (sqrt(col("n") * col("qx").cast("double")
                  - col("sx").cast("double") * col("sx").cast("double"))
                * sqrt(col("n") * col("qy").cast("double")
                  - col("sy").cast("double") * col("sy").cast("double"))),
              6)).as("assortativity"))
      },
      Some(s"""$shingleCte,
        |e AS (SELECT i, j FROM pairs
        |      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.3),
        |dirE AS (SELECT i AS src, j AS dst FROM e
        |         UNION ALL SELECT j, i FROM e),
        |deg AS (SELECT src, COUNT(*) AS d FROM dirE GROUP BY src),
        |dd AS (
        |  SELECT ds.d AS x, dt.d AS y
        |  FROM dirE JOIN deg ds ON dirE.src = ds.src
        |  JOIN deg dt ON dirE.dst = dt.src),
        |m AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * x) AS BIGINT) AS qx,
        |    CAST(SUM(y * y) AS BIGINT) AS qy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM dd)
        |SELECT n,
        |  CASE WHEN CAST(n AS DECIMAL(38,0)) * qx
        |         - CAST(sx AS DECIMAL(38,0)) * sx > 0
        |       AND CAST(n AS DECIMAL(38,0)) * qy
        |         - CAST(sy AS DECIMAL(38,0)) * sy > 0 THEN
        |    round((n * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (sqrt(n * CAST(qx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * sqrt(n * CAST(qy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |  END AS assortativity
        |FROM m""".stripMargin)),

    // ---- the end-to-end curation pipeline, composed ----
    // The "switch your corpus pipeline to this library" proof: quality
    // gate (q29's score, threshold 0.68) → exact dedup on the content
    // fingerprint keeping the lowest id (q31) → n-gram-Jaccard near-dup
    // graph → connected components → one survivor per cluster by
    // (n_chars, −doc_id) (q103) → per-language corpus census. Every
    // stage is the already-oracle-checked operator, COMPOSED; the oracle
    // below chains the same stages as one CTE, so the whole pipeline —
    // not just its parts — is hash-checked end to end.
    QueryDef("q200_curation_pipeline",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val quality = Tables.documents(s, dir)
          .filter(TA.qualityScore(col("text")) >= 0.68)
        // materialize the exact-dedup survivors once: four downstream
        // references (pair generation, member join, anti-join, semi-join)
        // would otherwise each recompute the quality + fingerprint +
        // window stack (measured ~2× the composed pipeline's cost)
        val keep1 = quality
          .withColumn("fp", TA.fingerprint(col("text")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("fp").orderBy("doc_id")))
          .filter(col("rn") === 1)
          .select("doc_id", "lang", "n_chars", "text")
          .pin()
        val pairs = Dedup.ngramJaccardPairs(keep1, "doc_id", "text", 3, 0.5)
        val comp = Dedup.connectedComponents(pairs)
        val members = comp.join(keep1, comp("id") === keep1("doc_id"))
        val survIds = members.groupBy("label")
          .agg(max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id")))
            .as("sid"))
          .select("sid")
        val finalKept = keep1
          .join(comp.select("id"), keep1("doc_id") === col("id"), "left_anti")
          .unionByName(keep1.join(survIds,
            keep1("doc_id") === col("sid"), "left_semi"))
        finalKept.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
          .orderBy("lang")
      },
      Some(s"""WITH RECURSIVE q AS (
        |  SELECT doc_id, lang, n_chars, text FROM documents
        |  WHERE 0.4 * least(1.0, len(string_split(text, ' ')) / 50.0)
        |    + 0.3 * (1.0 - len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the', 'a')))
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE))
        |    + 0.3 * least(1.0, (length(replace(text, ' ', ''))
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 6.0)
        |    >= 0.68),
        |keep1 AS (
        |  SELECT doc_id, lang, n_chars, text FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY md5(array_to_string(list_sort(list_distinct(
        |        string_split(lower(text), ' '))), ' '))
        |      ORDER BY doc_id) AS rn
        |    FROM q) WHERE rn = 1),
        |${shingleCteFor("keep1")},
        |jpairs AS (SELECT i, j FROM pairs
        |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5),
        |edges AS (SELECT i AS src, j AS dst FROM jpairs
        |          UNION ALL SELECT j, i FROM jpairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
        |comp AS (SELECT id, min(r) AS label FROM reach GROUP BY id),
        |surv AS (
        |  SELECT doc_id FROM (
        |    SELECT k.doc_id, row_number() OVER (PARTITION BY c.label
        |      ORDER BY k.n_chars DESC, k.doc_id ASC) AS rk
        |    FROM comp c JOIN keep1 k ON c.id = k.doc_id) WHERE rk = 1),
        |final AS (
        |  SELECT * FROM keep1
        |  WHERE doc_id NOT IN (SELECT id FROM comp)
        |     OR doc_id IN (SELECT doc_id FROM surv))
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM final GROUP BY lang
        |ORDER BY lang""".stripMargin)),

    // ---- classifier calibration curve (score deciles vs outcome) ----
    // The eval plot behind every quality-filter threshold choice: does
    // the q29 quality score actually predict the outcome it gates on?
    // Scores decile-bucketed (deterministic (quality, doc_id) order —
    // the engines compute identical score doubles, q29's gate), outcome
    // = document length ≥ the exact corpus median (rank-positional, tie-
    // safe), per-decile mean score and outcome rate. Measured on this
    // corpus the curve is sharply monotone (0% long docs in decile 1 →
    // 98% in decile 9) — the score is predictive, the q200 threshold
    // defensible.
    //
    // Scale shape: the median never sorts the corpus — it is the least
    // length whose cumulative census count reaches rank (n+1) div 2,
    // over the domain-bounded length census (same decomposition as
    // q185/q189). The decile window ranks the near-continuous score, so
    // it stays rank-positional over the eval population — calibration
    // runs on a scored SAMPLE at extreme scale (or deciles from a merged
    // score-quantile sketch), which this query models.
    QueryDef("q204_calibration_curve",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val q = Tables.documents(s, dir).select(col("doc_id"),
          col("n_chars"), TA.qualityScore(col("text")).as("quality"))
        val lc = Tables.documents(s, dir).groupBy("n_chars")
          .agg(count(lit(1)).as("kc"))
          .pin() // cum window + total read the tiny census
        val med = lc.select(col("n_chars"),
            sum("kc").over(Window.orderBy("n_chars")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("cum"))
          .crossJoin(broadcast(lc.agg(sum("kc").as("n"))))
          .filter(col("cum") >= expr("(n + 1) div 2"))
          .agg(min(col("n_chars")).as("m"))
        q.crossJoin(broadcast(med))
          .select(ntile(10).over(
              Window.orderBy(col("quality").asc, col("doc_id").asc))
              .as("decile"),
            col("quality"),
            (col("n_chars") >= col("m")).cast("int").as("is_long"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n"),
            round(davg(col("quality")), 6).as("mean_quality"),
            round(sum("is_long").cast("double") / count(lit(1)), 6)
              .as("frac_long"))
          .orderBy("decile")
      },
      Some(s"""WITH q AS (
        |  SELECT doc_id, n_chars,
        |    0.4 * least(1.0, len(string_split(text, ' ')) / 50.0)
        |    + 0.3 * (1.0 - len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the', 'a')))
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE))
        |    + 0.3 * least(1.0, (length(replace(text, ' ', ''))
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 6.0)
        |      AS quality
        |  FROM documents),
        |med AS (
        |  SELECT n_chars AS m FROM (
        |    SELECT n_chars,
        |      row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
        |      COUNT(*) OVER () AS n FROM q)
        |  WHERE rn = (n + 1) // 2),
        |d AS (
        |  SELECT CAST(ntile(10) OVER (ORDER BY quality ASC, doc_id ASC)
        |      AS INTEGER) AS decile,
        |    quality,
        |    CASE WHEN n_chars >= (SELECT m FROM med)
        |      THEN 1 ELSE 0 END AS is_long
        |  FROM q)
        |SELECT decile, COUNT(*) AS n,
        |  round(${sqlDavg("quality")}, 6) AS mean_quality,
        |  round(CAST(CAST(SUM(is_long) AS BIGINT) AS DOUBLE) / COUNT(*), 6)
        |    AS frac_long
        |FROM d GROUP BY decile
        |ORDER BY decile""".stripMargin)),

    // ---- context-window chunking + deterministic training order ----
    // The tokenize-and-chunk step every pretraining pipeline runs before
    // packing: slide a 32-token window with stride 24 (8-token overlap, so
    // no boundary loses context) over each document and emit one row per
    // chunk, keyed for a content-addressed global shuffle — the training
    // order is h48(doc, chunk), a pure function of identity, so any cluster
    // size, file layout, or re-run shards the corpus into the identical
    // order (same discipline as the q62 split). Plan shape: one generate
    // per row (sequence→transform→posexplode), no join, no shuffle until
    // the final order — at 100 TB chunking is a pure map and the shuffle
    // key is already uniform, so range partitioning by shuffle_key has
    // zero skew by construction.
    QueryDef("q209_context_chunking",
      (s, dir) => {
        val t = Tables.documents(s, dir)
          .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
          .select(col("doc_id"), col("w"), posexplode(expr(
            "transform(sequence(0, (size(w)-1) div 24)," +
              " k -> array_join(slice(w, k*24+1, 32), ' '))"))
            .as(Seq("chunk_idx", "chunk")))
        t.select(col("doc_id"), col("chunk_idx"),
            least(lit(32), size(col("w")) - col("chunk_idx") * 24).as("n_tok"),
            md5(col("chunk")).as("chunk_md5"),
            graft.util.StableHash.h48(concat(col("doc_id").cast("string"),
              lit("_"), col("chunk_idx").cast("string"))).as("shuffle_key"))
          .orderBy("shuffle_key", "doc_id", "chunk_idx")
      },
      // the range(0, 256) scaffold bounds documents at 256 chunks — a
      // 6144-token ceiling ((n-1) div 24 <= 255), guarded by
      // Round6LSpec's chunk-cap test; the Spark side has no cap
      // (sequence is exact)
      Some(s"""WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (
        |  SELECT doc_id, CAST(k.k AS INTEGER) AS chunk_idx,
        |    array_to_string(w[(k.k*24+1):(k.k*24+32)], ' ') AS chunk,
        |    CAST(least(32, len(w) - k.k*24) AS INTEGER) AS n_tok
        |  FROM docs, (SELECT unnest(range(0, 256)) AS k) k
        |  WHERE k.k <= (len(w) - 1) // 24)
        |SELECT doc_id, chunk_idx, n_tok, md5(chunk) AS chunk_md5,
        |  ${graft.util.StableHash.sql48(
             "CAST(doc_id AS VARCHAR) || '_' || CAST(chunk_idx AS VARCHAR)")}
        |    AS shuffle_key
        |FROM ch
        |ORDER BY shuffle_key, doc_id, chunk_idx""".stripMargin)),

    // ---- BPE merge census (one byte-pair-encoding merge round) ----
    // The first step of BPE vocabulary induction: corpus-frequency counts
    // of every adjacent character pair inside word tokens (occurrence-
    // weighted, not per-document — BPE merges on corpus frequency), ranked
    // into the merge-priority list; rank 1 is the pair the next merge
    // would fuse. Integer counts → exact on any engine. Plan shape: two
    // generates (token explode, pair explode) then one hash aggregate on
    // pair — partial map-side combine makes the shuffle |distinct pairs|,
    // tiny for any corpus over a fixed byte alphabet.
    QueryDef("q212_bpe_pair_census",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        Tables.documents(s, dir)
          .select(explode(split(col("text"), " ", -1)).as("w"))
          .filter(length(col("w")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, length(w)-1), i -> substring(w, i, 2))"))
            .as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(20)
          .withColumn("rn", row_number()
            .over(Window.orderBy(col("cnt").desc, col("pair"))))
          .orderBy("rn")
      },
      Some("""WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (
        |  SELECT unnest([substr(w, i, 2) for i in range(1, len(w))]) AS pair
        |  FROM w WHERE len(w) >= 2)
        |SELECT pair, COUNT(*) AS cnt,
        |  CAST(row_number() OVER (ORDER BY COUNT(*) DESC, pair)
        |    AS INTEGER) AS rn
        |FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair
        |LIMIT 20""".stripMargin)),

    // ---- the chunk-level training-mix pipeline, composed ----
    // Flagship #2 (q200's document-curation sibling, on the CHUNK axis):
    // quality gate (q29, ≥0.68) → exact document dedup on the content
    // fingerprint (q31, lowest id) → context-window chunking (q209's
    // stride-24/window-32 grid) → cross-document chunk dedup on the chunk
    // fingerprint (boilerplate removal at chunk granularity — the min-
    // struct hash aggregate, not a window: no sort, map-side partials) →
    // mixture rebalance of the surviving chunks to uniform per-source
    // token share (q211's integer micro-unit epochs with hash-addressed
    // fractional repeats, keyed by (doc, chunk)). Output is the per-source
    // planning audit. Every stage is an already-oracle-checked operator,
    // COMPOSED; the oracle chains the same stages as one CTE, so the
    // pipeline is hash-checked END TO END, not just per part.
    QueryDef("q213_chunk_mix_pipeline",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val keep1 = Tables.documents(s, dir)
          .filter(TA.qualityScore(col("text")) >= 0.68)
          .withColumn("fp", TA.fingerprint(col("text")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("fp").orderBy("doc_id")))
          .filter(col("rn") === 1)
          .select("doc_id", "source", "text")
        val chunks = keep1
          .select(col("doc_id"), col("source"),
            split(col("text"), " ", -1).as("w"))
          .select(col("doc_id"), col("source"), col("w"), posexplode(expr(
            "transform(sequence(0, (size(w)-1) div 24)," +
              " k -> array_join(slice(w, k*24+1, 32), ' '))"))
            .as(Seq("chunk_idx", "chunk")))
          .select(col("doc_id"), col("source"), col("chunk_idx"),
            least(lit(32), size(col("w")) - col("chunk_idx") * 24)
              .as("n_tok"),
            md5(col("chunk")).as("cfp"))
        // chunk survivor = lexicographic min (doc_id, chunk_idx) per
        // fingerprint; n_tok/source ride along in the struct. Pinned once:
        // the two schedule aggregates and the repeat map all read it.
        val dedup = chunks.groupBy("cfp")
          .agg(min(struct(col("doc_id"), col("chunk_idx"), col("n_tok"),
            col("source"))).as("sv"))
          .select(col("sv.doc_id").as("doc_id"),
            col("sv.chunk_idx").as("chunk_idx"),
            col("sv.n_tok").as("n_tok"), col("sv.source").as("source"))
          .pin()
        val src = dedup.groupBy("source")
          .agg(count(lit(1)).as("n_chunks"), sum("n_tok").as("tokens"))
        val tot = src.agg(sum("tokens").as("total_tokens"),
          count(lit(1)).as("n_sources"))
        val sched = src.crossJoin(broadcast(tot))
          .select(col("source"), col("n_chunks"), col("tokens"),
            expr("(total_tokens div n_sources) * 1000000 div tokens")
              .as("epochs_micro"))
        dedup.join(broadcast(sched), "source")
          .select(col("source"), col("n_chunks"), col("tokens"),
            col("epochs_micro"), col("n_tok"),
            (expr("epochs_micro div 1000000")
              + when(graft.util.StableHash.h48(
                  concat(col("doc_id").cast("string"), lit("_"),
                    col("chunk_idx").cast("string"))) % 1000000L
                  < col("epochs_micro") % 1000000L, 1L).otherwise(0L))
              .as("rep"))
          .groupBy("source")
          .agg(min("n_chunks").as("n_chunks"), min("tokens").as("tokens"),
            min("epochs_micro").as("epochs_micro"),
            sum(col("rep")).as("planned_chunks"),
            sum(col("rep") * col("n_tok")).as("planned_tokens"))
          .orderBy("source")
      },
      Some(s"""WITH q AS (
        |  SELECT doc_id, source, text FROM documents
        |  WHERE 0.4 * least(1.0, len(string_split(text, ' ')) / 50.0)
        |    + 0.3 * (1.0 - len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the', 'a')))
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE))
        |    + 0.3 * least(1.0, (length(replace(text, ' ', ''))
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 6.0)
        |    >= 0.68),
        |keep1 AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY md5(array_to_string(list_sort(list_distinct(
        |        string_split(lower(text), ' '))), ' '))
        |      ORDER BY doc_id) AS rn
        |    FROM q) WHERE rn = 1),
        |docs2 AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w FROM keep1),
        |ch AS (
        |  SELECT doc_id, source, CAST(k.k AS INTEGER) AS chunk_idx,
        |    array_to_string(w[(k.k*24+1):(k.k*24+32)], ' ') AS chunk,
        |    CAST(least(32, len(w) - k.k*24) AS INTEGER) AS n_tok
        |  FROM docs2, (SELECT unnest(range(0, 256)) AS k) k
        |  WHERE k.k <= (len(w) - 1) // 24),
        |dch AS (
        |  SELECT doc_id, chunk_idx, n_tok, source FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(chunk)
        |      ORDER BY doc_id, chunk_idx) AS crn FROM ch)
        |  WHERE crn = 1),
        |src AS (SELECT source, COUNT(*) AS n_chunks,
        |    CAST(SUM(n_tok) AS BIGINT) AS tokens
        |  FROM dch GROUP BY source),
        |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
        |    COUNT(*) AS n_sources FROM src),
        |sched AS (SELECT source, n_chunks, tokens,
        |    ((total_tokens // n_sources) * 1000000) // tokens
        |      AS epochs_micro
        |  FROM src CROSS JOIN tot),
        |rep AS (
        |  SELECT d.source, s.n_chunks, s.tokens, s.epochs_micro, d.n_tok,
        |    s.epochs_micro // 1000000
        |      + CASE WHEN ${graft.util.StableHash.sql48(
             "CAST(d.doc_id AS VARCHAR) || '_' || CAST(d.chunk_idx AS VARCHAR)")}
        |            % 1000000
        |          < s.epochs_micro % 1000000 THEN 1 ELSE 0 END AS rep
        |  FROM dch d JOIN sched s ON d.source = s.source)
        |SELECT source, MIN(n_chunks) AS n_chunks, MIN(tokens) AS tokens,
        |  MIN(epochs_micro) AS epochs_micro,
        |  CAST(SUM(rep) AS BIGINT) AS planned_chunks,
        |  CAST(SUM(rep * n_tok) AS BIGINT) AS planned_tokens
        |FROM rep GROUP BY source
        |ORDER BY source""".stripMargin)),

    // ---- iterative BPE trainer (the full merge loop over q212's census) ----
    // 12 rounds of census → argmax → merge-apply over the distinct-word
    // table; output is the ordered merge table a tokenizer consumes.
    // Unlike q110's Lloyd iterations, the loop IS single-SQL-expressible:
    // the iteration count is a compile-time constant, so the oracle
    // unrolls all 12 rounds as a chain of MATERIALIZED CTEs (plain WITH
    // would inline each generation into its two consumers — 2^12 blowup).
    // Round7Spec additionally pins the merge table against an independent
    // driver-side brute-force trainer at two scale factors. See
    // TextAnalysis.bpeTrain for the scale shape (censused words, bounded
    // pair shuffle, one tiny collect per round, checkpoint release).
    QueryDef("q218_bpe_trainer",
      (s, dir) => graft.ext.TextAnalysis
        .bpeTrain(Tables.documents(s, dir), "text", 12)
        .orderBy("step"),
      Some(s"""WITH ${bpeTrainerCtes(BpeMerges)},
        |mt AS (${(1 to BpeMerges).map(k => s"SELECT * FROM b$k").mkString(" UNION ALL ")})
        |SELECT step, l AS "left", r AS "right", l || r AS merged, c AS cnt
        |FROM mt ORDER BY step""".stripMargin)),

    // ---- BPE tokenizer apply (encode under the q218-trained merges) ----
    // Train (12 driver-side argmax collects, the centroid discipline),
    // then encode: the replace-chain segmentation runs on the DISTINCT-
    // word census only (vocabulary-sized — 31 rows on this corpus), and
    // the word→token-count table broadcast-joins back to the exploded
    // corpus for the per-document aggregate. The corpus never shuffles
    // and never carries the merge chain; at 100 TB the only corpus-sized
    // ops are the scan and one per-doc-key aggregate. The oracle replays
    // the identical unrolled trainer, then encodes straight off the final
    // words generation (w12 carries word → surviving symbol string).
    QueryDef("q219_bpe_encode",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = graft.ext.TextAnalysis
          .bpeTrain(docs, "text", BpeMerges).orderBy("step")
          .select("left", "right").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        val dwords = docs
          .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("w"))
          .filter(length(col("w")) >= 1)
        val wtok = dwords.select("w").distinct()
          .withColumn("tok", graft.ext.TextAnalysis.bpeTokenCount(col("w"), merges))
        dwords.join(broadcast(wtok), "w")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(col("tok").cast("long")).as("n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${bpeTrainerCtes(BpeMerges)},
        |wtok AS (SELECT w, CAST(len(string_split(s, '|')) AS INT) AS tok FROM w$BpeMerges),
        |dwords AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 1)
        |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(t.tok) AS BIGINT) AS n_tokens
        |FROM dwords d JOIN wtok t USING (w)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),

    // ---- per-source ADAPTIVE quality threshold (census-sized cuts) ----
    // q29 filters on one fixed global cut; a curation pipeline that does
    // that lets a verbose source flood the pool and starves a terse one —
    // production quality gates derive the cut PER SOURCE from the score
    // distribution itself (keep each source's top quintile). Two shapes
    // exist for that and they scale differently: q243's rank quota runs a
    // row_number window over every corpus row per source; this one never
    // windows the corpus at all — the score is snapped to integer
    // micro-units (floor(q·10⁶ + 0.5): both engines floor the SAME
    // double, so the grid is bit-exact — the q158 midpoint discipline),
    // the census is one map-side-partial hash-agg bounded by the
    // 10⁶-value grid × |sources|, the nearest-rank-from-top cut
    // (largest value with ≥ ⌈n/5⌉ docs at-or-above — a DATA value, so
    // the keep comparison is integer-exact; interpolated quantiles are
    // the measured q158 trap) comes from a window over CENSUS rows only,
    // and the keep filter is a broadcast-join map pass. Threshold
    // semantics keep ties (≥ cut — the FineWeb-style gate), unlike the
    // quota's exact-count tie-break by id: the two differ exactly on
    // tie mass, which is why both exist.
    QueryDef("q247_adaptive_quality_cut",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val scored = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            floor(TA.qualityScore(col("text")) * lit(1e6) + lit(0.5))
              .as("q_micro"))
        val census = scored.groupBy("source", "q_micro")
          .agg(count(lit(1)).as("c"))
        val bySrc = Window.partitionBy("source")
        val cuts = census
          .withColumn("cum", sum("c").over(bySrc.orderBy(col("q_micro").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("n", sum("c").over(bySrc))
          .withColumn("k", expr("(n + 4) div 5")) // ceil(0.2 n), int
          .groupBy("source")
          .agg(max(when(col("cum") >= col("k"), col("q_micro")))
            .as("cut_micro"))
        scored.join(broadcast(cuts), "source")
          .filter(col("q_micro") >= col("cut_micro"))
          .select(col("doc_id"), col("source"), col("q_micro"),
            col("cut_micro"))
          .orderBy("doc_id")
      },
      Some("""WITH q AS (SELECT doc_id, source,
        |  CAST(floor((0.4 * least(1.0, len(string_split(text, ' ')) / 50.0)
        |    + 0.3 * (1.0 - len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) / CAST(len(string_split(text, ' ')) AS DOUBLE))
        |    + 0.3 * least(1.0, (length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 6.0)) * 1e6 + 0.5) AS BIGINT) AS q_micro
        |  FROM documents),
        |census AS (
        |  SELECT source, q_micro, COUNT(*) AS c FROM q GROUP BY 1, 2),
        |cum AS (
        |  SELECT source, q_micro,
        |    SUM(c) OVER (PARTITION BY source ORDER BY q_micro DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY source) AS n
        |  FROM census),
        |cuts AS (
        |  SELECT source,
        |    MAX(CASE WHEN cum >= (n + 4) // 5 THEN q_micro END) AS cut_micro
        |  FROM cum GROUP BY source)
        |SELECT q.doc_id, q.source, q.q_micro, c.cut_micro
        |FROM q JOIN cuts c USING (source)
        |WHERE q.q_micro >= c.cut_micro
        |ORDER BY doc_id""".stripMargin)),

    // ---- k-core decomposition of the near-dup graph ----
    // Coreness stratifies the duplicate graph the way triangle count
    // (q160) and CC (q65) cannot: CC says "these documents are related",
    // coreness says HOW DENSELY — boilerplate families and template farms
    // sit in high-k cores (every member near-dups many others), while
    // chains of pairwise-similar revisions stay at k=1. Curation drops or
    // collapses high-core groups first. Computed by neighborhood h-index
    // iteration (Lü et al. 2016: iterate c_v ← h-index of neighbors' c
    // from c = degree; the fixpoint IS the coreness), because the
    // textbook min-degree peel is inherently sequential while each
    // h-index round is one join + window + agg over the edge list —
    // the same plan at any cluster size. All-integer (BIGINT degrees),
    // so the DuckDB twin is the identical recursion unrolled 8 rounds
    // (Round14Spec pins fixture convergence within 8 — the operator
    // itself runs to the detected fixpoint). Edge list is the q160
    // Jaccard-0.3 graph: orders of magnitude smaller than the corpus,
    // loop runs at |E|-sized parallelism with the value table broadcast
    // (the 2|E| edges never reshuffle for the join).
    QueryDef("q248_kcore_decomposition",
      (s, dir) => {
        val e = Dedup.ngramJaccardPairs(Tables.documents(s, dir),
            "doc_id", "text", 3, 0.3)
          .select(col("i").as("src"), col("j").as("dst"))
        Graph.coreness(e)
          .select(col("id").as("doc_id"), col("coreness"))
          .orderBy("doc_id")
      },
      Some(fullCorenessOracleSql)),

    // ---- INCREMENTAL coreness maintenance (bounded recompute scope) ----
    // The maintenance-step counterpart of q248, composing the incremental
    // dedup machinery with the graph depth: an ingest batch lands, the
    // delta pair set arrives via the persisted posting index
    // (Dedup.incrementalCcPairsFromPostings — within-batch ∪ cross, the same
    // inverted-index equi-joins as CC maintenance), and coreness is
    // recomputed ONLY on the components the delta touches. The soundness
    // argument is structural: coreness is COMPONENT-LOCAL (the h-index
    // fixpoint of a vertex depends only on its component's edges), new
    // pairs can only change components they touch, so every vertex in an
    // untouched component keeps its STORED coreness verbatim — the
    // recompute scope is touched-components ∪ batch, typically
    // delta-sized, never the graph. The query require()s the scope was
    // actually bounded (a non-empty untouched remainder), so a fixture
    // where everything is touched fails loudly instead of demonstrating
    // nothing. The oracle is q248's FULL-graph recompute verbatim —
    // incremental must equal from-scratch exactly.
    QueryDef("q258_incremental_coreness",
      (s, dir) => graft.util.Pin.scope { pins =>
        val docs = Tables.documents(s, dir)
        val isNew = col("doc_id") % 5 === 0
        // persisted graph state a deployment carries: the corpus edge
        // list, its coreness table, and the CC labels (component ids)
        val oldEdges = pins(Dedup.ngramJaccardPairs(docs.filter(!isNew),
            "doc_id", "text", 3, 0.3).select("i", "j"))
        val oldCore = pins(pins.adopt(Graph.coreness(oldEdges
            .select(col("i").as("src"), col("j").as("dst")))))
        val labels = pins(pins.adopt(Dedup.connectedComponents(oldEdges)))
        val postings = pins(Dedup.ngramPostings(docs.filter(!isNew),
          "doc_id", "text", 3))
        val sizes = pins(Dedup.ngramPostingSizes(postings))
        val bp = pins(
          Dedup.ngramPostings(docs.filter(isNew), "doc_id", "text", 3))
        val newPairs = pins(Dedup.incrementalCcPairsFromPostings(postings,
          sizes, bp, 0.3))
        // affected scope: components touched by any delta endpoint — the
        // delta-sized endpoint set broadcasts, labels stream map-side
        val ends = newPairs.select(col("i").as("id"))
          .unionAll(newPairs.select(col("j").as("id"))).distinct()
        val touched = labels.join(broadcast(ends), Seq("id"), "left_semi")
          .select("label").distinct()
        val affected =
          pins(labels.join(broadcast(touched), "label").select("id"))
        // a component-closed subgraph: an edge is in a touched component
        // iff EITHER endpoint is (both are), so one semi-join suffices
        val affEdges = oldEdges
          .join(affected.select(col("id").as("i")), Seq("i"), "left_semi")
          .unionByName(newPairs)
        val recomputed = pins.adopt(Graph.coreness(
          affEdges.select(col("i").as("src"), col("j").as("dst"))))
        val untouched = pins(oldCore.join(affected, Seq("id"), "left_anti"))
        require(untouched.count() > 0,
          "the delta touched every component — the bounded-scope " +
            "demonstration is vacuous on this fixture")
        // the scope keeps only the pinned result's own pins
        untouched.unionByName(recomputed)
          .select(col("id").as("doc_id"), col("coreness"))
          .orderBy("doc_id").pin()
      },
      Some(fullCorenessOracleSql)),

    // ---- coreness over the PERSISTED bucketed edge layout (r17 #1) ----
    // q248 pays one full 2|E| probe scan per h-index round — on a 100 TB
    // near-dup graph that scan is the whole cost of a 1-vertex round.
    // Here the doubled edge list is persisted hive-partitioned by
    // pmod(v, B) (Graph.writeBucketedEdges — the q244/q260 posting
    // layout applied to edges) and every small-frontier round prunes its
    // semi-join probe to the frontier's bucket set AT THE SCAN
    // (PartitionFilters; Round18Spec pins files-read <= hit buckets).
    // Iterates are unchanged — a pruned bucket holds no frontier vertex
    // on its probe end — so the oracle is q248's verbatim.
    QueryDef("q265_kcore_bucketed_edges",
      (s, dir) => {
        val e = Dedup.ngramJaccardPairs(Tables.documents(s, dir),
            "doc_id", "text", 3, 0.3)
          .select(col("i").as("src"), col("j").as("dst"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_kcore_edges").toString
        try {
          Graph.writeBucketedEdges(e, s"$root/edges", 64)
          Graph.corenessBucketed(s, s"$root/edges")
            .select(col("id").as("doc_id"), col("coreness"))
            .orderBy("doc_id")
            .pin() // materialize before the dir dies
        } finally {
          graft.util.Dirs.rmTree(root)
        }
      },
      Some(fullCorenessOracleSql)),

    // ---- ADAPTIVE-schedule coreness (r17 #2) ----
    // sync vs delta was a caller knob where it should be a measurement:
    // the engine starts synchronous and flips to the delta schedule when
    // 2·Σ deg(changed) < |V| (candidates bound — see
    // Graph.corenessAdaptive). The iterates equal both fixed schedules
    // round for round, so the oracle is q248's verbatim; Round18Spec
    // pins eval-vector behavior on both the stay-sync (ring) and
    // flip-early (path) shapes.
    QueryDef("q266_kcore_adaptive_schedule",
      (s, dir) => {
        val e = Dedup.ngramJaccardPairs(Tables.documents(s, dir),
            "doc_id", "text", 3, 0.3)
          .select(col("i").as("src"), col("j").as("dst"))
        Graph.corenessAdaptive(e)
          .select(col("id").as("doc_id"), col("coreness"))
          .orderBy("doc_id")
      },
      Some(fullCorenessOracleSql)),

    // ---- corpus-duplicated span EXCISION (the rewrite q171 measures) ----
    // Exact-substring scrub (Lee et al. 2021, "Deduplicating Training
    // Data..."): q171 reports each doc's duplicated-8-gram fraction; this
    // operator performs the edit — every token position covered by an
    // 8-gram that appears in >= 2 distinct docs is excised and the text
    // rebuilt from the surviving positions, preserving order. The heavy
    // side is the same gram census q171 already pays (8x token explode,
    // hash-agg); the dup-gram set (boilerplate) is tiny relative to the
    // corpus, so the covering join prunes to it, and the rebuild is one
    // (doc_id,p)-keyed anti-join + per-doc sort-agg — token-level but
    // map-reducible, no corpus-sized window anywhere. Exact string ops
    // on both engines -> hash-exact oracle; Round14Spec pins coherence
    // with q171 (n_dup = 0 <=> text unchanged).
    QueryDef("q250_span_scrub",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
        val pos = toks
          .select(col("doc_id"), posexplode(col("t")).as(Seq("p0", "tok")))
          .select(col("doc_id"), (col("p0") + 1).as("p"), col("tok"))
        // native one-pass gram extraction (WordGrams) instead of the
        // interpreted transform+slice+array_join lambda per gram — same
        // grams, same 1-based positions (r20, guide per-task work)
        val g = Tables.documents(s, dir)
          .select(col("doc_id"), posexplode(graft.functions.TextExpressions
            .wordGrams(col("text"), 8)).as(Seq("g0", "gram")))
          .select(col("doc_id"), (col("g0") + 1).as("i"), col("gram"))
        val dup = g.groupBy("gram")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select("gram")
        val covered = g.join(dup, "gram")
          .select(col("doc_id"), explode(sequence(col("i"), col("i") + 7)).as("p"))
          .distinct()
        val rebuilt = pos.join(covered, Seq("doc_id", "p"), "left_anti")
          .groupBy("doc_id")
          .agg(concat_ws(" ", expr(
              "transform(array_sort(collect_list(named_struct(" +
                "'p', p, 'tok', tok))), x -> x.tok)")).as("clean_text"),
            count(lit(1)).as("n_kept"))
        toks.select(col("doc_id"), size(col("t")).cast("long").as("n_tok"))
          .join(rebuilt, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("clean_text"), lit("")).as("clean_text"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            (col("n_tok") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, i AS p, t[i] AS tok
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)),
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
        |kept AS (
        |  SELECT p.doc_id, p.p, p.tok FROM pos p
        |  WHERE NOT EXISTS (SELECT 1 FROM cov c
        |                    WHERE c.doc_id = p.doc_id AND c.p = p.p)),
        |reb AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
        |         CAST(COUNT(*) AS BIGINT) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id,
        |  COALESCE(r.clean_text, '') AS clean_text,
        |  COALESCE(r.n_kept, 0) AS n_kept,
        |  CAST(len(t.t) AS BIGINT) - COALESCE(r.n_kept, 0) AS n_removed
        |FROM toks t LEFT JOIN reb r USING (doc_id)
        |ORDER BY doc_id""".stripMargin))
  )

  /** The full-graph coreness recompute (Jaccard-0.3 edges over ALL
    * documents → 8 unrolled h-index rounds) — q248's oracle, and ALSO
    * q258's: corpus edges ∪ the incremental pair delta ≡ the full pair
    * set (a pair's Jaccard depends only on its two docs), so the
    * incremental maintenance must reproduce this exactly. Depth 8 ≥ the
    * fixture's fixpoint; extra rounds are no-ops past convergence.
    */
  private[queries] lazy val fullCorenessOracleSql: String =
    s"""$shingleCte,
      |e AS (SELECT i, j FROM pairs
      |      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.3),
      |sym AS MATERIALIZED (
      |  SELECT i AS v, j AS u FROM e UNION ALL SELECT j AS v, i AS u FROM e),
      |h0 AS (SELECT v, COUNT(*) AS c FROM sym GROUP BY v),
      |${hIndexRounds(8)}
      |SELECT v AS doc_id, c AS coreness FROM h8 ORDER BY doc_id""".stripMargin

  /** Unrolled h-index rounds for the q248 coreness oracle: round k ranks
    * each vertex's neighbor values descending and takes
    * max(least(rank, value)) — the h = max_i min(i, v_i) identity.
    * `sym` is MATERIALIZED above because all `depth` rounds reference it
    * (DuckDB inlines plain CTEs per reference — the shingle self-join
    * would recompute `depth`+1 times, the bpeTrainerCtes lesson).
    */
  private[queries] def hIndexRounds(depth: Int): String =
    (1 to depth).map { k =>
      s"""h$k AS (SELECT v, MAX(LEAST(rn, cu)) AS c FROM (
        |  SELECT s.v AS v, p.c AS cu,
        |    ROW_NUMBER() OVER (PARTITION BY s.v ORDER BY p.c DESC) AS rn
        |  FROM sym s JOIN h${k - 1} p ON p.v = s.u) GROUP BY v)""".stripMargin
    }.mkString(",\n")

  /** Merge-round count shared by q218 (trainer) and q219 (encode).
    * `final val` (constant-folded) — it is referenced during the queries
    * Seq's initializer above, where a runtime val would still be 0.
    */
  private[queries] final val BpeMerges = 12

  /** Unrolled-trainer oracle: generation k's words table `w{k}` and its
    * argmax merge `b{k}`, chained from the distinct-word census `w0`.
    * MATERIALIZED is load-bearing: each generation is read twice (pair
    * census + merge apply), and DuckDB inlines plain CTEs per reference —
    * the 12-deep chain would otherwise recompute w0 2^12 times. Symbol
    * arrays ride as '|'-joined strings so the merge apply is replace-all
    * (left-to-right non-overlapping — exactly bpeTrain's greedy fold; see
    * TextAnalysis.bpeSegment for the equivalence argument).
    */
  private[queries] def bpeTrainerCtes(n: Int): String = {
    val w0 =
      """w0 AS MATERIALIZED (
        |  SELECT w, list_aggregate(list_transform(range(1, len(w)+1), i -> w[i:i]),
        |           'string_agg', '|') AS s,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 1 GROUP BY w)""".stripMargin
    val gens = (1 to n).map { k =>
      s"""b$k AS MATERIALIZED (
         |  SELECT $k AS step, l, r, CAST(c AS BIGINT) AS c FROM (
         |    SELECT arr[i] AS l, arr[i+1] AS r, SUM(cnt) AS c
         |    FROM (SELECT string_split(s, '|') AS arr, cnt FROM w${k - 1}),
         |         LATERAL (SELECT unnest(range(1, len(arr))) AS i)
         |    GROUP BY 1, 2)
         |  ORDER BY c DESC, l, r LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT w.w, replace(w.s, b.l || '|' || b.r, b.l || b.r) AS s, w.cnt
         |  FROM w${k - 1} w CROSS JOIN b$k b)""".stripMargin
    }
    (w0 +: gens).mkString(",\n")
  }
}
