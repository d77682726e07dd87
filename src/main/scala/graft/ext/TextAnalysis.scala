package graft.ext
import graft.util.Pin._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines
  * (SURVEY.md §2.3 north-star extensions). All are pure Column expressions —
  * whole-stage-codegen'd, no UDFs — so they survive a 100× scale-up as plain
  * map-side work with zero shuffle.
  */
object TextAnalysis {

  /** Whitespace tokenization (the corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word k-shingles as space-joined strings; empty array below k tokens. */
  def shingles(text: Column, k: Int): Column = {
    val t = tokens(text)
    val idx = sequence(lit(0), size(t) - k)
    val mk = transform(idx, i => concat_ws(" ", (0 until k).map(o => element_at(t, (i + o + 1).cast("int"))): _*))
    when(size(t) >= k, mk).otherwise(array().cast("array<string>"))
  }

  /** Distinct shingle set (the unit for Jaccard/MinHash dedup) — native
    * single-pass expression; semantics identical to
    * `array_distinct(shingles(text, k))` but ~100× cheaper per row.
    */
  def shingleSet(text: Column, k: Int): Column =
    graft.functions.TextExpressions.distinctShingles(text, k)

  /** OpenRefine-style key-collision fingerprint: md5 of the sorted distinct
    * token set. Identical word sets collide regardless of order/repetition.
    * The token-set string is a single native expression (SortedDistinctTokens)
    * — the array_sort/array_distinct composition materializes three arrays
    * per row on the dedup hot path.
    */
  def fingerprint(text: Column): Column =
    md5(graft.functions.TextExpressions.sortedDistinctTokens(text))

  /** Count of non-overlapping occurrences of a literal pattern. */
  def occurrences(text: Column, pat: String): Column =
    ((length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(pat), ""))) / pat.length).cast("long")

  /** BPE-ish token count: letter runs, digit runs, isolated symbols. */
  def bpeishCount(text: Column): Column = regexp_count(text, lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))

  val StopWords: Seq[String] = Seq("the", "a")

  /** Fraction of tokens that are stopwords. Counted with zero-width-boundary
    * regex matches rather than `filter(tokens, ...)`: array higher-order
    * functions are CodegenFallback (interpreted per row), while regexp_count
    * stays inside whole-stage codegen — same result, ~2× cheaper on the
    * quality-filter hot path.
    */
  def stopwordRatio(text: Column): Column = {
    // \z (absolute end), not $: Java's $ also matches before a final line
    // terminator, which would count a stopword followed by a trailing
    // newline — the token filter this replaces would not
    val pat = "(?<=^| )(" + StopWords.mkString("|") + ")(?= |\\z)"
    regexp_count(text, lit(pat)) / size(tokens(text)).cast("double")
  }

  /** Tokens with [[StopWords]] removed (order preserved, duplicates kept).
    * An array higher-order `filter` — CodegenFallback, which is fine for a
    * per-document projection off the hot path; the codegen'd alternative
    * for hot paths is a regexp_replace chain (see [[stopwordRatio]]'s note).
    */
  def contentTokens(text: Column): Column =
    filter(tokens(text), t => !t.isInCollection(StopWords))

  /** Mean token length (chars excluding separators / token count). */
  def avgTokenLen(text: Column): Column =
    length(regexp_replace(text, " ", "")) / size(tokens(text)).cast("double")

  /** Composite quality score in [0,1]: length saturation, stopword
    * complement, word-length saturation — the standard cheap pre-filter
    * shape for web-scale text corpora.
    */
  def qualityScore(text: Column): Column =
    lit(0.4) * least(lit(1.0), size(tokens(text)) / lit(50.0)) +
      lit(0.3) * (lit(1.0) - stopwordRatio(text)) +
      lit(0.3) * least(lit(1.0), avgTokenLen(text) / lit(6.0))

  /** Character-bigram profiles per language (tiny, deterministic heuristic).
    * Each language scores by occurrences of its profile bigrams per char;
    * argmax wins, ties broken by language code order.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("sc", "ch", "er"),
    "en" -> Seq("th", "he", "in"),
    "es" -> Seq("de", "la", "os"),
    "fr" -> Seq("le", "es", "ou"),
    "zh" -> Seq("sh", "zh", "ng"))

  def langScore(text: Column, profile: Seq[String]): Column =
    profile.map(p => occurrences(text, p)).reduce(_ + _) / length(text).cast("double")

  /** Predicted language: argmax profile score, tie-break by language code. */
  def langId(text: Column): Column = {
    val scored = LangProfiles.map { case (code, prof) =>
      struct(langScore(text, prof).as("score"), lit(code).as("code"))
    }
    // array_max on (score, code) structs: max score, then max code — to keep
    // the FIRST code on ties we compare on (score, negated-rank) instead.
    val ranked = LangProfiles.zipWithIndex.map { case ((code, prof), i) =>
      struct(langScore(text, prof).as("score"), lit(-i).as("negrank"), lit(code).as("code"))
    }
    array_max(array(ranked: _*)).getField("code")
  }

  /** Iterative BPE vocabulary trainer (Sennrich et al. 2016): `nMerges`
    * rounds of census-argmax-merge over the corpus, returning the ordered
    * merge table (step, left, right, merged, cnt) — the artifact a
    * tokenizer consumes. One round of this loop is q212's pair census;
    * this is the full trainer.
    *
    * Scale shape (the q110/q131 iterative pattern):
    *  - the corpus compresses ONCE to the distinct-word census — every
    *    later round runs on |vocab| rows weighted by frequency, never on
    *    raw text (the classic BPE trainer identity: pair counts are
    *    word-frequency-weighted sums over unique words);
    *  - each round's pair census is one hash aggregate (map-side partial
    *    combine; the shuffle is |distinct adjacent pairs|, bounded by the
    *    symbol alphabet²), and the global argmax is a min(struct) scalar
    *    — one tiny collect per round, the kmeans-centroid discipline;
    *  - the merge applies as a pure left-fold projection over the
    *    censused word table (greedy non-overlapping left-to-right — the
    *    fold replacement is safe because `left+right` is strictly longer
    *    than `left`, so a just-merged symbol can never re-trigger within
    *    the pass);
    *  - each generation localCheckpoints (lineage would otherwise grow
    *    linearly in merges) and the previous generation is released via
    *    [[graft.util.Pin.scope]].
    * Pair counting matches q212: ALL adjacent index pairs (overlapping
    * occurrences count — "aaa" contributes (a,a) twice), tie-break on
    * (count DESC, left ASC, right ASC).
    */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
               nMerges: Int): org.apache.spark.sql.DataFrame = {
    require(nMerges >= 1, s"bpeTrain needs nMerges >= 1 (got $nMerges)")
    val spark = docs.sparkSession
    // The corpus compresses to its distinct-word census before any round
    // runs; when that census is DRIVER-BOUNDED (≤ [[BpeDriverVocabCap]]
    // rows — the centroid-table/merge-table bounded-state class, checked
    // by a limit(cap+1) probe, never an unbounded collect), the merge
    // recurrence folds locally: nMerges rounds over a vocabulary-sized
    // weighted word table cost ~2 Spark jobs per round as distributed
    // aggregates (measured ~2 s of pure job overhead at 12 merges on a
    // 31-word census) and microseconds as a local fold. Same recurrence,
    // same (count DESC, left ASC, right ASC) tie-break compared in UTF-8
    // byte order (= Spark's UTF8String struct-min ordering), so the merge
    // table is bit-identical (oracle + Round9/20 specs pin it). A census
    // past the cap keeps the distributed loop below — the 100 TB shape is
    // unchanged.
    val censusDf = docs
      .select(explode(split(col(textCol), " ", -1)).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val probe = censusDf.limit(BpeDriverVocabCap + 1).collect()
    if (probe.length <= BpeDriverVocabCap)
      bpeTrainLocal(spark, probe.map(r =>
        (r.getString(0), r.getLong(1))), nMerges)
    else bpeTrainDistributed(censusDf, nMerges)
  }

  /** [[bpeTrain]] plus the corpus's DISTINCT-WORD table from the same
    * census pass (r21): the tokenized tails (q267/q269/q270) trained the
    * vocab and then re-scanned the corpus for `distinct` words to carry
    * the word→token-count broadcast — but the trainer's census probe IS
    * that distinct set. When the census is driver-bounded the vocab
    * frame is rebuilt locally from the already-collected probe (zero
    * extra jobs); past the cap it shares the census subtree. Returns
    * (merge table, one-column `w` distinct-word frame) — identical
    * content to `docs.select(explode(split(text))).filter(len>=1)
    * .distinct()`.
    */
  def bpeTrainAndVocab(docs: org.apache.spark.sql.DataFrame, textCol: String,
      nMerges: Int): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    require(nMerges >= 1, s"bpeTrainAndVocab needs nMerges >= 1 (got $nMerges)")
    val spark = docs.sparkSession
    import spark.implicits._
    val censusDf = docs
      .select(explode(split(col(textCol), " ", -1)).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val probe = censusDf.limit(BpeDriverVocabCap + 1).collect()
    if (probe.length <= BpeDriverVocabCap)
      (bpeTrainLocal(spark, probe.map(r =>
          (r.getString(0), r.getLong(1))), nMerges),
        probe.map(_.getString(0)).toSeq.toDF("w"))
    else (bpeTrainDistributed(censusDf, nMerges), censusDf.select("w"))
  }

  /** The distributed [[bpeTrain]] merge loop over an un-collectable word
    * census (w, cnt) — package-visible so the spec can pin local ≡
    * distributed on the same fixture without a 64k-word corpus.
    */
  private[graft] def bpeTrainDistributed(censusDf: org.apache.spark.sql.DataFrame,
      nMerges: Int): org.apache.spark.sql.DataFrame = {
    val spark = censusDf.sparkSession
    import spark.implicits._
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    graft.util.Pin.scope { pins =>
      var words = pins(censusDf
        .select(expr(
          "transform(sequence(1, length(w)), i -> substring(w, i, 1))")
          .as("syms"), col("cnt")))
      for (step <- 1 to nMerges) {
        // sequence(1, size-1) flips to a DESCENDING range on single-symbol
        // words — guard to an empty pair list (explode then drops the row)
        val pairs = words
          .select(explode(when(size(col("syms")) >= 2, expr(
              "transform(sequence(1, size(syms) - 1)," +
                " i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
            .otherwise(expr("cast(array() as array<struct<l:string,r:string>>)")))
            .as("p"), col("cnt"))
        val best = pairs
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("cnt")).as("c"))
          .agg(min(struct((-col("c")).as("nc"), col("l"), col("r"))).as("b"))
          .select(col("b.l"), col("b.r"), (-col("b.nc")).as("c"))
          .collect()
        if (best.nonEmpty && !best(0).isNullAt(0)) {
          val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((step, l, r, l + r, c))
          val next = pins(words.select(
              aggregate(col("syms"), expr("cast(array() as array<string>)"),
                (acc, s) => when(size(acc) > 0
                    && element_at(acc, -1) === lit(l) && s === lit(r),
                  concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
                  .otherwise(concat(acc, array(s)))).as("syms"),
              col("cnt")))
          pins.release(words)
          words = next
        }
      }
    }
    merges.toSeq.toDF("step", "left", "right", "merged", "cnt")
  }

  /** Census rows above which [[bpeTrain]] stays on the distributed loop.
    * 64k (word, cnt) rows is comfortably bounded driver state (the
    * kmeans-centroid class); real web-scale vocabularies blow past it and
    * keep the distributed path.
    */
  val BpeDriverVocabCap: Int = 65536

  /** The [[bpeTrain]] recurrence as a local fold over a driver-bounded
    * word census — identical pair counting (ALL adjacent index pairs,
    * frequency-weighted), identical argmax tie-break ((count DESC, left
    * ASC, right ASC) with strings in unsigned UTF-8 byte order, exactly
    * UTF8String's struct-min comparison), identical greedy leftmost
    * non-overlapping merge application.
    */
  private def bpeTrainLocal(spark: org.apache.spark.sql.SparkSession,
      census: Array[(String, Long)], nMerges: Int)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // unsigned UTF-8 byte comparison = UTF8String.compareTo
    def u8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    var words: Array[(Array[String], Long)] = census.map { case (w, c) =>
      (w.map(_.toString).toArray, c)
    }
    val merges = scala.collection.mutable
      .ArrayBuffer[(Int, String, String, String, Long)]()
    for (step <- 1 to nMerges) {
      val pc = scala.collection.mutable.HashMap[(String, String), Long]()
      for ((syms, cnt) <- words; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        pc.update(k, pc.getOrElse(k, 0L) + cnt)
      }
      if (pc.nonEmpty) {
        var best: ((String, String), Long) = null
        for (e <- pc)
          if (best == null || e._2 > best._2 ||
              (e._2 == best._2 && (u8Lt(e._1._1, best._1._1) ||
                (e._1._1 == best._1._1 && u8Lt(e._1._2, best._1._2)))))
            best = e
        val ((l, r), c) = best
        merges += ((step, l, r, l + r, c))
        words = words.map { case (syms, cnt) =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          for (sym <- syms) {
            if (out.nonEmpty && out.last == l && sym == r)
              out(out.length - 1) = l + r
            else out += sym
          }
          (out.toArray, cnt)
        }
      }
    }
    merges.toSeq.toDF("step", "left", "right", "merged", "cnt")
  }

  /** BPE tokenizer apply (the encode half of [[bpeTrain]]): segment a word
    * under an ordered merge table, returning the `|`-joined token string.
    *
    * Representation trick that makes this a pure codegen'd projection: a
    * symbol array is a separator-joined string (`"j|o|i|n"`), and applying
    * merge (l, r) is `replace(s, "l|r", "lr")` — string replace-all scans
    * left-to-right non-overlapping, which is EXACTLY the trainer's greedy
    * fold (a just-merged symbol `l+r` is strictly longer than `l`, so it
    * can never re-trigger within the same pass; overlapping runs like
    * "a a a" merge the leftmost pair first in both formulations). The
    * chained `replace` calls stay inside whole-stage codegen — no HOF
    * fallback on the encode path. Requires `|` absent from the alphabet
    * (the documents corpus is lowercase ASCII words; guarded by the
    * corpus-facts spec).
    *
    * At scale: call this on the DISTINCT-word census (vocabulary-sized),
    * then broadcast-join the word→tokens table back to the corpus — the
    * corpus itself never carries the replace chain nor shuffles.
    */
  def bpeSegment(word: Column, merges: Seq[(String, String)]): Column = {
    val init = array_join(
      transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1))),
      "|")
    merges.foldLeft(init) { case (s, (l, r)) =>
      org.apache.spark.sql.functions.replace(s, lit(l + "|" + r), lit(l + r))
    }
  }

  /** Token count under [[bpeSegment]]: separators + 1. */
  def bpeTokenCount(word: Column, merges: Seq[(String, String)]): Column =
    size(split(bpeSegment(word, merges), "\\|", -1))
}
