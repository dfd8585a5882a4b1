package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Fingerprint64
import graft.functions.Fingerprint64.fingerprint64
import graft.functions.DetLn

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token statistics, quality scoring, language ID, and
  * document fingerprinting.
  *
  * All pure column expressions (whole-stage codegen, no UDFs), so each
  * operator is a narrow map over the corpus — embarrassingly parallel at
  * 100 TB, no shuffle at all until an aggregation is requested.
  */
object TextAnalysis {

  /** Whitespace tokenization. The corpus is single-space separated; a
    * BPE-ish fallback regex tokenizer is [[regexTokens]]. */
  def tokens(text: Column): Column = split(text, " ")

  /** Regex tokenizer: words, numbers, or single punctuation marks —
    * the classic BPE pre-tokenization shape. */
  def regexTokens(text: Column): Column =
    // drop the empty leading element regexp splits can produce
    filter(split(text, "[^\\p{L}\\p{N}]+"), t => length(t) > 0)

  private[graft] val stopwordList =
    Seq("the", "a", "of", "and", "to", "in", "is")
  private def stopwords = stopwordList

  /** Per-document quality metrics (length / vocabulary / stopword
    * signals) — SQL-expressible, oracled. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val w = tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    d.select(
        col("doc_id"),
        length(col("text")).as("text_len"),
        size(w).as("n_tokens"),
        size(array_distinct(w)).as("n_uniq_tokens"),
        round(
          size(filter(w, t => array_contains(stopArr, t)))
            .cast("double") / size(w), 4).as("stop_ratio"),
        round(
          length(regexp_replace(col("text"), " ", ""))
            .cast("double") / size(w), 4).as("avg_token_len"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[quality]]. */
  val qualityOracle: String =
    s"""SELECT doc_id, length(text) AS text_len,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
       round(len(list_filter(string_split(text, ' '),
         t -> list_contains([${stopwords.map("'" + _ + "'").mkString(",")}], t)))
         * 1.0 / len(string_split(text, ' ')), 4) AS stop_ratio,
       round(length(replace(text, ' ', ''))
         * 1.0 / len(string_split(text, ' ')), 4) AS avg_token_len
       FROM documents ORDER BY doc_id"""

  /** Language-ID via char-trigram profile scoring plus a Unicode-script
    * gate: documents whose CJK-codepoint share exceeds 0.2 are Chinese
    * regardless of trigram evidence (Latin trigram profiles are
    * meaningless over Han text); otherwise predicted = argmax of
    * per-language mean trigram weight, 'und' when the best score is
    * below a floor. Deterministic; not oracle-expressible (argmax +
    * tie-break), so the driver records a rows-only check and the
    * value-level gate is TextSpec's crafted multilingual fixtures.
    *
    * Scale: scoring is the single-pass codegen'd
    * [[graft.functions.TrigramLangScores]] expression (one hash lookup
    * per trigram covering all languages at once) — a pure narrow map,
    * no shuffle, no UDF. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free
    langIdOf(Tables(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** q30: n-gram language ID (Cavnar-Trenkle ranked trigram profiles),
    * ORACLED — every decision is integer arithmetic. Per language l the
    * score is the rational Σweights_l / (k_l · total) in micro-units
    * (`div`, never a float divide); the winner is the micro-max over
    * the langs (ties → first in sorted lang order), gated at
    * > 20000 µ (= the 0.02 floor); the CJK override fires on
    * 5·n_cjk > n_chars (= ratio > 0.2 exactly). DuckDB recomputes the
    * same integers with the profiles inlined as a VALUES CTE
    * ([[graft.functions.LangProfiles.profilesSqlValues]]).
    *
    * Scale: one custom-expression pass per document (codegen'd HashMap
    * lookup per trigram), a handful of narrow integer columns, zero
    * shuffle before the final sort. */
  def langIdOf(d: DataFrame): DataFrame = {
    import graft.functions.LangProfiles
    import graft.functions.LangProfiles.trigram_lang_score_sums
    val langs = LangProfiles.langs
    val nL = langs.length
    val ks = langs.map(l => LangProfiles.profilesInt(l).size)
    val withSums = d
      .select(col("doc_id"), col("lang").as("labeled_lang"), col("text"),
        trigram_lang_score_sums(col("text")).as("_sums"))
      .withColumn("_total",
        greatest(element_at(col("_sums"), nL + 1), lit(1L)))
      .withColumn("_ncjk",
        (length(col("text")) -
          length(regexp_replace(col("text"), "[\\u4e00-\\u9fff]", "")))
          .cast("long"))
      .withColumn("_nchars", greatest(length(col("text")), lit(1)).cast("long"))
    val micros = langs.zipWithIndex.foldLeft(withSums) { case (df, (l, i)) =>
      df.withColumn(s"_m_$l",
        expr(s"CAST((element_at(_sums, ${i + 1}) * 1000000) div " +
          s"(${ks(i)} * _total) AS BIGINT)"))
    }
    val (predC, confC) = langs.foldLeft((lit("und"), lit(20000L))) {
      case ((bestLang, bestScore), l) =>
        val m = col(s"_m_$l")
        (when(m > bestScore, lit(l)).otherwise(bestLang),
          when(m > bestScore, m).otherwise(bestScore))
    }
    val isCjk = col("_ncjk") * 5 > col("_nchars")
    micros
      .select(col("doc_id"), col("labeled_lang"),
        when(isCjk, lit("zh")).otherwise(predC).as("pred_lang"),
        when(isCjk, expr("CAST((_ncjk * 1000000) div _nchars AS BIGINT)"))
          .otherwise(least(confC, lit(1000000L))).as("conf_micro"))
  }

  /** Reusable oracle fragment: per-document language prediction over
    * `documents`, ending in `lg(doc_id, labeled_lang, pred_lang,
    * conf_micro)` — the q30 derivation with `lg_`-prefixed CTE names
    * so composed oracles (q167 stacks it on the crawl-survivor chain,
    * whose curate CTEs already use `best`) can embed it without
    * collisions. */
  private[ext] def langIdCte: String = {
    import graft.functions.LangProfiles
    s"""prof(plang, tg, w) AS (VALUES
         ${LangProfiles.profilesSqlValues}),
       klang(plang, k) AS (VALUES ${LangProfiles.profileSizesSqlValues}),
       lg_d AS (SELECT doc_id, lang AS labeled_lang, text,
               ' ' || trim(regexp_replace(lower(text), '[^\\p{L}]+', ' ', 'g'))
                 || ' ' AS norm
             FROM documents),
       lg_dt AS (SELECT doc_id, norm,
                greatest(length(norm) - 2, 1) AS total,
                length(text) -
                  length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g'))
                  AS ncjk,
                greatest(length(text), 1) AS nchars
              FROM lg_d),
       lg_g AS (SELECT doc_id, substr(norm, CAST(i AS INT), 3) AS tg
             FROM lg_dt,
               unnest(range(1, greatest(length(norm) - 1, 1))) AS u(i)),
       lg_s AS (SELECT lg_g.doc_id, p.plang, sum(p.w) AS sw
             FROM lg_g JOIN prof p ON p.tg = lg_g.tg GROUP BY 1, 2),
       lg_m AS (SELECT lg_dt.doc_id, k.plang,
               CAST((coalesce(lg_s.sw, 0) * 1000000)
                 // (k.k * lg_dt.total) AS BIGINT) AS micro
             FROM lg_dt CROSS JOIN klang k
               LEFT JOIN lg_s ON lg_s.doc_id = lg_dt.doc_id
                 AND lg_s.plang = k.plang),
       lg_best AS (SELECT doc_id, plang, micro,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY micro DESC, plang ASC) AS rn
                FROM lg_m),
       lg AS (SELECT dt.doc_id, d.labeled_lang,
         CASE WHEN dt.ncjk * 5 > dt.nchars THEN 'zh'
              WHEN b.micro > 20000 THEN b.plang
              ELSE 'und' END AS pred_lang,
         CAST(CASE WHEN dt.ncjk * 5 > dt.nchars
              THEN (dt.ncjk * 1000000) // dt.nchars
              WHEN b.micro > 20000 THEN least(b.micro, 1000000)
              ELSE 20000 END AS BIGINT) AS conf_micro
       FROM lg_dt dt JOIN lg_d d ON d.doc_id = dt.doc_id
         JOIN lg_best b ON b.doc_id = dt.doc_id AND b.rn = 1)"""
  }

  /** Oracle for q30 [[langId]]: the ranked profiles inlined as a VALUES
    * CTE, the same normalize → trigram → integer-score pipeline in SQL
    * ([[langIdCte]]). */
  def langIdOracle: String =
    s"""WITH $langIdCte
       SELECT doc_id, labeled_lang, pred_lang, conf_micro FROM lg
       ORDER BY doc_id"""

  /** Document fingerprints via the custom codegen'd rolling-hash
    * expression — content identity for exact dedup and caching layers.
    * Rows-only check (the hash constant choice is engine-specific). */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"),
        fingerprint64(col("text")).as("fingerprint"),
        fingerprint64(lower(regexp_replace(col("text"), WsClass, " ")))
          .as("normalized_fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Whitespace class for normalization, spelled out: Java's `\s`
    * includes vertical tab U+000B, RE2's (DuckDB) does not, so a `\s`
    * normalization would silently diverge cross-engine on any document
    * containing one. This explicit class means the same five characters
    * in both engines. */
  private[graft] val WsClass = "[ \\t\\n\\r\\f]+"

  /** Oracle for q31 [[fingerprints]] — the codegen'd rolling hash
    * replayed byte for byte: DuckDB folds the code points through the
    * same `h·PRIME + b` recurrence in HUGEINT with an explicit mod 2⁶⁴
    * (the JVM wraps for free), then converts the unsigned result to
    * the signed Long the engine emits. `list_reduce` seeds from the
    * first element, so SEED is prepended. Domain bound (the q82
    * statement): code points equal UTF-8 bytes only for ASCII — the
    * corpus is pure ASCII; a multi-byte character would diverge here
    * before any oracle question arises. For years this row was
    * rows-only with the q70 md5 twin gating only the NORMALIZATION;
    * this gates the hash itself. */
  lazy val fingerprintsOracle: String = {
    val seed = Fingerprint64.Seed
    val prime = Fingerprint64.Prime
    val two64 = "CAST('18446744073709551616' AS HUGEINT)"
    val two63 = "CAST('9223372036854775808' AS HUGEINT)"
    def fold(x: String) =
      s"""CASE WHEN len($x) = 0 THEN CAST($seed AS HUGEINT)
         ELSE list_reduce(
           list_prepend(CAST($seed AS HUGEINT),
             [CAST(unicode(ch) AS HUGEINT) for ch in string_split($x, '')]),
           (h, b) -> (h * $prime + b) % $two64) END"""
    def signed(h: String) =
      s"""CAST(CASE WHEN $h >= $two63 THEN $h - $two64 ELSE $h END
         AS BIGINT)"""
    s"""WITH f AS (SELECT doc_id, text,
           lower(regexp_replace(text, '$WsClass', ' ', 'g')) AS norm
         FROM documents),
       h AS (SELECT doc_id, ${fold("text")} AS hr, ${fold("norm")} AS hn
         FROM f)
       SELECT doc_id, ${signed("hr")} AS fingerprint,
         ${signed("hn")} AS normalized_fingerprint
       FROM h ORDER BY doc_id"""
  }

  /** q70: oracle twin of [[fingerprints]] — the same
    * normalize-then-fingerprint pipeline with an md5-derived 64-bit
    * fingerprint (first 16 hex chars) that BOTH engines can compute, so
    * the normalization logic gets a cross-engine hash-level check while
    * the codegen'd [[fingerprint64]] stays the performance path (q31).
    * Hex-string form deliberately: converting to a signed 64-bit int
    * differs between engines (unsigned overflow), the hex prefix does
    * not. Pure narrow map, shuffle-free. */
  def fingerprintsMd5(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val norm = lower(regexp_replace(col("text"), WsClass, " "))
    d.select(col("doc_id"),
        substring(md5(col("text")), 1, 16).as("fp64_hex"),
        substring(md5(norm), 1, 16).as("normalized_fp64_hex"))
      .orderBy(col("doc_id"))
  }

  val fingerprintsMd5Oracle: String =
    """SELECT doc_id,
       substring(md5(text), 1, 16) AS fp64_hex,
       substring(md5(lower(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g'))),
         1, 16) AS normalized_fp64_hex
       FROM documents ORDER BY doc_id"""

  /** Token counts with both tokenizers — oracled on the whitespace one. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"),
        size(tokens(col("text"))).as("n_ws_tokens"),
        size(regexTokens(col("text"))).as("n_re_tokens"))
      .orderBy(col("doc_id"))
  }

  val tokenCountsOracle: String =
    """SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(list_filter(string_split_regex(text, '[^\p{L}\p{N}]+'),
         t -> length(t) > 0)) AS n_re_tokens
       FROM documents ORDER BY doc_id"""

  /** PII / link scrubbing patterns. Kept to syntax with identical
    * semantics in Java regex and RE2 (no backreferences, no lookaround,
    * and no `\s`/`\S` — Java's includes vertical tab, RE2's does not;
    * the URL terminator class spells out the five shared whitespace
    * characters) so the engine and the DuckDB oracle replace the exact
    * same spans. URL first — an URL can embed an email-shaped or
    * ip-shaped substring and must win as a unit. */
  private[ext] val scrubPatterns: Seq[(String, String, String)] = Seq(
    ("url", "https?://[^ \\t\\n\\r\\f]+", "<URL>"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
      "<IP>"))

  /** q56: scrub URLs, emails and IPv4 literals from document text,
    * reporting per-document pattern occurrence counts in the RAW text —
    * the standard PII/link-removal pass before training. Note the counts
    * are raw-text occurrences, not replacements performed: replacements
    * apply sequentially, so an email or IP embedded inside a URL is
    * consumed by the `<URL>` replacement yet still counted under its own
    * pattern (the oracle counts identically). Pure narrow map (three
    * codegen'd regexp passes), shuffle-free at any corpus size. */
  def scrub(spark: SparkSession, dir: String): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free
    scrubOf(Tables.spreadScan(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  def scrubOf(d: DataFrame): DataFrame = {
    val counts = scrubPatterns.map { case (name, pat, _) =>
      size(regexp_extract_all(col("text"), lit(pat), lit(0)))
        .cast("long").as(s"n_$name")
    }
    val scrubbed = scrubPatterns.foldLeft(col("text")) {
      case (c, (_, pat, token)) => regexp_replace(c, pat, token)
    }
    d.select(
        (col("doc_id") +: scrubbed.as("scrubbed_text") +: counts): _*)
  }

  /** q62: Unicode NFC normalization pass — composed-form text plus a
    * flag for documents the pass actually changed (mixed-form corpora
    * break digest dedup and tokenizer equality). Narrow map via the
    * custom codegen'd [[graft.functions.NfcNormalize]] expression with
    * an allocation-free already-normalized fast path. */
  def normalize(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NfcNormalize.nfc_normalize
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        nfc_normalize(col("text")).as("normalized_text"),
        (nfc_normalize(col("text")) =!= col("text")).as("was_denormalized"))
      .orderBy(col("doc_id"))
  }

  val normalizeOracle: String =
    """SELECT doc_id, nfc_normalize(text) AS normalized_text,
       (nfc_normalize(text) <> text) AS was_denormalized
       FROM documents ORDER BY doc_id"""

  /** q57: corpus vocabulary — the top-`topK` tokens by total occurrence
    * count, with document frequency. The first thing anyone computes over
    * a new corpus, and the input to stopword/vocab-truncation decisions.
    *
    * Scale: explode → hash aggregate benefits from map-side partial
    * aggregation (token cardinality ≪ token occurrences), the distinct
    * doc count is Spark's standard two-phase distinct-agg expansion, and
    * the top-k is TakeOrdered — no full sort of the vocabulary. */
  def vocab(spark: SparkSession, dir: String, topK: Int = 50): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(topK)
  }

  val vocabOracle: String =
    """SELECT token, count(*) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents)
       GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 50"""

  /** q64: corpus-unigram log-probability score — the CCNet-style LM
    * quality proxy: score each document by the mean log-likelihood of
    * its tokens under the corpus's own unigram distribution
    * (p(w) = count(w) / total tokens). Documents of common, fluent
    * vocabulary score high; rare-token soup (mojibake, codes, spam)
    * scores low. CCNet uses a wiki-trained 5-gram KenLM; the unigram
    * self-model is the engine-native analogue that needs no external
    * artifact.
    *
    * Scale: one explode+agg for the vocabulary (map-side combinable,
    * vocabulary-sized result), one join keyed on token, one per-doc
    * agg. The corpus token total is a scalar aggregate.
    *
    * Hash-stability: per-word ln p is [[graft.functions.DetLn]]'s
    * deterministic fixed-point log — built only from IEEE-correctly-
    * rounded ops, bit-identical in every engine — quantized to BIGINT
    * micro-nats and summed exactly, so neither libm ulp drift nor float
    * summation order can flip the output anywhere (eliminated rather
    * than made unlikely). */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free
    unigramLogprobOf(Tables(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** Same over any (doc_id, text) DataFrame (injectable for tests).
    *
    * Skew posture (the token key is Zipf-distributed — "the"/"and" own a
    * huge share of occurrences, and at web scale a plain token-keyed join
    * puts each hot token's entire occurrence stream on one reducer):
    *   1. pre-aggregate to per-(doc, token) counts `k` — map-side
    *      combinable, and each hot token now appears once per *document*
    *      instead of once per *occurrence*;
    *   2. localCheckpoint the vocabulary counts (vocabulary-sized — a
    *      few GB even for a web-scale corpus — not corpus-sized);
    *      checkpoint rather than persist so the cached blocks' lifetime
    *      is tied to the RDD (freed on GC) instead of leaking one
    *      pinned DataFrame per invocation in a long-lived session;
    *   3. broadcast the top-[[hotK]] tokens' counts and resolve them with
    *      a broadcast left join — the hot keys never enter a shuffle;
    *   4. shuffle-join only the cold residual, whose key distribution is
    *      near-uniform by construction (every heavy hitter was removed).
    * The two union branches share the per-(doc, token) exchange via AQE
    * stage reuse (verified: the executed plan's cold branch reads a
    * ReusedExchange over the hot branch's shuffle), so the corpus is
    * scanned and exploded once; hot tokens only ever cross the (doc_id,
    * token) composite shuffle, which doc_id keeps skew-free. */
  def unigramLogprobOf(docs: DataFrame, hotK: Int = 1024): DataFrame = {
    val docTok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("k"))
    val counts = docTok.groupBy(col("w")).agg(sum(col("k")).as("c"))
      .localCheckpoint(eager = false)
    // the eager `total` scalar stays: a 1-row broadcast cross join in
    // its place would swap the scalar job for a broadcast-build job one
    // for one, and the head() materializes the checkpointed counts
    // before the two downstream readers (OPTIMIZATION_r17.md §6)
    val total = counts.agg(sum(col("c"))).head().getLong(0)
    // per-WORD deterministic micro-nat score, computed once on the
    // vocabulary table: lnFix(c) − lnFix(total) quantized to BIGINT
    // micro-nats (see [[graft.functions.DetLn]]); k occurrences of a
    // word contribute k · lp_micro — integer multiply/sum are exact and
    // order-independent, and lnFix is bit-identical in every IEEE
    // engine, so no rounding boundary can flip cross-engine
    val scored = DetLn.withLnFix(
        DetLn.withLnFix(counts, "ln_c", "c"), "ln_t", total.toString)
      .withColumn("lp_micro", expr(DetLn.microSql("ln_c - ln_t")))
      .select(col("w"), col("c"), col("lp_micro"))
    val hot = scored.orderBy(col("c").desc, col("w")).limit(hotK)
      .select(col("w"), col("lp_micro").as("h_lp"))
    val tagged = docTok.join(broadcast(hot), Seq("w"), "left")
    val hotPart = tagged.filter(col("h_lp").isNotNull)
      .select(col("doc_id"), col("k"), (col("k") * col("h_lp")).as("lp"))
    val coldPart = tagged.filter(col("h_lp").isNull).drop("h_lp")
      .join(scored.select(col("w"), col("lp_micro")), Seq("w"))
      .select(col("doc_id"), col("k"), (col("k") * col("lp_micro")).as("lp"))
    hotPart.unionByName(coldPart)
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"), sum(col("lp")).as("sum_lp"))
      .select(col("doc_id"), col("n_tokens"),
        expr(DetLn.avg4Sql("sum_lp", "n_tokens")).as("avg_logprob"))
  }

  /** q107: interpolated BIGRAM quality score — the model upgrade over
    * q64's unigram bag: mean transition log-probability
    * `ln(0.7·c₂(prev,w)/c₁(prev) + 0.3·c₁(w)/N)` per document, over
    * its token TRANSITIONS (docs need ≥ 2 tokens; the first token has
    * no transition and is deliberately out of scope — this is the
    * "does this text string words together like the corpus does"
    * signal, which unigram frequency cannot see). Interpolation with
    * the unigram term keeps unseen-in-corpus transitions finite, the
    * standard Jelinek-Mercer backoff shape.
    *
    * Skew posture doubles down on q64's: the BIGRAM key is Zipf² —
    * pre-aggregate per (doc, prev, w), build the bigram model table
    * once (carrying c₂, c₁(prev), c₁(w)), broadcast the hot head,
    * shuffle only the de-heavied tail. The interpolated probability is
    * an exact integer ratio, scored with [[graft.functions.DetLn]]'s
    * engine-invariant log in BIGINT micro-nats — exact k-multiplicity
    * multiply and order-free summation, no libm dependence. */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free.
    // NOT spread: the chain is multi-stage and its exchanges already
    // parallelize the heavy aggregates, so a spread scan's added
    // 32-task stage is pure price on the narrow head (A/B 0.87)
    bigramLogprobOf(Tables(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** Token TRANSITIONS of a (doc_id, text) frame — (doc_id, prev, w),
    * one row per adjacent pair, the single definition behind q107's
    * self-model, the q169 reference LM's training, and its scoring.
    * Derived NARROWLY: zip the token array against itself shifted by
    * one (slices bound to their own projection first — HOF lambdas
    * re-evaluate outer exprs per element). The obvious
    * lag-over-(doc_id, pos) window form shuffles and sorts the entire
    * exploded token stream just to pair neighbours that were already
    * adjacent in the array — a full-corpus sort this form never pays.
    * Docs under two tokens have no transition and drop here. */
  private def transitionsOf(docs: DataFrame): DataFrame =
    transitionsOfToks(
      docs.select(col("doc_id"), tokens(col("text")).as("ws")))

  /** [[transitionsOf]] over an already-tokenized (doc_id, ws) frame —
    * the shape q107 shares one tokenize pass through. */
  private def transitionsOfToks(toks: DataFrame): DataFrame =
    toks
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        slice(col("ws"), lit(1), size(col("ws")) - 1).as("pv"),
        slice(col("ws"), lit(2), size(col("ws")) - 1).as("nx"))
      .select(col("doc_id"),
        explode(zip_with(col("pv"), col("nx"),
          (a, b) => struct(a.as("prev"), b.as("w")))).as("t"))
      .select(col("doc_id"), col("t.prev").as("prev"),
        col("t.w").as("w"))

  def bigramLogprobOf(docs: DataFrame, hotK: Int = 4096): DataFrame = {
    // ONE tokenize pass: the unigram counts and the transition zip both
    // read the same materialized (doc_id, ws) token projection
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("ws"))
      .localCheckpoint(eager = false)
    val tok = toks.select(explode(col("ws")).as("w"))
    // materialized once: read again by the corpus-level model build AND
    // the per-doc scoring join — without this the explode+shuffle runs
    // twice
    val docBig = transitionsOfToks(toks)
      .groupBy(col("doc_id"), col("prev"), col("w"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint(eager = false)
    val c1 = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    // the corpus token total rides the DAG as a 1-row broadcast cross
    // join — no blocking driver round trip between the model build and
    // the scoring chain; `n` is the same exact BIGINT a spliced literal
    // would be, so the DetLn chain is unchanged
    val bc = docBig.groupBy(col("prev"), col("w"))
      .agg(sum(col("k")).as("c2"))
      .join(c1.select(col("w").as("prev"), col("c").as("cp")), "prev")
      .join(c1.select(col("w"), col("c").as("cw")), "w")
      .crossJoin(broadcast(c1.agg(sum(col("c")).as("n"))))
      .localCheckpoint(eager = false)
    // the interpolated probability is an exact integer ratio:
    //   0.7·c2/cp + 0.3·cw/N = (7·c2·N + 3·cw·cp) / (10·cp·N)
    // so the per-BIGRAM deterministic micro-nat score is
    // lnFix(numerator) − lnFix(denominator) (see DetLn); products fit
    // BIGINT through corpora of ~10^8 tokens — the 100 TB form widens
    // them to DECIMAL(38,0)
    val scored = DetLn.withLnFix(
        DetLn.withLnFix(bc, "ln_a", "7 * c2 * n + 3 * cw * cp"),
        "ln_b", "10 * cp * n")
      .withColumn("lp_micro", expr(DetLn.microSql("ln_a - ln_b")))
      .select(col("prev"), col("w"), col("c2"), col("lp_micro"))
    val hot = scored.orderBy(col("c2").desc, col("prev"), col("w"))
      .limit(hotK)
      .select(col("prev"), col("w"), col("lp_micro").as("h_lp"))
    val tagged = docBig.join(broadcast(hot), Seq("prev", "w"), "left")
    val hotPart = tagged.filter(col("h_lp").isNotNull)
      .select(col("doc_id"), col("k"), (col("k") * col("h_lp")).as("lp"))
    val coldPart = tagged.filter(col("h_lp").isNull)
      .select(col("doc_id"), col("prev"), col("w"), col("k"))
      .join(scored.select(col("prev"), col("w"), col("lp_micro")),
        Seq("prev", "w"))
      .select(col("doc_id"), col("k"), (col("k") * col("lp_micro")).as("lp"))
    hotPart.unionByName(coldPart)
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_transitions"), sum(col("lp")).as("sum_lp"))
      .select(col("doc_id"), col("n_transitions"),
        expr(DetLn.avg4Sql("sum_lp", "n_transitions")).as("avg_logprob"))
  }

  val bigramLogprobOracle: String = {
    val (stages, fin) = DetLn.oracleLnStages("bco", "b",
      Seq("prev", "w", "c2", "cp", "cw", "n"),
      Seq("ln_a" -> "7 * c2 * n + 3 * cw * cp", "ln_b" -> "10 * cp * n"))
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
       FROM documents),
       big AS (SELECT a.doc_id, a.w AS prev, b.w AS w
         FROM tok a JOIN tok b
         ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
       c1 AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
       n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c1),
       c2 AS (SELECT prev, w, count(*) AS c2 FROM big GROUP BY 1, 2),
       bco AS (SELECT c2.prev, c2.w, c2.c2, cp.c AS cp, cw.c AS cw, n.n
         FROM c2 JOIN c1 cp ON cp.w = c2.prev
           JOIN c1 cw ON cw.w = c2.w CROSS JOIN n)$stages,
       sc AS (SELECT prev, w, ${DetLn.microSql("ln_a - ln_b")} AS lp_micro
              FROM $fin)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
         ${DetLn.avg4Sql("sum(lp_micro)", "count(*)")} AS avg_logprob
       FROM big JOIN sc USING (prev, w)
       GROUP BY doc_id ORDER BY doc_id"""
  }

  val unigramLogprobOracle: String = {
    val (stages, fin) = DetLn.oracleLnStages("wc", "u",
      Seq("w", "c", "total"), Seq("ln_c" -> "c", "ln_t" -> "total"))
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents),
       c AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
       t AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM c),
       wc AS (SELECT w, c, total FROM c CROSS JOIN t)$stages,
       sc AS (SELECT w, ${DetLn.microSql("ln_c - ln_t")} AS lp_micro
              FROM $fin)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         ${DetLn.avg4Sql("sum(lp_micro)", "count(*)")} AS avg_logprob
       FROM tok JOIN sc USING (w)
       GROUP BY doc_id ORDER BY doc_id"""
  }

  /** q78: DSIR-style importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * each raw document by the mean per-token log-likelihood RATIO
    * between a target-domain unigram model and the raw-corpus unigram
    * model. Documents whose vocabulary looks like the target (here:
    * the corpus's English slice) get positive weights and win the
    * resampling lottery; off-domain documents get negative weights.
    * The published method uses hashed n-gram bag models for exactly
    * the reason this engine can express it: both models are one
    * map-side-combinable count aggregate each.
    *
    * Model: p_raw(w) = c_raw(w)/T_raw (every scored token exists in
    * the raw corpus — it came from it); p_tgt is Laplace-smoothed,
    * (c_tgt(w)+1)/(T_tgt+V) with V the raw vocabulary size, so
    * target-unseen tokens contribute a finite penalty instead of -∞.
    *
    * Scale: ONE combined vocabulary table (w, c_raw, c_tgt) — the
    * target counts are a conditional sum in the same aggregate, so
    * adding the second model costs zero extra scans, shuffles, or
    * joins over q64. The token join reuses q64's full skew posture:
    * per-(doc, token) pre-aggregation, broadcast top-[[hotK]] hot
    * tokens, shuffle only the near-uniform cold tail (see
    * [[unigramLogprobOf]]). Hash-stability: the per-word log-ratio is
    * [[graft.functions.DetLn]]'s engine-invariant fixed-point log of an
    * exact integer ratio, quantized to BIGINT micro-nats — bit-identical
    * in every IEEE-754 engine, immune to libm ulp drift. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free
    dsirWeightsOf(Tables(spark, dir, "documents"), col("lang") === "en")
      .orderBy(col("doc_id"))

  /** Same over any (doc_id, text) DataFrame with an arbitrary
    * target-membership predicate (evaluated per document). */
  def dsirWeightsOf(docs: DataFrame, isTarget: Column,
      hotK: Int = 1024): DataFrame = {
    val docTok = docs
      .select(col("doc_id"), isTarget.as("tgt"),
        explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("k"), first(col("tgt")).as("tgt"))
    val counts = docTok.groupBy(col("w"))
      .agg(sum(col("k")).as("c_raw"),
        sum(when(col("tgt"), col("k")).otherwise(lit(0L))).as("c_tgt"))
      .localCheckpoint(eager = false)
    val t = counts.agg(sum(col("c_raw")), sum(col("c_tgt")), count(lit(1)))
      .head()
    val tRaw = t.getLong(0)
    val tTgtV = t.getLong(1) + t.getLong(2) // smoothed target denominator
    // the log-ratio of the two unigram models is a log of an exact
    // integer ratio:
    //   ln((c_tgt+1)/T') − ln(c_raw/T) = ln((c_tgt+1)·T) − ln(c_raw·T')
    // scored per VOCABULARY word with DetLn's engine-invariant lnFix and
    // quantized to BIGINT micro-nats — libm ulp drift under round(·,6)
    // cannot split the driver from the local engine
    val scored = DetLn.withLnFix(DetLn.withLnFix(counts,
        "ln_a", s"(c_tgt + 1) * $tRaw"), "ln_b", s"c_raw * $tTgtV")
      .withColumn("lr_micro", expr(DetLn.microSql("ln_a - ln_b")))
      .select(col("w"), col("c_raw"), col("lr_micro"))
    val hot = scored.orderBy(col("c_raw").desc, col("w")).limit(hotK)
      .select(col("w"), col("lr_micro").as("h_lr"))
    val tagged = docTok.join(broadcast(hot), Seq("w"), "left")
    val hotPart = tagged.filter(col("h_lr").isNotNull)
      .select(col("doc_id"), col("k"), (col("k") * col("h_lr")).as("lr"))
    val coldPart = tagged.filter(col("h_lr").isNull).drop("h_lr")
      .join(scored.select(col("w"), col("lr_micro")), Seq("w"))
      .select(col("doc_id"), col("k"), (col("k") * col("lr_micro")).as("lr"))
    hotPart.unionByName(coldPart)
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"), sum(col("lr")).as("sum_lr"))
      .select(col("doc_id"), col("n_tokens"),
        expr(DetLn.avg4Sql("sum_lr", "n_tokens")).as("dsir_logweight"))
  }

  val dsirWeightsOracle: String = {
    val (stages, fin) = DetLn.oracleLnStages("wc", "d",
      Seq("w", "c_raw", "c_tgt", "t_raw", "t_tgt", "v"),
      Seq("ln_a" -> "(c_tgt + 1) * t_raw", "ln_b" -> "c_raw * (t_tgt + v)"))
    s"""WITH tok AS (SELECT doc_id, lang,
                      unnest(string_split(text, ' ')) AS w FROM documents),
       c AS (SELECT w, count(*) AS c_raw,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                 AS BIGINT) AS c_tgt
             FROM tok GROUP BY 1),
       t AS (SELECT CAST(sum(c_raw) AS BIGINT) AS t_raw,
               CAST(sum(c_tgt) AS BIGINT) AS t_tgt,
               count(*) AS v FROM c),
       wc AS (SELECT w, c_raw, c_tgt, t_raw, t_tgt, v
              FROM c CROSS JOIN t)$stages,
       sc AS (SELECT w, ${DetLn.microSql("ln_a - ln_b")} AS lr_micro
              FROM $fin)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         ${DetLn.avg4Sql("sum(lr_micro)", "count(*)")} AS dsir_logweight
       FROM tok JOIN sc USING (w)
       GROUP BY doc_id ORDER BY doc_id"""
  }

  /** q58: TF-IDF keyword extraction — each document's top-3 terms by
    * tf·idf (raw term count × ln(N/df)), the classic salient-term
    * signal for tagging and retrieval.
    *
    * Scale: one explode+agg for per-(doc, term) counts, one agg for
    * document frequencies (vocabulary-sized, broadcast when it fits),
    * a join keyed on term, and a per-document window (bounded by doc
    * vocabulary). The corpus total N is a scalar aggregate, not a
    * driver collect of data rows. */
  def tfidf(spark: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val terms = d
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df_ = terms.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = d.count()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    // idf = lnFix(N) − lnFix(df): DetLn's engine-invariant log of the
    // exact integer ratio, staged on the vocabulary-sized df table;
    // deterministic 4-dp quantization replaces round() (libm-free)
    val dfScored = DetLn.withLnFix(
      DetLn.withLnFix(df_, "ln_n", n.toString), "ln_d", "df")
    terms.join(dfScored, "term")
      .withColumn("score", expr(DetLn.fix4Sql(
        "CAST(tf AS DOUBLE) * (ln_n - ln_d)")))
      .drop("ln_n", "ln_d")
      .withColumn("term_rank", row_number().over(w).cast("int"))
      .filter(col("term_rank") <= topK)
      .select(col("doc_id"), col("term_rank"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("term_rank"))
  }

  val tfidfOracle: String = {
    val (stages, fin) = DetLn.oracleLnStages("dfn", "f", Seq("term", "df", "n"),
      Seq("ln_n" -> "n", "ln_d" -> "df"))
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                    FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
       n AS (SELECT count(*) AS n FROM documents),
       dfn AS (SELECT term, df, n FROM dfq CROSS JOIN n)$stages,
       scored AS (
         SELECT tf.doc_id, tf.term,
           ${DetLn.fix4Sql("CAST(tf AS DOUBLE) * (ln_n - ln_d)")} AS score
         FROM tf JOIN $fin USING (term)),
       ranked AS (
         SELECT doc_id, term, score,
           CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, term) AS INT) AS term_rank
         FROM scored)
       SELECT doc_id, term_rank, term, score
       FROM ranked WHERE term_rank <= 3 ORDER BY doc_id, term_rank"""
  }

  val scrubOracle: String = {
    val repl = scrubPatterns.foldLeft("text") {
      case (e, (_, pat, token)) =>
        s"regexp_replace($e, '$pat', '$token', 'g')"
    }
    val counts = scrubPatterns.map { case (name, pat, _) =>
      s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_$name"
    }.mkString(", ")
    s"""SELECT doc_id, $repl AS scrubbed_text, $counts
       FROM documents ORDER BY doc_id"""
  }

  /** q76: heavy hitters by candidates-then-recount — the top-`topK`
    * corpus tokens found WITHOUT an exact full-vocabulary aggregate:
    * a single [[graft.functions.MisraGries]] pass narrows the stream to
    * ≤ `sketchK` candidate tokens in bounded memory (the summary
    * provably contains every token with frequency > n/(sketchK+1)),
    * then one broadcast-semijoin recount pass makes the candidate
    * counts exact. Output = exact top-k (count desc, token asc) —
    * hash-green against the plain exact-aggregate oracle — provided
    * the true top-k clear the n/(sketchK+1) retention bar (they do by
    * orders of magnitude here; raise sketchK for flatter corpora —
    * TextSpec checks the retention guarantee property directly).
    *
    * Scale: the q57-style exact vocabulary aggregate grows (and
    * spills) with distinct-token count — billions at web scale; this
    * plan's first pass shuffles one ≤ sketchK-entry summary per
    * partition and the recount joins against a broadcast ≤ sketchK-row
    * candidate set. Nothing anywhere is vocabulary-sized. */
  def heavyHitters(spark: SparkSession, dir: String, topK: Int = 20,
      sketchK: Int = 64): DataFrame = {
    import graft.functions.MisraGries.misra_gries
    val tok = Tables(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
    val cand = tok.agg(misra_gries(col("token"), sketchK).as("mg"))
      .select(explode(map_keys(col("mg"))).as("token"))
    tok.join(broadcast(cand), "token")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(topK)
  }

  val heavyHittersOracle: String =
    """SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
       FROM (SELECT unnest(string_split(text, ' ')) AS token
             FROM documents)
       GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 20"""

  /** q67: per-language distinct 3-gram-shingle estimation via the
    * [[graft.functions.Kmv]] k-minimum-values sketch, reported next to
    * the exact `count_distinct` so the output carries its own error
    * audit. (Shingles, not tokens: this corpus's whitespace vocabulary
    * is ~31 words per language, which never fills a k=256 sketch —
    * distinct shingles number in the thousands and exercise the
    * estimator.) The exact pass exists for verification; the production
    * shape drops it and keeps only the O(k)-byte-per-group sketch — the
    * mergeable, deterministic alternative to `approx_count_distinct`
    * (q40) whose kept hash VALUES also compose into union/Jaccard
    * estimates across groups. Deterministic (xxhash64-derived shingle
    * hashes, no RNG) but engine-specific hash values → rows-only driver
    * check; the relative error is gated in ScalaTest. */
  def distinctEstimate(spark: SparkSession, dir: String,
      k: Int = 256): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free
    distinctEstimateOf(Tables(spark, dir, "documents"), k)
      .orderBy(col("lang"))

  /** Same over any (lang, text) DataFrame (injectable for tests).
    *
    * Fully ORACLED since the feature hash moved to the portable
    * md5-60bit shingle hash: the sketch CONTENT (k smallest distinct
    * hashes, pinned by an md5 over the joined values), the k-th minimum
    * u₍k₎, and the estimate are all reproducible in any engine. The
    * estimate is integer-exact on both sides — est_micro =
    * ⌊(k−1)·2⁶⁰·10⁶ / u₍k₎⌋ via DECIMAL(38)/HUGEINT floor division
    * (never a float divide, whose rounding could differ) — and equals
    * the sketch's distinct-count estimate in micro-units over the
    * [0, 2⁶⁰) draw space. Below k the sketch IS the distinct set and
    * est_micro = n_sk·10⁶ exactly.
    *
    * [[graft.functions.KmvAgg]] stores sign-flipped values; the single
    * `transform` XOR un-flips (a no-op reordering — flips are monotone
    * over the non-negative portable hashes). */
  def distinctEstimateOf(docs: DataFrame, k: Int = 256): DataFrame = {
    import graft.functions.Kmv
    import graft.functions.ShingleHashes.shingle_hashes_md5
    val numer = (BigInt(k - 1) * (BigInt(1) << 60) * BigInt(1000000)).toString
    docs
      .select(col("lang"), explode(shingle_hashes_md5(col("text"))).as("h"))
      .groupBy(col("lang"))
      .agg(Kmv.kmv_sketch(col("h"), k).as("skf"),
        count_distinct(col("h")).as("n_exact"))
      .select(col("lang"), col("n_exact"),
        expr("transform(skf, v -> v ^ (-9223372036854775807 - 1))").as("sk"))
      .select(col("lang"), col("n_exact"),
        size(col("sk")).cast("long").as("n_sk"),
        element_at(col("sk"), size(col("sk"))).as("u_k"),
        md5(expr("CAST(array_join(transform(sk, v -> CAST(v AS STRING)), ',') AS BINARY)"))
          .as("sk_md5"))
      .withColumn("est_micro",
        when(col("n_sk") < k, col("n_sk") * 1000000L)
          .otherwise(expr(s"CAST(CAST('$numer' AS DECIMAL(38,0)) div u_k AS BIGINT)")))
  }

  /** Oracle for q67 [[distinctEstimate]] — the KMV sketch recomputed as
    * "k smallest distinct portable hashes per group", one window-free
    * aggregate + list slice. */
  def distinctEstimateOracle(k: Int = 256): String = {
    val numer = (BigInt(k - 1) * (BigInt(1) << 60) * BigInt(1000000)).toString
    s"""WITH w AS (SELECT doc_id, lang,
             unnest(string_split(text,' ')) AS word,
             generate_subscripts(string_split(text,' '),1) AS pos
           FROM documents),
       t AS (SELECT a.lang, a.word||' '||b.word||' '||c.word AS sh
             FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
                      JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
       hh AS (SELECT DISTINCT lang,
               CAST(('0x' || substr(md5(sh),1,15)) AS BIGINT) AS h
             FROM t),
       g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact,
               (list_sort(list(h)))[1:$k] AS sk
             FROM hh GROUP BY 1),
       s AS (SELECT lang, n_exact, CAST(len(sk) AS BIGINT) AS n_sk,
               sk[len(sk)] AS u_k,
               md5(array_to_string(
                 list_transform(sk, x -> CAST(x AS VARCHAR)), ',')) AS sk_md5
             FROM g)
       SELECT lang, n_exact, n_sk, u_k, sk_md5,
         CASE WHEN n_sk < $k THEN n_sk * 1000000
              ELSE CAST(CAST('$numer' AS HUGEINT) // u_k AS BIGINT)
         END AS est_micro
       FROM s ORDER BY lang"""
  }

  /** q84: BM25 relevance scoring — the standard retrieval ranking
    * function (Robertson/Spärck Jones; the Lucene `1 + (N-df+0.5)/(df+0.5)`
    * idf variant), scoring every document against a fixed query-term set
    * and returning the top `topK`.
    *
    * Scale: one explode+agg for per-document length (dl), one for
    * per-(doc, query-term) tf — the tf pass filters to the query terms
    * BEFORE the aggregate, so only matching tokens cross the shuffle.
    * df is query-term-sized (broadcast); N and avgdl are two scalar
    * aggregates. Nothing vocabulary-sized shuffles, no window, no sort
    * beyond the final top-k.
    *
    * Hash stability: the idf is [[graft.functions.DetLn]]'s
    * engine-invariant lnFix of the exact integer ratio (2N+2)/(2df+1);
    * per-term contributions quantize to BIGINT micro-nats (exact,
    * order-independent summation) — the same discipline as
    * [[dsirWeights]]. */
  def bm25(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("hash", "join", "stream"),
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame =
    bm25Of(Tables(spark, dir, "documents"), queryTerms, k1, b, topK)

  /** Same over any (doc_id, text) DataFrame (injectable for tests).
    *
    * Single corpus scan: dl and every per-query-term tf come out of ONE
    * groupBy(doc_id) with conditional sums (query sets are small), then a
    * stack unpivot — no second tokenize pass and no dl join. Everything
    * after the first aggregate is per-matching-document-sized. */
  def bm25Of(docs: DataFrame, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame = {
    require(queryTerms.forall(_.matches("[\\p{L}\\p{N}_-]+")),
      "query terms must be plain tokens")
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val tfCols = queryTerms.map(t =>
      sum(when(col("w") === t, 1L).otherwise(0L)).as(s"tf_$t"))
    val perDoc = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"), tfCols: _*)
      // reused 3× (scalars, df counts, scoring); doc-count-sized rows of
      // a few longs each — not corpus-sized
      .localCheckpoint(eager = false)
    // two bounded scalars (corpus size, total token count) — not data rows
    val sc = perDoc.agg(count(lit(1)).as("n"), sum(col("dl")).as("tot")).head()
    val n = sc.getLong(0)
    val tot = sc.getLong(1)
    val stackExpr = s"stack(${queryTerms.length}, " +
      queryTerms.map(t => s"'$t', tf_$t").mkString(", ") + ") AS (w, tf)"
    val tf = perDoc.select(col("doc_id"), col("dl"), expr(stackExpr))
      .filter(col("tf") > 0)
    val dfT = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    // idf = ln(1 + (N−df+0.5)/(df+0.5)) = ln((2N+2)/(2df+1)): an exact
    // integer ratio, scored with DetLn's engine-invariant lnFix; the
    // per-term contribution quantizes to BIGINT micro-nats (exact,
    // order-free summation — the libm knife edges of a 6- or 4-decimal
    // round are structurally gone)
    val dfScored = DetLn.withLnFix(DetLn.withLnFix(dfT,
      "ln_a", (2 * n + 2).toString), "ln_b", "2 * df + 1")
    tf.join(broadcast(dfScored), "w")
      .withColumn("part_micro",
        expr(DetLn.microSql(bm25PartSql(k1, b, n.toString, tot.toString))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("part_micro")).as("sum_micro"))
      .select(col("doc_id"), col("n_terms_hit"),
        expr(DetLn.micro4Sql("sum_micro")).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** Shared Spark/oracle text for the BM25 per-term factor that
    * multiplies the idf (columns: tf, dl, ln_a, ln_b; `nSql`/`totSql`
    * are the corpus scalars — literals on the Spark side, columns in
    * the oracle; identical doubles either way). k1/b round-trip through
    * a string cast so any double renders portably in both engines. */
  private def bm25PartSql(k1: Double, b: Double,
      nSql: String, totSql: String): String = {
    val (k1s, bs) = (s"CAST('$k1' AS DOUBLE)", s"CAST('$b' AS DOUBLE)")
    s"(ln_a - ln_b) * (CAST(tf AS DOUBLE) * ($k1s + 1e0)) / " +
      s"(CAST(tf AS DOUBLE) + $k1s * ((1e0 - $bs) + " +
      s"$bs * CAST(dl AS DOUBLE) / ($totSql * 1e0 / $nSql)))"
  }

  val bm25Oracle: String = {
    val (stages, fin) = DetLn.oracleLnStages("dfn", "m", Seq("w", "df", "n"),
      Seq("ln_a" -> "2 * n + 2", "ln_b" -> "2 * df + 1"))
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents),
       dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
              FROM tok GROUP BY 1),
       tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok
              WHERE w IN ('hash', 'join', 'stream') GROUP BY 1, 2),
       dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       sc AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(dl) AS BIGINT) AS tot FROM dl),
       dfn AS (SELECT w, df, n FROM dfq CROSS JOIN sc)$stages,
       parts AS (SELECT doc_id,
           ${DetLn.microSql(bm25PartSql(1.2, 0.75, "sc.n", "sc.tot"))}
             AS part_micro
         FROM tf JOIN $fin USING (w) JOIN dl USING (doc_id) CROSS JOIN sc)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
         ${DetLn.micro4Sql("sum(part_micro)")} AS bm25
       FROM parts
       GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20"""
  }

  // --- hashed linear classifier (model-based quality filter) ---------------

  /** Score every document with a hashed linear model — the fastText /
    * Joulin et al. 2016 (arXiv:1607.01759) inference shape that
    * model-based quality filters (e.g. the CCNet/LLaMA "looks like
    * Wikipedia" filter) run at corpus scale: each document's distinct
    * hashed n-gram features look their weights up in a weight table and
    * the document's margin is the weight sum. `weights` is any (h, wt)
    * DataFrame — a trained model exported as a table; features absent
    * from it contribute 0 (the hashing-trick OOV convention).
    *
    * Scale: features are the portable md5-60bit shingle hashes (one
    * byte-scan per document, set semantics per doc — never a feature
    * string); the join ships (doc_id, h) longs and the weight side is
    * vocabulary-sized (broadcastable for any real model — fastText
    * buckets are ≤ 2M rows). Integer weights → BIGINT margins: no float
    * summation, any engine agrees bit-for-bit. */
  def hashedLinearScoreOf(docs: DataFrame, weights: DataFrame,
      k: Int = 3): DataFrame = {
    import graft.functions.ShingleHashes.shingle_hashes_md5
    scoreHashedFeatures(docs.select(col("doc_id"),
      explode(shingle_hashes_md5(col("text"), k)).as("h")), weights)
  }

  /** Weight-lookup + margin aggregation over a (doc_id, h) feature
    * stream — shared by [[hashedLinearScoreOf]] and the q122 entry. */
  private def scoreHashedFeatures(feats: DataFrame,
      weights: DataFrame): DataFrame =
    feats.join(weights, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_features"),
        sum(coalesce(col("wt"), lit(0L))).as("margin"))
      .select(col("doc_id"), col("n_features"), col("margin"),
        (col("margin") >= 0).as("keep"))

  /** q122: [[hashedLinearScoreOf]] with a deterministic stand-in weight
    * table so the whole inference path sits under the DuckDB oracle:
    * vocabulary = the corpus's word-3-gram features appearing in ≥ 2
    * documents (the df>1 pruning every hashed model applies to its
    * bucket table), weight = DetMix(h) mapped to [-1000, 1000]. The
    * OPERATOR is the general weights-table join above — swapping in
    * trained weights is swapping the DataFrame. */
  def hashedClassifier(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ShingleHashes.shingle_hashes_md5
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val feats = docs.select(col("doc_id"),
        explode(shingle_hashes_md5(col("text"), 3)).as("h"))
      .localCheckpoint(eager = false) // feeds the vocabulary build AND the scoring join
    val vocab = feats.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("h"),
        (expr(graft.functions.DetMix.mixSql("h", 122)) % 2001 - 1000)
          .as("wt"))
    // sort = oracle determinism only; the reusable scoring path (what a
    // model-filter pipeline composes) stays sort-free
    scoreHashedFeatures(feats, vocab)
      .orderBy(col("doc_id"))
  }

  // --- per-document token entropy (q126) -----------------------------------

  /** q126: Shannon entropy of each document's token distribution, in
    * exact arithmetic — the information-theoretic quality signal next
    * to q50's ratio heuristics (low entropy = repetitive/boilerplate
    * text; the signal family used by Gopher/RefinedWeb-style filters):
    * H = ln n − (Σ c·ln c)/n over per-document token counts c.
    *
    * Engine parity: every log is [[graft.functions.DetLn]]'s
    * IEEE-exact lnFix quantized to BIGINT micro-nats, the weighted sum
    * Σ c·micro(ln c) is exact integer arithmetic, and the final value
    * is the shared avg4 quantization of (micro(ln n)·n − Σ)/n — the
    * q64 idiom, so the whole signal sits under the DuckDB oracle.
    * |micro(ln n)·n| ≤ 1.4e7·n: no overflow for any document under
    * ~6·10¹¹ tokens (a bound on ONE document, not the corpus).
    *
    * Scale: one (doc_id, token) composite-key count (skew-free — the
    * Zipf-hot tokens are spread across documents) and one per-doc
    * aggregate; no vocabulary join at all, unlike q64/q78, because
    * entropy is a within-document statistic. Sort-free. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame =
    tokenEntropyOf(Tables(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  def tokenEntropyOf(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
    val scored = DetLn.withLnFix(counts, "ln_c", "c")
      .withColumn("clm", expr(DetLn.microSql("ln_c")))
    val agg = scored.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("clm")).as("s_micro"))
    DetLn.withLnFix(agg, "ln_n", "n_tokens")
      .withColumn("h_scaled",
        expr(DetLn.microSql("ln_n")) * col("n_tokens") - col("s_micro"))
      .select(col("doc_id"), col("n_tokens"),
        expr(DetLn.avg4Sql("h_scaled", "n_tokens")).as("token_entropy"))
      .withColumn("entropy_band",
        when(col("token_entropy") < 2.5, "low")
          .when(col("token_entropy") < 3.2, "medium")
          .otherwise("high"))
  }

  /** Oracle: the identical integer pipeline — per-(doc, token) counts,
    * lnFix stages, micro quantization, exact weighted sum, avg4. The
    * band thresholds compare the already-quantized 4-decimal double,
    * identical in both engines. */
  val tokenEntropyOracle: String = {
    val (s1, f1) = DetLn.oracleLnStages("tc", "e",
      Seq("doc_id", "c"), Seq("ln_c" -> "c"))
    val (s2, f2) = DetLn.oracleLnStages("ag", "g",
      Seq("doc_id", "n_tokens", "s_micro"), Seq("ln_n" -> "n_tokens"))
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents),
       tc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
              FROM tok GROUP BY 1, 2)$s1,
       sc AS (SELECT doc_id, c, ${DetLn.microSql("ln_c")} AS clm
              FROM $f1),
       ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                CAST(sum(c * clm) AS BIGINT) AS s_micro
              FROM sc GROUP BY 1)$s2,
       res AS (SELECT doc_id, n_tokens,
                 ${DetLn.avg4Sql(
                   s"${DetLn.microSql("ln_n")} * n_tokens - s_micro",
                   "n_tokens")} AS token_entropy
               FROM $f2)
       SELECT doc_id, n_tokens, token_entropy,
         CASE WHEN token_entropy < 2.5 THEN 'low'
              WHEN token_entropy < 3.2 THEN 'medium'
              ELSE 'high' END AS entropy_band
       FROM res ORDER BY doc_id"""
  }

  // --- LZW compression-ratio quality signal (q142) --------------------------

  /** q142: per-document LZW compression ratio — the entropy-coding
    * quality signal of published pipelines (Dolma's gzip ratio,
    * RedPajama-v2's repetition signals). Unlike q50's windowed n-gram
    * ratios or q126's unigram entropy, the LZW dictionary compresses
    * repeats at ANY distance, so cross-paragraph boilerplate shows up
    * here first. `templated` (ratio ≤ 0.60) flags machine-generated /
    * copy-heavy text (natural prose in this corpus sits at 0.64–0.79
    * interquartile); `high_entropy` (ratio ≥ 1.0) flags incompressible
    * noise — base64 blobs, minified data, or too-short fragments.
    *
    * One narrow codegen'd map ([[graft.functions.Lzw]]), zero shuffle
    * at any corpus size. Fully oracled: the DuckDB twin
    * ([[compressionRatioOracle]]) replays the per-byte LZW state
    * machine as a recursive CTE — dictionary carried as a LIST of
    * packed (prefix<<8|byte) keys (code of the k-th appended entry =
    * 257+k), width bumps at next>=2^width, clear-code reset at slot
    * 4095 — validated against the engine on high-entropy synthetic
    * docs that cross every width boundary AND the 4095 reset (the
    * fixture's ~300-byte docs never reset). The ratio is exported as
    * exact integer ppm (the house integer-exact recipe), so the twin
    * hashes bit-identically; LzwSpec additionally pins
    * `lzw_bytes(s) == gifLzwEncode(bytes).length` byte-for-byte. */
  def compressionRatio(spark: SparkSession, dir: String): DataFrame =
    compressionRatioOf(Tables(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  def compressionRatioOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        graft.functions.Lzw.lzw_bytes(col("text")).as("lzw_bytes"))
      // empty-doc guard: Spark div yields NULL on /0 while DuckDB //
      // raises — an empty document pins ratio 0 on both engines
      .withColumn("ratio_ppm", expr(
        "CASE WHEN n_bytes = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(lzw_bytes AS BIGINT) * 1000000 div n_bytes END"))
      .withColumn("templated",
        col("n_bytes") > 0 && col("ratio_ppm") <= 600000L)
      .withColumn("high_entropy",
        col("n_bytes") > 0 && col("ratio_ppm") >= 1000000L)

  /** The q142 oracle: the GIF-convention LZW length counter replayed
    * per byte in DuckDB as a recursive CTE (the q119 ADPCM
    * state-machine recipe, extended with LIST state for the
    * dictionary). State per (doc, byte): the current prefix code, the
    * dictionary as a list of packed (prefix<<8|byte) keys (the k-th
    * appended entry holds code 257+k — append order IS the code
    * assignment), the next free slot, the current code width, and the
    * bit/byte counters; a miss writes the prefix code at the current
    * width (bumping width when next >= 2^width, capped at 12), and
    * slot 4095 writes a clear code and resets — exactly
    * [[graft.functions.Lzw.bytes]]. The byte table and doc frame are
    * MATERIALIZED (the recursive part re-evaluates referenced CTEs
    * every iteration otherwise — 13x slower, measured). Validated
    * against the engine on synthetic docs crossing the 512/1024/2048
    * width boundaries and the 4095 reset. */
  val compressionRatioOracle: String =
    """WITH RECURSIVE
       dd AS MATERIALIZED (SELECT doc_id,
           CASE WHEN octet_length(encode(text)) = 0 THEN ''
                ELSE hex(encode(text)) END AS hx,
           octet_length(encode(text)) AS len
         FROM documents),
       byc AS MATERIALIZED (SELECT doc_id, len, i,
           ('0x' || substr(hx, i * 2 + 1, 2))::INTEGER AS c
         FROM (SELECT doc_id, len,
                 CAST(unnest(range(0, len)) AS INTEGER) AS i, hx
               FROM dd)),
       st AS (
         SELECT doc_id, len, 1 AS i, c AS prefix,
                CAST([] AS INTEGER[]) AS dict,
                258 AS nxt, 9 AS width, 1 AS nbits, 1 AS ob
         FROM byc WHERE i = 0
         UNION ALL
         SELECT doc_id, len, i + 1,
           CASE WHEN hit > 0 THEN 257 + hit ELSE c END,
           CASE WHEN hit > 0 THEN dict
                WHEN nxt >= 4095 THEN CAST([] AS INTEGER[])
                ELSE list_append(dict, key) END,
           CASE WHEN hit > 0 THEN nxt
                WHEN nxt >= 4095 THEN 258
                ELSE nxt + 1 END,
           CASE WHEN hit > 0 THEN width
                WHEN nxt >= 4095 THEN 9
                ELSE w1 END,
           CASE WHEN hit > 0 THEN nbits
                WHEN nxt >= 4095 THEN (nbits + width + w1) % 8
                ELSE (nbits + width) % 8 END,
           CASE WHEN hit > 0 THEN ob
                WHEN nxt >= 4095
                  THEN ob + (nbits + width) // 8
                       + ((nbits + width) % 8 + w1) // 8
                ELSE ob + (nbits + width) // 8 END
         FROM (
           SELECT s.doc_id, s.len, s.i, s.dict, s.nxt, s.width,
             s.nbits, s.ob, b.c,
             (s.prefix * 256 + b.c) AS key,
             list_position(s.dict, s.prefix * 256 + b.c) AS hit,
             CASE WHEN s.nxt >= (1 << s.width) AND s.width < 12
                  THEN s.width + 1 ELSE s.width END AS w1
           FROM st s JOIN byc b ON b.doc_id = s.doc_id AND b.i = s.i
           WHERE s.i < s.len)),
       fin AS (
         SELECT doc_id,
           ob + (nbits + width) // 8
              + ((nbits + width) % 8 + w1) // 8
              + CASE WHEN ((nbits + width) % 8 + w1) % 8 > 0
                  THEN 1 ELSE 0 END AS lzw
         FROM (SELECT *,
                 CASE WHEN nxt >= (1 << width) AND width < 12
                      THEN width + 1 ELSE width END AS w1
               FROM st WHERE i = len))
       SELECT dd.doc_id, CAST(dd.len AS INT) AS n_bytes,
         CAST(CASE WHEN dd.len = 0 THEN 0 ELSE fin.lzw END AS INT)
           AS lzw_bytes,
         CASE WHEN dd.len = 0 THEN CAST(0 AS BIGINT)
           ELSE CAST(fin.lzw AS BIGINT) * 1000000 // dd.len END
           AS ratio_ppm,
         CASE WHEN dd.len = 0 THEN FALSE
           ELSE CAST(fin.lzw AS BIGINT) * 1000000 // dd.len <= 600000
           END AS templated,
         CASE WHEN dd.len = 0 THEN FALSE
           ELSE CAST(fin.lzw AS BIGINT) * 1000000 // dd.len >= 1000000
           END AS high_entropy
       FROM dd LEFT JOIN fin ON fin.doc_id = dd.doc_id
       ORDER BY dd.doc_id"""

  val hashedClassifierOracle: String = {
    val mix = graft.functions.DetMix.mixSql("h", 122)
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word,
             generate_subscripts(string_split(text,' '),1) AS pos
           FROM documents),
       t AS (SELECT a.doc_id, a.word||' '||b.word||' '||c.word AS sh
             FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
                      JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
       d AS (SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(sh),1,15)) AS BIGINT) AS h
             FROM t),
       df AS (SELECT h, count(*) AS c FROM d GROUP BY 1),
       vocab AS (SELECT h, $mix % 2001 - 1000 AS wt
                 FROM df WHERE c >= 2)
       SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_features,
         CAST(sum(coalesce(wt, 0)) AS BIGINT) AS margin,
         (CAST(sum(coalesce(wt, 0)) AS BIGINT) >= 0) AS keep
       FROM d LEFT JOIN vocab USING (h)
       GROUP BY d.doc_id ORDER BY d.doc_id"""
  }

  // --- trained quality classifier (q160): multinomial Naive Bayes ----------

  /** q160: the pipeline's first END-TO-END TRAINED model — train a
    * multinomial Naive Bayes quality classifier on the q102 train
    * split, then score the whole corpus, in one derivation. This is
    * the CCNet / LLaMA-1 quality-filter shape (Wenzek et al. 2020,
    * arXiv:1911.00359: "does this page look like the reference
    * corpus?"): the reference class is a designated source set, the
    * negatives are everything else, and the score is the NB log-odds
    * margin. q122 runs *inference* over supplied weights; this one
    * LEARNS the weights — closed-form counts, so training is two
    * aggregates, not an optimizer loop.
    *
    * Model (standard multinomial NB, add-one smoothing):
    *   margin(d) = Σ_w tf_w·[ln(c⁺_w+1) − ln(c⁻_w+1)]
    *             − n_tokens·[ln(T⁺+V) − ln(T⁻+V)]
    *             + ln(N⁺) − ln(N⁻)
    * with c±_w the per-class train token counts, T± the class token
    * totals, V the train vocabulary size, N± the class doc counts.
    * Out-of-vocabulary tokens contribute exactly their smoothed
    * −[ln(T⁺+V) − ln(T⁻+V)] share via the n_tokens term.
    *
    * Engine parity: every ln is [[graft.functions.DetLn]]'s IEEE-exact
    * lnFix of an INTEGER, quantized to BIGINT micro-nats; the margin is
    * then exact integer arithmetic — DuckDB reproduces it bit-for-bit,
    * so a TRAINED model's scores sit under the hash oracle.
    *
    * Scale: training = one (word) aggregate over the train split plus
    * two scalar rows (the sufficient statistics — collected driver-side
    * by construction: 5 numbers). Scoring = per-(doc, word) tf counts
    * joined to the BROADCAST weight table (vocabulary-sized) and one
    * per-doc aggregate. No iteration, no optimizer state; the model
    * "artifact" is a DataFrame, swappable into q122's scoring join. */
  def nbQualityClassifier(spark: SparkSession, dir: String): DataFrame =
    nbQualityOf(Tables(spark, dir, "documents"), NbRefSources,
        memoKey = Some(nbMemoKey(dir)))
      .orderBy(col("doc_id")) // oracle determinism only

  /** The q160 family's reference-source list, ONE definition: the
    * registered q160/q161/q164 derivations and the q168 delivery gate
    * must train under identical assumptions, and the session-memo key
    * derives from this list so a future refSources change cannot
    * leave two paths sharing a key while training different models. */
  private val NbRefSources = Seq("src0", "src1")

  private def nbMemoKey(dir: String): String =
    s"nbmodel:$dir:${NbRefSources.mkString(",")}"

  /** The tagged training frame — q102's deterministic split bands plus
    * the reference-class tag — as the single construction both
    * [[nbQualityOf]] and [[nbModelFor]] train from. */
  private def nbTaggedOf(docs: DataFrame,
      refSources: Seq[String]): DataFrame =
    Curate.splitAssign(
        docs.select(col("doc_id"), col("text"), col("source")),
        "doc_id", "graft", Curate.SplitFractions)
      .withColumn("is_ref", col("source").isin(refSources: _*))

  /** A trained NB model: per-word weight table plus the two scalar
    * constants (the per-class denominator difference and the class
    * prior), all in micro-nats. */
  private[graft] final case class NbModel(weights: DataFrame,
      kdiff: Long, prior: Long)

  /** Train the model from a tagged (doc_id, split, is_ref, text) frame
    * — the closed-form pass: one per-word class-count aggregate plus
    * five scalars. Eager (the scalars collect), so a one-class train
    * split fails HERE, loudly. */
  private def nbTrainOf(tagged: DataFrame): NbModel = {
    val spark = tagged.sparkSession
    val train = tagged.filter(col("split") === "train")
    val tok = train.select(col("is_ref"),
      explode(tokens(col("text"))).as("w"))
    // the model's sufficient statistics: per-word class counts — built
    // once, feeds the scalar totals AND the weight table
    val counts = tok.groupBy(col("w")).agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("cpos"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("cneg"))
      .localCheckpoint(eager = false)
    val t = counts.agg(sum(col("cpos")), sum(col("cneg")), count(lit(1)))
      .head()
    val (totpos, totneg, v) = (t.getLong(0), t.getLong(1), t.getLong(2))
    val d = train
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)),
        sum(when(col("is_ref"), 0L).otherwise(1L))).head()
    val (npos, nneg) = (d.getLong(0), d.getLong(1))
    // refuse-don't-mislabel: a one-class training set has no log-odds
    require(npos > 0 && nneg > 0,
      s"NB training split needs both classes, got ref=$npos other=$nneg")
    // per-class constants in micro-nats, via the SAME lnFix DAG the
    // oracle runs (the inputs are integers, so literal-vs-column makes
    // the identical double)
    val kRow = Seq(("ln_ap", totpos + v), ("ln_an", totneg + v),
      ("ln_pp", npos), ("ln_pn", nneg))
      .foldLeft(spark.range(1).toDF("i")) { case (df, (out, x)) =>
        DetLn.withLnFix(df, out, x.toString)
      }
      .select(expr(DetLn.microSql("ln_ap")), expr(DetLn.microSql("ln_an")),
        expr(DetLn.microSql("ln_pp")), expr(DetLn.microSql("ln_pn")))
      .head()
    val weights = DetLn.withLnFix(DetLn.withLnFix(counts,
        "ln_cp", "cpos + 1"), "ln_cn", "cneg + 1")
      .select(col("w"),
        (expr(DetLn.microSql("ln_cp")) - expr(DetLn.microSql("ln_cn")))
          .as("dw"))
    NbModel(weights, kRow.getLong(0) - kRow.getLong(1),
      kRow.getLong(2) - kRow.getLong(3))
  }

  /** Train-and-score over any (doc_id, text, source) frame — the
    * reusable operator behind q160. Sort-free. `memoKey`: the
    * registered q160/q161/q164 entries pass a session-memo key so the
    * MODEL (weights + constants — the shared artifact, like q83's BPE
    * merges) trains once per session over the static table; each
    * query's scoring pass still runs itself. Arbitrary caller frames
    * (specs, production use) leave it None and train fresh. */
  def nbQualityOf(docs: DataFrame, refSources: Seq[String],
      memoKey: Option[String] = None): DataFrame = {
    val tagged = nbTaggedOf(docs, refSources)
    val model = memoKey match {
      case Some(k) =>
        graft.SessionMemo(docs.sparkSession, k)(nbTrainOf(tagged))
      case None => nbTrainOf(tagged)
    }
    nbScoreOf(tagged, model)
      .join(tagged.select(col("doc_id"), col("split"), col("is_ref")),
        Seq("doc_id"))
      .select(col("doc_id"), col("split"), col("is_ref"), col("n_tokens"),
        col("margin_micro"))
      .withColumn("margin", expr(DetLn.micro4Sql("margin_micro")))
      .withColumn("pred_ref", col("margin_micro") >= 0)
  }

  /** Score any (doc_id, text) frame with a trained [[NbModel]] — ONE
    * definition of the margin arithmetic for the q160 family and the
    * q168 delivery gate: per-(doc, word) tf counts joined to the
    * BROADCAST weight table, one per-doc aggregate, then the exact
    * integer margin in micro-nats. */
  private[graft] def nbScoreOf(docs: DataFrame,
      model: NbModel): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("w"))
    val tf = tok.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    tf.join(broadcast(model.weights), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * coalesce(col("dw"), lit(0L))).as("s_num"))
      .select(col("doc_id"), col("n_tokens"),
        (col("s_num") - col("n_tokens") * lit(model.kdiff) +
          lit(model.prior)).as("margin_micro"))
  }

  /** The corpus-trained NB model under the q160 session-memo key —
    * the registered q160/q161/q164 derivation and the q168 delivery
    * gate read the SAME trained artifact. */
  private[graft] def nbModelFor(spark: SparkSession,
      dir: String): NbModel =
    graft.SessionMemo(spark, nbMemoKey(dir))(
      nbTrainOf(nbTaggedOf(Tables(spark, dir, "documents"), NbRefSources)))

  /** Shared oracle CTE chain for q160/q161 — the identical integer
    * pipeline: q102's split bands, per-word class counts, lnFix stages
    * for the weights and the four scalar constants, exact micro-nat
    * margins in a final `scored` CTE. */
  private[ext] lazy val nbCte: String = {
    val (kStages, kFin) = DetLn.oracleLnStages("k0", "k",
      Seq("ap", "an", "npos", "nneg"),
      Seq("ln_ap" -> "ap", "ln_an" -> "an",
        "ln_pp" -> "npos", "ln_pn" -> "nneg"))
    val (wStages, wFin) = DetLn.oracleLnStages("cnt", "nw",
      Seq("w", "cpos", "cneg"),
      Seq("ln_cp" -> "cpos + 1", "ln_cn" -> "cneg + 1"))
    s"""a AS (SELECT doc_id, text,
           CASE WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)),
                  1, 2) < 'cc' THEN 'train'
                WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)),
                  1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split,
           source IN ('src0', 'src1') AS is_ref
         FROM documents),
       tok AS (SELECT doc_id, split, is_ref,
           unnest(string_split(text, ' ')) AS w FROM a),
       cnt AS (SELECT w,
           CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
             AS cpos,
           CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
             AS cneg
         FROM tok WHERE split = 'train' GROUP BY 1),
       nbsc AS (SELECT CAST(sum(cpos) AS BIGINT) AS totpos,
           CAST(sum(cneg) AS BIGINT) AS totneg,
           CAST(count(*) AS BIGINT) AS v FROM cnt),
       dc AS (SELECT
           CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
             AS npos,
           CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
             AS nneg
         FROM a WHERE split = 'train'),
       k0 AS (SELECT totpos + v AS ap, totneg + v AS an, npos, nneg
         FROM nbsc CROSS JOIN dc)$kStages,
       kc AS (SELECT ${DetLn.microSql("ln_ap")} - ${DetLn.microSql("ln_an")}
             AS kdiff,
           ${DetLn.microSql("ln_pp")} - ${DetLn.microSql("ln_pn")}
             AS prior
         FROM $kFin)$wStages,
       wt AS (SELECT w,
           ${DetLn.microSql("ln_cp")} - ${DetLn.microSql("ln_cn")} AS dw
         FROM $wFin),
       tf AS (SELECT doc_id, split, is_ref, w,
           CAST(count(*) AS BIGINT) AS tf
         FROM tok GROUP BY 1, 2, 3, 4),
       sm AS (SELECT doc_id, split, is_ref,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(tf * coalesce(dw, 0)) AS BIGINT) AS s_num
         FROM tf LEFT JOIN wt USING (w) GROUP BY 1, 2, 3),
       scored AS (SELECT doc_id, split, is_ref, n_tokens,
           s_num - n_tokens * kdiff + prior AS margin_micro,
           ${DetLn.micro4Sql("s_num - n_tokens * kdiff + prior")} AS margin,
           (s_num - n_tokens * kdiff + prior >= 0) AS pred_ref
         FROM sm CROSS JOIN kc)"""
  }

  /** Oracle for q160 [[nbQualityClassifier]]. */
  lazy val nbQualityOracle: String =
    s"""WITH $nbCte
       SELECT doc_id, split, is_ref, n_tokens, margin_micro, margin,
         pred_ref
       FROM scored ORDER BY doc_id"""

  /** q161: the classifier's evaluation report — per split (train / val /
    * test): document count, the confusion matrix against the true
    * reference labels, and accuracy. The val/test rows are the
    * HELD-OUT generalization numbers (their docs contributed nothing
    * to the counts the weights were learned from) — the numbers a
    * model-based quality filter must publish before its `keep` column
    * is trusted. Completes the q160 loop: train → score → EVALUATE,
    * all under one oracle. One extra 3-row aggregate over the q160
    * derivation; accuracy divides two exact integers once and
    * floor-quantizes (the house fix4 idiom). */
  def nbEvalReport(spark: SparkSession, dir: String): DataFrame =
    nbQualityOf(Tables.spreadScan(spark, dir, "documents"), NbRefSources,
        memoKey = Some(nbMemoKey(dir)))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_ref") && col("pred_ref"), 1L).otherwise(0L))
          .as("tp"),
        sum(when(!col("is_ref") && col("pred_ref"), 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("is_ref") && !col("pred_ref"), 1L).otherwise(0L))
          .as("fn"),
        sum(when(!col("is_ref") && !col("pred_ref"), 1L).otherwise(0L))
          .as("tn"))
      .withColumn("accuracy", expr(DetLn.fix4Sql(
        "CAST(tp + tn AS DOUBLE) / CAST(n_docs AS DOUBLE)")))
      .orderBy(col("split"))

  /** q164: classifier calibration table — the reliability diagram's
    * data: documents bucketed into FIXED margin bands (0.5-nat steps
    * in micro-nat space, clamped to [-12, 12] — fixed widths, not
    * deciles, so no corpus-wide sort/order-statistics at any scale)
    * with each band's actual reference share. A well-calibrated filter shows
    * ref_share rising with the band; a flat table means the margin is
    * noise — the check that decides whether q160's `keep` threshold
    * can be trusted off the training distribution. Band arithmetic is
    * a double floor over the exact integer margin (identical IEEE text
    * both engines — integer `/` rounds differently across engines on
    * negatives, the q70 lesson, so no integer division here). Band
    * width 0.5 nat, clamped to [-12, 12]: on a corpus with a ~10%
    * reference prior every margin is negative (the prior term), so the
    * informative range is a handful of nats below zero. */
  def nbCalibration(spark: SparkSession, dir: String): DataFrame =
    nbQualityOf(Tables.spreadScan(spark, dir, "documents"), NbRefSources,
        memoKey = Some(nbMemoKey(dir)))
      .withColumn("band", expr(
        "CAST(greatest(-12, least(12, " +
          "floor(CAST(margin_micro AS DOUBLE) / 5e5))) AS BIGINT)"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"))
      .withColumn("ref_share", expr(DetLn.fix4Sql(
        "CAST(n_ref AS DOUBLE) / CAST(n_docs AS DOUBLE)")))
      .orderBy(col("band"))

  /** Oracle for q164 [[nbCalibration]]. */
  lazy val nbCalibrationOracle: String =
    s"""WITH $nbCte,
       bd AS (SELECT
           CAST(greatest(-12, least(12,
             floor(CAST(margin_micro AS DOUBLE) / 5e5))) AS BIGINT)
             AS band,
           is_ref
         FROM scored),
       ag AS (SELECT band, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ref
         FROM bd GROUP BY band)
       SELECT band, n_docs, n_ref,
         ${DetLn.fix4Sql("CAST(n_ref AS DOUBLE) / CAST(n_docs AS DOUBLE)")}
           AS ref_share
       FROM ag ORDER BY band"""

  /** Oracle for q161 [[nbEvalReport]]. */
  lazy val nbEvalOracle: String =
    s"""WITH $nbCte,
       ev AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN is_ref AND pred_ref THEN 1 ELSE 0 END)
             AS BIGINT) AS tp,
           CAST(sum(CASE WHEN NOT is_ref AND pred_ref THEN 1 ELSE 0 END)
             AS BIGINT) AS fp,
           CAST(sum(CASE WHEN is_ref AND NOT pred_ref THEN 1 ELSE 0 END)
             AS BIGINT) AS fn,
           CAST(sum(CASE WHEN NOT is_ref AND NOT pred_ref THEN 1 ELSE 0
             END) AS BIGINT) AS tn
         FROM scored GROUP BY split)
       SELECT split, n_docs, tp, fp, fn, tn,
         ${DetLn.fix4Sql("CAST(tp + tn AS DOUBLE) / CAST(n_docs AS DOUBLE)")}
           AS accuracy
       FROM ev ORDER BY split"""

  // ----- reference-trained bigram LM (q169/q170) ---------------------
  // CCNet's actual quality gate is perplexity under an LM trained on a
  // REFERENCE corpus (wiki-trained KenLM), not a self-model: q107's
  // bigram scores "does this text string words together like the
  // corpus does"; this family scores "…like the REFERENCE does", which
  // needs explicit smoothing because scored text contains words and
  // transitions the reference never saw. Reference = the same
  // sources/split the NB classifier trains on ([[NbRefSources]],
  // q102's bands), so the two trained artifacts are comparable gates
  // over identical training data.

  /** A trained reference LM: bigram counts `(prev, w, c2)`, unigram
    * counts `(w, c)`, and `m` = N + V + 1 — the add-one unigram
    * denominator (N reference tokens, V reference vocabulary, one
    * out-of-vocabulary slot). Both frames are REFERENCE-sized
    * (bounded by the training corpus, not the scored crawl). */
  final case class RefLmModel(bigrams: DataFrame,
      uni: DataFrame, m: Long)

  private def refLmMemoKey(dir: String): String =
    s"reflm:$dir:${NbRefSources.mkString(",")}"

  /** The corpus's reference-trained LM under the session memo — q169's
    * corpus score and q170's bucket split read the SAME artifact (the
    * [[nbModelFor]] posture; a fresh session pays one derivation). */
  private[graft] def refLmModelFor(spark: SparkSession,
      dir: String): RefLmModel =
    graft.SessionMemo(spark, refLmMemoKey(dir))(
      refLmTrainOf(nbTaggedOf(Tables(spark, dir, "documents"),
        NbRefSources)))

  /** Train from a tagged frame ([[nbTaggedOf]]'s shape — the LM and
    * the NB classifier share the reference/split definitions): unigram
    * and bigram counts over the reference train docs, both
    * checkpointed. The transitions derive narrowly via q107's
    * shifted-slice zip, never a window over the exploded stream.
    * Eager (the scalars collect), so an empty reference train split
    * fails HERE, loudly, instead of scoring everything zero. */
  private[graft] def refLmTrainOf(tagged: DataFrame): RefLmModel = {
    val ref = tagged
      .filter(col("split") === "train" && col("is_ref"))
      .select(col("doc_id"), col("text"))
    val uni = ref.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val t = uni.agg(sum(col("c")), count(lit(1))).head()
    require(!t.isNullAt(0) && t.getLong(0) > 0,
      "reference LM training split is empty")
    val (n, v) = (t.getLong(0), t.getLong(1))
    val bigrams = transitionsOf(ref)
      .groupBy(col("prev"), col("w")).agg(count(lit(1)).as("c2"))
      .localCheckpoint(eager = false)
    RefLmModel(bigrams, uni, n + v + 1)
  }

  /** Score any (doc_id, text) frame under a trained [[RefLmModel]]:
    * mean transition log-probability with add-one unigram backoff,
    *   p(w|prev) = 0.7·c2/cp + 0.3·(cw+1)/m     (cp > 0)
    *             =            0.3·(cw+1)/m      (prev unseen)
    * — each an exact integer ratio scored by [[DetLn]]'s lnFix in
    * BIGINT micro-nats, so a word or transition the reference never
    * saw gets a finite, engine-exact penalty instead of −∞ (the
    * smoothing a self-model like q107 never needs). The branch
    * condition is an exact integer compare, so both engines take
    * identical branches. Docs need ≥ 2 tokens (no transition
    * otherwise — q107's documented scope).
    *
    * Scale: transitions are the narrow shifted-slice zip; the model is
    * reference-sized so BOTH model joins broadcast — the production
    * CCNet posture (the KenLM artifact ships to every worker; the
    * crawl-sized side never shuffles on a skewed token key); the only
    * exchange is the per-doc aggregate. Count products fit BIGINT
    * through ~10^8-token references; the 100 TB form widens them to
    * DECIMAL(38,0). */
  private[graft] def refPerplexityOf(docs: DataFrame,
      model: RefLmModel): DataFrame = {
    val docBig = transitionsOf(docs)
      .groupBy(col("doc_id"), col("prev"), col("w"))
      .agg(count(lit(1)).as("k"))
    val j = docBig
      .join(broadcast(model.bigrams), Seq("prev", "w"), "left")
      .join(broadcast(model.uni.select(col("w").as("prev"),
        col("c").as("cp"))), Seq("prev"), "left")
      .join(broadcast(model.uni.select(col("w"), col("c").as("cw"))),
        Seq("w"), "left")
      .na.fill(0L, Seq("c2", "cp", "cw"))
      .withColumn("la_num", expr(
        s"CASE WHEN cp > 0 THEN 7 * c2 * ${model.m} + 3 * (cw + 1) * cp" +
          s" ELSE 3 * (cw + 1) END"))
      .withColumn("la_den", expr(
        s"CASE WHEN cp > 0 THEN 10 * cp * ${model.m}" +
          s" ELSE 10 * ${model.m} END"))
    DetLn.withLnFix(DetLn.withLnFix(j, "ln_a", "la_num"),
        "ln_b", "la_den")
      .withColumn("lp_micro", expr(DetLn.microSql("ln_a - ln_b")))
      .select(col("doc_id"), col("k"),
        (col("k") * col("lp_micro")).as("lp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_transitions"),
        sum(col("lp")).as("sum_lp_micro"))
      .select(col("doc_id"), col("n_transitions"), col("sum_lp_micro"),
        expr(DetLn.avg4Sql("sum_lp_micro", "n_transitions"))
          .as("avg_logprob"))
  }

  /** q169: every document (≥ 2 tokens) scored under the
    * reference-trained LM — the corpus-wide perplexity table the
    * head/middle/tail split (q170) cuts. ORDER BY = oracle
    * determinism only. */
  def refPerplexity(spark: SparkSession, dir: String): DataFrame =
    refPerplexityOf(Tables.spreadScan(spark, dir, "documents"),
        refLmModelFor(spark, dir))
      .orderBy(col("doc_id"))

  /** Shared oracle fragment for q169/q170 — `rl`-prefixed so it
    * composes with the curate/survivor/langId chains: the q102 train
    * band + reference-source filter, reference unigram/bigram counts,
    * and the add-one interpolated transition scores for every doc in
    * `scoreFrom` (any prior CTE/table exposing a doc_id column; text
    * is read from documents). Ends at
    * `rlppl(doc_id, n_transitions, sum_lp_micro)`. */
  private[ext] def refLmCte(scoreFrom: String): String = {
    val (stages, fin) = DetLn.oracleLnStages("rl0", "rl",
      Seq("doc_id", "k", "xa", "xb"),
      Seq("ln_a" -> "xa", "ln_b" -> "xb"))
    s"""rla AS (SELECT d.doc_id, d.text
         FROM documents d
         WHERE substring(md5('graft:' || CAST(d.doc_id AS VARCHAR)),
             1, 2) < 'cc'
           AND d.source IN ('src0', 'src1')),
       rluni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT unnest(string_split(text, ' ')) AS w FROM rla) u
         GROUP BY 1),
       rln AS (SELECT CAST(sum(c) AS BIGINT) + CAST(count(*) AS BIGINT)
           + 1 AS m FROM rluni),
       rlw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
         FROM rla),
       rlb AS (SELECT a.w AS prev, b.w AS w,
           CAST(count(*) AS BIGINT) AS c2
         FROM rlw a JOIN rlw b
           ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         GROUP BY 1, 2),
       rlsw AS (SELECT s.doc_id, d.text FROM $scoreFrom s
         JOIN documents d ON d.doc_id = s.doc_id),
       rlst AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
         FROM rlsw),
       rltr AS (SELECT a.doc_id, a.w AS prev, b.w AS w,
           CAST(count(*) AS BIGINT) AS k
         FROM rlst a JOIN rlst b
           ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         GROUP BY 1, 2, 3),
       rl0 AS (SELECT t.doc_id, t.k,
           CASE WHEN coalesce(cp.c, 0) > 0
             THEN 7 * coalesce(b2.c2, 0) * rln.m
               + 3 * (coalesce(cw.c, 0) + 1) * cp.c
             ELSE 3 * (coalesce(cw.c, 0) + 1) END AS xa,
           CASE WHEN coalesce(cp.c, 0) > 0 THEN 10 * cp.c * rln.m
             ELSE 10 * rln.m END AS xb
         FROM rltr t
         LEFT JOIN rlb b2 ON b2.prev = t.prev AND b2.w = t.w
         LEFT JOIN rluni cp ON cp.w = t.prev
         LEFT JOIN rluni cw ON cw.w = t.w
         CROSS JOIN rln)$stages,
       rlsc AS (SELECT doc_id, k,
           ${DetLn.microSql("ln_a - ln_b")} AS lp_micro FROM $fin),
       rlppl AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_transitions,
           CAST(sum(k * lp_micro) AS BIGINT) AS sum_lp_micro
         FROM rlsc GROUP BY 1)"""
  }

  /** Oracle for q169 [[refPerplexity]]. */
  lazy val refPerplexityOracle: String =
    s"""WITH sdoc AS (SELECT doc_id FROM documents),
       ${refLmCte("sdoc")}
       SELECT doc_id, n_transitions, sum_lp_micro,
         ${DetLn.avg4Sql("sum_lp_micro", "n_transitions")} AS avg_logprob
       FROM rlppl ORDER BY doc_id"""

  // ----- per-language reference LMs (q173) ---------------------------
  // CCNet's production shape is not ONE reference LM but one PER
  // LANGUAGE (a wiki-trained KenLM per language), because transition
  // statistics do not transfer across languages — the same surface
  // word can be common in one and noise in another. q169's single
  // model is the mixed-reference baseline; this family trains the
  // per-language models from the reference's TRUSTED labels and scores
  // each document under the model of its PREDICTED language (q30) —
  // exactly the CCNet wiring (curated labels in, predictions out).

  /** Per-language trained reference LMs, all language-keyed frames:
    * `bigrams` (lang, prev, w, c2), `uni` (lang, w, c), and `scal`
    * (lang, m) with m = N_lang + V_lang + 1 — one add-one denominator
    * per language. Reference-sized × the handful of reference
    * languages; every frame broadcasts. */
  final case class LangLmModel(bigrams: DataFrame, uni: DataFrame,
      scal: DataFrame)

  private def langLmMemoKey(dir: String): String =
    s"langlm:$dir:${NbRefSources.mkString(",")}"

  /** The corpus's per-language reference LMs under the session memo. */
  private[graft] def langLmModelFor(spark: SparkSession,
      dir: String): LangLmModel =
    graft.SessionMemo(spark, langLmMemoKey(dir))(
      langLmTrainOf(nbTaggedOf(Tables(spark, dir, "documents"),
          NbRefSources),
        Tables(spark, dir, "documents").select(col("doc_id"),
          col("lang"))))

  /** Train one LM per reference language: the reference train docs
    * ([[nbTaggedOf]]'s split/source contract) carry their TRUSTED
    * labels in, and every count keys on (lang, …). Checkpointed;
    * eager, so an empty reference train split fails here, loudly. */
  private[graft] def langLmTrainOf(tagged: DataFrame,
      labels: DataFrame): LangLmModel = {
    val ref = tagged
      .filter(col("split") === "train" && col("is_ref"))
      .select(col("doc_id"), col("text"))
      .join(labels.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val uni = ref
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val scal = uni.groupBy(col("lang"))
      .agg((sum(col("c")) + count(lit(1)) + lit(1L)).as("m"))
      .localCheckpoint(eager = false)
    require(scal.count() > 0, "reference LM training split is empty")
    val bigrams = transitionsOf(ref)
      .join(ref.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("prev"), col("w"))
      .agg(count(lit(1)).as("c2"))
      .localCheckpoint(eager = false)
    LangLmModel(bigrams, uni, scal)
  }

  /** Score a (doc_id, text, pred_lang) frame, each document under the
    * model of its predicted language — [[refPerplexityOf]]'s branch
    * arithmetic with every model lookup keyed on (pred_lang, …) and
    * the per-language `m` a JOINED column instead of a literal.
    * Documents predicted a language the reference has no model for
    * are EXCLUDED (the scal join is inner) — refuse, don't score
    * under a foreign model; CCNet routes such docs to a fallback
    * pipeline, not to a wrong LM. Same broadcast posture as q169 (the
    * per-language models together are still reference-sized). */
  private[graft] def langPerplexityOf(docs: DataFrame,
      model: LangLmModel): DataFrame = {
    val docBig = transitionsOf(docs)
      .join(docs.select(col("doc_id"), col("pred_lang")), Seq("doc_id"))
      .groupBy(col("doc_id"), col("pred_lang"), col("prev"), col("w"))
      .agg(count(lit(1)).as("k"))
    val j = docBig
      .join(broadcast(model.scal
        .select(col("lang").as("pred_lang"), col("m"))),
        Seq("pred_lang"))
      .join(broadcast(model.bigrams
        .select(col("lang").as("pred_lang"), col("prev"), col("w"),
          col("c2"))),
        Seq("pred_lang", "prev", "w"), "left")
      .join(broadcast(model.uni
        .select(col("lang").as("pred_lang"), col("w").as("prev"),
          col("c").as("cp"))),
        Seq("pred_lang", "prev"), "left")
      .join(broadcast(model.uni
        .select(col("lang").as("pred_lang"), col("w"),
          col("c").as("cw"))),
        Seq("pred_lang", "w"), "left")
      .na.fill(0L, Seq("c2", "cp", "cw"))
      .withColumn("la_num", expr(
        "CASE WHEN cp > 0 THEN 7 * c2 * m + 3 * (cw + 1) * cp" +
          " ELSE 3 * (cw + 1) END"))
      .withColumn("la_den", expr(
        "CASE WHEN cp > 0 THEN 10 * cp * m ELSE 10 * m END"))
    DetLn.withLnFix(DetLn.withLnFix(j, "ln_a", "la_num"),
        "ln_b", "la_den")
      .withColumn("lp_micro", expr(DetLn.microSql("ln_a - ln_b")))
      .select(col("doc_id"), col("pred_lang"), col("k"),
        (col("k") * col("lp_micro")).as("lp"))
      .groupBy(col("doc_id"), col("pred_lang"))
      .agg(sum(col("k")).as("n_transitions"),
        sum(col("lp")).as("sum_lp_micro"))
      .select(col("doc_id"), col("pred_lang"), col("n_transitions"),
        col("sum_lp_micro"),
        expr(DetLn.avg4Sql("sum_lp_micro", "n_transitions"))
          .as("avg_logprob"))
  }

  /** Shared oracle fragment for q173 — `ll`-prefixed: reference train
    * docs with labels, per-language unigram/bigram counts and add-one
    * denominators, then the branch arithmetic with `m` joined per
    * language, scoring every (doc_id, pred_lang) pair `scoreFrom`
    * exposes. Ends at `llppl(doc_id, pred_lang, n_transitions,
    * sum_lp_micro)`. */
  private[ext] def langLmCte(scoreFrom: String): String = {
    val (stages, fin) = DetLn.oracleLnStages("ll0", "ll",
      Seq("doc_id", "pred_lang", "k", "xa", "xb"),
      Seq("ln_a" -> "xa", "ln_b" -> "xb"))
    s"""lla AS (SELECT d.doc_id, d.text, d.lang
         FROM documents d
         WHERE substring(md5('graft:' || CAST(d.doc_id AS VARCHAR)),
             1, 2) < 'cc'
           AND d.source IN ('src0', 'src1')),
       lluni AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
           FROM lla) u
         GROUP BY 1, 2),
       llscal AS (SELECT lang, CAST(sum(c) AS BIGINT)
           + CAST(count(*) AS BIGINT) + 1 AS m
         FROM lluni GROUP BY 1),
       llw AS (SELECT doc_id, lang,
           unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
         FROM lla),
       llb AS (SELECT a.lang, a.w AS prev, b.w AS w,
           CAST(count(*) AS BIGINT) AS c2
         FROM llw a JOIN llw b
           ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         GROUP BY 1, 2, 3),
       llsw AS (SELECT s.doc_id, s.pred_lang, d.text FROM $scoreFrom s
         JOIN documents d ON d.doc_id = s.doc_id),
       llst AS (SELECT doc_id, pred_lang,
           unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
         FROM llsw),
       lltr AS (SELECT a.doc_id, a.pred_lang, a.w AS prev, b.w AS w,
           CAST(count(*) AS BIGINT) AS k
         FROM llst a JOIN llst b
           ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         GROUP BY 1, 2, 3, 4),
       ll0 AS (SELECT t.doc_id, t.pred_lang, t.k,
           CASE WHEN coalesce(cp.c, 0) > 0
             THEN 7 * coalesce(b2.c2, 0) * s.m
               + 3 * (coalesce(cw.c, 0) + 1) * cp.c
             ELSE 3 * (coalesce(cw.c, 0) + 1) END AS xa,
           CASE WHEN coalesce(cp.c, 0) > 0 THEN 10 * cp.c * s.m
             ELSE 10 * s.m END AS xb
         FROM lltr t
         JOIN llscal s ON s.lang = t.pred_lang
         LEFT JOIN llb b2 ON b2.lang = t.pred_lang
           AND b2.prev = t.prev AND b2.w = t.w
         LEFT JOIN lluni cp ON cp.lang = t.pred_lang
           AND cp.w = t.prev
         LEFT JOIN lluni cw ON cw.lang = t.pred_lang
           AND cw.w = t.w)$stages,
       llsc AS (SELECT doc_id, pred_lang, k,
           ${DetLn.microSql("ln_a - ln_b")} AS lp_micro FROM $fin),
       llppl AS (SELECT doc_id, pred_lang,
           CAST(sum(k) AS BIGINT) AS n_transitions,
           CAST(sum(k * lp_micro) AS BIGINT) AS sum_lp_micro
         FROM llsc GROUP BY 1, 2)"""
  }
}
