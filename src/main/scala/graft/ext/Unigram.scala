package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.DetLn

/** Unigram-LM subword tokenizer (the SentencePiece-family counterpart
  * to [[Bpe]]), trained by Viterbi (hard) EM and — like the BPE pair —
  * gated cross-engine END TO END: seeding, both EM rounds, and the
  * encode pass all replay in DuckDB, because every quantity in the
  * loop is either an exact integer (substring counts, usage counts,
  * micro-nat path costs) or a [[DetLn]] double both engines compute
  * bit-identically.
  *
  * Model: a piece vocabulary with counts; a word's segmentation is the
  * min-cost path under per-piece costs `micro(lnFix(T) − lnFix(c+1))`
  * (Laplace-smoothed so unused pieces stay scoreable and lnFix stays
  * positive-domain; T = Σ(c+1)). Viterbi EM alternates: segment every
  * distinct word under the current costs (the E-step, hard assignment)
  * → piece usage counts weighted by word frequency (the M-step). The
  * vocabulary is FIXED at seeding (all ≤ [[MaxPiece]]-char substrings
  * above [[MinSeed]] weighted occurrences, plus every single character
  * so any word stays segmentable); EM moves counts, the final table
  * keeps the pieces that earned usage. This is the standard unigram
  * trainer with Viterbi in place of full forward–backward EM — hard EM
  * keeps every statistic integral, which is what makes the cross-engine
  * gate possible at all (posterior expectations are sums of float
  * products with no canonical order).
  *
  * Scale: the corpus appears only in the word-count aggregate (one
  * word-keyed shuffle of (hash, count) — the q82 posture); everything
  * after runs on the DISTINCT-WORD frame with the vocab-sized score
  * table collected and broadcast (a trained tokenizer is config, the
  * KenLM-artifact posture). Each EM round is one narrow map over
  * distinct words plus a piece-keyed aggregate of longs. The encode
  * pass is a narrow map per document under the broadcast model.
  *
  * Cross-engine domain bound (the q82 statement, inherited): identical
  * segmentation requires identical substring semantics — ASCII/BMP
  * text (the corpus is pure ASCII). The oracle unrolls the DP over
  * word positions, so words longer than [[MaxWordLen]] characters are
  * refused rather than silently mis-replayed (corpus max is 8). */
object Unigram {

  /** Longest piece considered, in characters. */
  val MaxPiece = 4

  /** Viterbi-EM rounds. */
  val Rounds = 2

  /** Seed threshold: substrings below this weighted occurrence count
    * are not vocabulary candidates (single chars always are). */
  val MinSeed = 2L

  /** The DP unroll bound of the oracle; [[segment]] refuses longer
    * words so engine and oracle can never silently diverge. */
  val MaxWordLen = 16

  // ------------------------------------------------------------- engine

  private def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))

  /** Seed vocabulary: frequency-weighted substring occurrence counts,
    * thresholded, single characters kept unconditionally. */
  private[graft] def seedVocab(wc: DataFrame): DataFrame = {
    import wc.sparkSession.implicits._
    wc.as[(String, Long)].flatMap { case (w, n) =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(MaxPiece, w.length - i)
      } yield (w.substring(i, i + l), n)
    }.toDF("p", "n")
      .groupBy(col("p")).agg(sum(col("n")).as("c"))
      .filter(col("c") >= MinSeed || length(col("p")) === 1)
  }

  /** Per-piece micro-nat costs from a (p, c) count table — the model
    * read. lnFix is evaluated by the SAME staged SQL expression DAG
    * the oracle replays ([[DetLn.withLnFix]]), then collected: a score
    * table is vocab-sized config, never corpus-sized. */
  private[graft] def scoresOf(counts: DataFrame): Map[String, Long] = {
    // the eager T scalar stays: riding it into the DAG as a 1-row
    // broadcast cross join swaps the head() job for a broadcast-build
    // job one for one (OPTIMIZATION_r17.md §6), and the head() also
    // materializes the per-round checkpoint before the score collect
    // reads it
    val t = counts.agg(sum(col("c") + 1).as("t")).head().getLong(0)
    DetLn.withLnFix(
        DetLn.withLnFix(counts.withColumn("c1", col("c") + 1),
          "ln_c", "c1"),
        "ln_t", t.toString)
      .select(col("p"), expr(DetLn.microSql("ln_t - ln_c")).as("cost"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Min-cost segmentation of one word: DP left to right, candidate
    * pieces up to [[MaxPiece]] chars, ties broken toward the SMALLEST
    * split point (= the longest final piece) — the oracle's
    * `ORDER BY total, j` tiebreak, by first-writer-wins under strict
    * `<` with ascending j. */
  private[graft] def segment(w: String,
      cost: collection.Map[String, Long]): List[String] = {
    require(w.length <= MaxWordLen,
      s"word of ${w.length} chars exceeds the $MaxWordLen-position " +
        "DP unroll the oracle replays — refusing to segment")
    val L = w.length
    val best = Array.fill(L + 1)(Long.MaxValue)
    val ptr = new Array[Int](L + 1)
    best(0) = 0L
    var i = 1
    while (i <= L) {
      var j = math.max(0, i - MaxPiece)
      while (j < i) {
        if (best(j) != Long.MaxValue) {
          val c = cost.getOrElse(w.substring(j, i), Long.MinValue)
          if (c != Long.MinValue) {
            val tot = best(j) + c
            if (tot < best(i)) { best(i) = tot; ptr(i) = j }
          }
        }
        j += 1
      }
      i += 1
    }
    require(best(L) != Long.MaxValue,
      s"unsegmentable word '$w' — single characters must be in the " +
        "vocabulary")
    var pieces = List.empty[String]
    var pos = L
    while (pos > 0) { pieces = w.substring(ptr(pos), pos) :: pieces; pos = ptr(pos) }
    pieces
  }

  /** One EM round: usage counts of the current segmentation over the
    * FIXED vocabulary (unused pieces carry 0, not absence). */
  private def emRound(wc: DataFrame, vocab: DataFrame,
      counts: DataFrame): DataFrame = {
    import wc.sparkSession.implicits._
    val bc = wc.sparkSession.sparkContext.broadcast(scoresOf(counts))
    val used = wc.as[(String, Long)]
      .flatMap { case (w, n) => segment(w, bc.value).map(p => (p, n)) }
      .toDF("p", "n")
      .groupBy(col("p")).agg(sum(col("n")).as("u"))
    // lazy checkpoint: the round's result materializes inside the NEXT
    // consumer's job (the following round's score collect), not as its
    // own barrier job. That consumer still evaluates the segment
    // closure over `bc`, so the broadcast must NOT be destroyed here;
    // the ContextCleaner reclaims it once the closure is unreferenced
    // (OPTIMIZATION_r17.md §7).
    vocab.select(col("p"))
      .join(used, Seq("p"), "left")
      .select(col("p"), coalesce(col("u"), lit(0L)).as("c"))
      .localCheckpoint(eager = false)
  }

  /** Final usage counts over the full seed vocabulary (zeros kept —
    * the encode model is scored from exactly this table + 1). */
  private[graft] def trainCounts(docs: DataFrame): DataFrame = {
    val wc = wordCounts(docs).localCheckpoint(eager = false)
    val vocab = seedVocab(wc).localCheckpoint(eager = false)
    var counts = vocab
    var r = 0
    while (r < Rounds) {
      counts = emRound(wc, vocab, counts) // checkpointed inside the round
      r += 1
    }
    counts
  }

  /** Train on any (doc_id, text) frame and return the encode model (a
    * vocab-sized score table — the artifact a streaming stage or a
    * later session carries as config). */
  def trainModelOf(docs: DataFrame): Map[String, Long] =
    scoresOf(trainCounts(docs))

  /** Trained encode model, memoized (q83's model-read convention): the
    * q185 training replayed once per session, scores collected. */
  private def modelFor(spark: SparkSession, dir: String)
      : Map[String, Long] =
    graft.SessionMemo(spark, s"unigram-model:$dir") {
      trainModelOf(Tables(spark, dir, "documents"))
    }

  /** q185: the trained unigram vocabulary — pieces that earned usage
    * in the final EM round, with their frequency-weighted usage
    * counts. Trains fresh (a query never memoizes its own result).
    * ORDER BY = oracle determinism only. */
  def vocabTable(spark: SparkSession, dir: String): DataFrame =
    trainCounts(Tables(spark, dir, "documents"))
      .filter(col("c") > 0)
      .select(col("p").as("piece"), col("c").as("n_uses"))
      .orderBy(col("piece"))

  /** Tokenize any (doc_id, text) frame under a supplied score table —
    * one narrow map, model broadcast; the form the STREAMING stage
    * wraps (a trained tokenizer is config). */
  def encodeOf(docs: DataFrame, model: Map[String, Long]): DataFrame = {
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    docs
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val words = text.split(" ", -1)
        val nPieces = words.iterator.filter(_.nonEmpty)
          .map(w => segment(w, bc.value).length.toLong).sum
        (id, words.length.toLong, nPieces)
      }
      .toDF("doc_id", "n_words", "n_pieces")
  }

  /** q186: tokenize every document under the trained model — per-doc
    * whitespace-word and subword-piece counts (the q83 shape, unigram
    * model). */
  def encodeCorpus(spark: SparkSession, dir: String): DataFrame =
    encodeOf(Tables(spark, dir, "documents"), modelFor(spark, dir))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------ oracles
  //
  // The same unroll strategy as Bpe's: the EM loop is data-dependent
  // but BOUNDED (fixed rounds, fixed max word length), so it flattens
  // into a static CTE chain. Per round: the Laplace totals, the DetLn
  // staged lnFix chain (the identical op DAG the engine evaluates),
  // one DP stage per word position 1..MaxWordLen (each reading the up
  // to MaxPiece previous stages — Viterbi's recurrence is the
  // dependency), then MaxWordLen backtrack stages that walk the argmin
  // pointers and emit pieces. MATERIALIZED on the round-crossing CTEs
  // stops DuckDB's inliner from compounding the chain (the q82
  // lesson).

  /** Scores CTE block for round `r` from count table `cnt`: emits
    * `sc_$r` (p, cost). */
  private def scoreCtes(r: Int, cnt: String): String = {
    val (stages, fin) = DetLn.oracleLnStages(s"base_$r", s"lg$r",
      Seq("p", "t"), Seq(("ln_c", "c1"), ("ln_t", "t")))
    s"""base_$r AS (SELECT p, c + 1 AS c1,
           (SELECT CAST(sum(c + 1) AS BIGINT) FROM $cnt) AS t
         FROM $cnt)$stages,
       sc_$r AS MATERIALIZED (SELECT p,
           ${DetLn.microSql("ln_t - ln_c")} AS cost
         FROM $fin)"""
  }

  /** Viterbi + backtrack CTE block for round `r` over the distinct-word
    * frame `wc`, scored by `sc_$r`: emits `seg_$r` (w, n, p) — one row
    * per segmentation piece — via dp stages `dp_${r}_i` and backtrack
    * stages `bt_${r}_s`. */
  private def viterbiCtes(r: Int): String = {
    val b = new StringBuilder
    b ++= s"""dp_${r}_0 AS (SELECT w, n, CAST(0 AS INT) AS i,
           CAST(0 AS BIGINT) AS best, CAST(0 AS INT) AS j FROM wc)"""
    for (i <- 1 to MaxWordLen) {
      val preds = (math.max(0, i - MaxPiece) until i)
        .map(j => s"SELECT w, n, i AS j0, best FROM dp_${r}_$j")
        .mkString(" UNION ALL ")
      b ++= s""",
       dp_${r}_$i AS MATERIALIZED (SELECT w, n, i, best, j FROM (
           SELECT d.w, d.n, CAST($i AS INT) AS i,
             d.best + sc.cost AS best, d.j0 AS j,
             row_number() OVER (PARTITION BY d.w
               ORDER BY d.best + sc.cost, d.j0) AS rn
           FROM ($preds) d
           JOIN sc_$r sc ON sc.p = substr(d.w, CAST(d.j0 + 1 AS INT),
             CAST($i - d.j0 AS INT))
           WHERE len(d.w) >= $i) WHERE rn = 1)"""
    }
    b ++= s""",
       dpall_$r AS MATERIALIZED (${(1 to MaxWordLen)
        .map(i => s"SELECT * FROM dp_${r}_$i").mkString(" UNION ALL ")}),
       bt_${r}_0 AS (SELECT w, n, CAST(len(w) AS INT) AS pos FROM wc)"""
    for (s <- 1 to MaxWordLen) {
      b ++= s""",
       bt_${r}_$s AS MATERIALIZED (SELECT b.w, b.n, d.j AS pos,
           substr(b.w, CAST(d.j + 1 AS INT), CAST(b.pos - d.j AS INT))
             AS p
         FROM bt_${r}_${s - 1} b
         JOIN dpall_$r d ON d.w = b.w AND d.i = b.pos
         WHERE b.pos > 0)"""
    }
    b ++= s""",
       seg_$r AS MATERIALIZED (${(1 to MaxWordLen)
        .map(s => s"SELECT w, n, p FROM bt_${r}_$s").mkString(" UNION ALL ")})"""
    b.toString
  }

  /** The full training chain through `cnt_$Rounds` (the final usage
    * counts over the fixed vocabulary). */
  private def trainChain: String = {
    val b = new StringBuilder
    b ++= s"""wc AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n
         FROM (SELECT unnest(string_split(text, ' ')) AS w
               FROM documents)
         WHERE w <> '' GROUP BY w),
       sp1 AS (SELECT w, n, unnest(range(1, len(w) + 1)) AS i FROM wc),
       sp2 AS (SELECT w, n, i,
           unnest(range(1, ${MaxPiece + 1})) AS l FROM sp1),
       seed AS (SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS p,
           CAST(sum(n) AS BIGINT) AS c
         FROM sp2 WHERE i + l - 1 <= len(w) GROUP BY 1),
       cnt_0 AS MATERIALIZED (SELECT p, c FROM seed
         WHERE c >= $MinSeed OR len(p) = 1)"""
    for (r <- 1 to Rounds) {
      b ++= s""",
       ${scoreCtes(r, s"cnt_${r - 1}")},
       ${viterbiCtes(r)},
       used_$r AS (SELECT p, CAST(sum(n) AS BIGINT) AS c
         FROM seg_$r GROUP BY 1),
       cnt_$r AS MATERIALIZED (SELECT v.p, COALESCE(u.c, 0) AS c
         FROM cnt_0 v LEFT JOIN used_$r u ON u.p = v.p)"""
    }
    b.toString
  }

  /** Oracle for q185 [[vocabTable]]. */
  lazy val vocabTableOracle: String =
    s"""WITH $trainChain
       SELECT p AS piece, c AS n_uses FROM cnt_$Rounds
       WHERE c > 0 ORDER BY piece"""

  /** Oracle for q186 [[encodeCorpus]]: the training chain, one more
    * scored Viterbi pass (the encode model = final counts + 1), then
    * per-word piece counts joined back to every document. */
  lazy val encodeCorpusOracle: String = {
    val enc = Rounds + 1
    s"""WITH $trainChain,
       ${scoreCtes(enc, s"cnt_$Rounds")},
       ${viterbiCtes(enc)},
       pw AS (SELECT w, CAST(count(*) AS BIGINT) AS np
         FROM seg_$enc GROUP BY w),
       dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         FROM documents),
       tokc AS (SELECT doc_id, CAST(sum(np * m) AS BIGINT) AS t FROM (
           SELECT doc_id, w, CAST(count(*) AS BIGINT) AS m FROM dw
           GROUP BY 1, 2) dwc
         JOIN pw ON pw.w = dwc.w GROUP BY 1)
       SELECT d.doc_id,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
         COALESCE(t.t, 0) AS n_pieces
       FROM documents d LEFT JOIN tokc t ON t.doc_id = d.doc_id
       ORDER BY d.doc_id"""
  }
}
