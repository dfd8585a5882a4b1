package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.TaskContext
import graft.Tables
import graft.functions.ShingleHashes.shingle_hashes

/** Training-data curation operators over the `documents` table: duplicate
  * clustering (connected components over near-dup pairs), deterministic
  * stratified sampling, token-budget mixture sampling, repetition signals
  * (the classic "repetitious text" quality filters), and a composite
  * quality score.
  *
  * Scale posture notes per operator are on each method; the shared
  * principles: sampling orders by a content-independent md5 hash so the
  * choice is deterministic and reproducible across runs and engines, and
  * per-document signals are pure column expressions (sorted-array
  * run-length folds instead of explode+groupBy) so they stay narrow maps
  * with no shuffle at all.
  */
object Curate {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  /** Deterministic per-row sample hash: md5 of the decimal doc id. Chosen
    * over xxhash64 because the oracle engine computes the identical hex
    * string, so sampling decisions are bit-equal across engines. */
  private def sampleHash(id: Column): Column = md5(id.cast("string"))

  /** The spaces+1 whitespace token count of `text` — ONE definition
    * for every operator that weighs documents this way (q113 length
    * batching, q118 schedule, q209 execution); its oracle twin is
    * `length(text) - length(replace(text, ' ', '')) + 1`. */
  private def spaceToksCol: Column =
    (length(col("text")) -
      length(regexp_replace(col("text"), " ", ""))).cast("long") + 1L

  // --- duplicate clustering (connected components) -------------------------

  /** Connected components over an undirected pair list `(a, b)` by the
    * alternating large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014):
    * each round rewires every node's larger neighbors to its
    * neighborhood minimum (large-star), then its smaller-or-equal
    * neighbors (small-star), contracting every component to a star on
    * its minimum id in O(log n) rounds — vs the graph DIAMETER for
    * plain min-label propagation, the difference between 2 and 30
    * rounds on an adversarial duplication chain.
    *
    * Scale: each half-round is one groupBy(node) min + one re-keyed
    * self-join — the same long-keyed shuffle primitives as propagation,
    * with the edge list checkpointed per round to keep lineage flat.
    * Convergence = the edge multiset fixpoint, detected by a
    * (count, hash-sum, seeded-hash-sum) signature — two independent
    * 64-bit sums make a missed change ~2⁻¹²⁸; the refuse-don't-mislabel
    * guard below still backstops a pathological non-convergence.
    *
    * [[connectedComponentsPropagation]] keeps the min-label form;
    * CurateSpec pins star ≡ propagation on chains, cliques, and the
    * real near-dup fixture graph. */
  /** One large-star + small-star round over a distinct (u, v) edge
    * frame — extracted from [[connectedComponents]] so the round's
    * plan (exchange count, join strategy) can be inspected WITHOUT the
    * per-round checkpoint that hides it from `explain`.
    *
    * Exchange fusion (guide §2.4 — the LPA subset-rule pattern; verdict
    * in OPTIMIZATION_r17 §1): a closing `distinct()` per half-round
    * would plan its own Exchange hashpartitioning(u, v), and a
    * canonicalizing small-star would re-key through ANOTHER
    * hashpartitioning(u) — 4 edge-sized exchanges per round.
    * Deduplicating through an explicit repartition(u) instead lets
    * HashPartitioning(u) satisfy the dropDuplicates(u, v) clustering
    * requirement (subset rule),
    * and — because large-star's output is canonical by construction
    * (new u = old v > old u ≥ m = new v) — small-star's groupBy(u),
    * its self-join on u, AND the fixpoint pointer aggregate all reuse
    * that same partitioning with no exchange at all: 3 exchanges per
    * round, and small-star moves zero rows. dropDuplicates(u, v) on a
    * hash(u) layout is exact (same keys; partial map-side combine
    * bounds any hot-u reduce partition by its DISTINCT pair count,
    * the same bound the groupBy(u) half-rounds already carry). */
  private[graft] def ccRound(e0: DataFrame): DataFrame = {
    def dedup(e: DataFrame): DataFrame =
      e.repartition(col("u")).dropDuplicates("u", "v")
    // large-star(u): every neighbor v > u re-points to
    // m = min(N(u) ∪ {u}); keeps components connected while halving
    // long-path distances (Kiveris et al., Lemma 1)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      dedup(sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")))
    }
    // small-star(u): with every edge oriented toward the smaller
    // endpoint, re-point each node's smaller neighbors (and itself) to
    // the neighborhood minimum — flattens the stars large-star built.
    // The input IS large-star's output, whose every edge already
    // satisfies u > v, so no greatest/least canonicalization runs: a
    // computed greatest(u, v) projection would discard the hash(u)
    // partitioning
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      dedup(e.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")))
    }
    smallStar(largeStar(e0))
  }

  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    def signature(e: DataFrame): (Long, Long, Long) = {
      // xor folds, not sums: ANSI mode makes a Σ of 64-bit hashes
      // overflow; xor is closed over longs and order-free, and the edge
      // list is distinct() so set equality is what's being fingerprinted
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))"),
        expr("bit_xor(xxhash64(v, u, 17))")).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    var edges = pairs.select(col("a").as("u"), col("b").as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(eager = false)
    val allNodes = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node"))).distinct()
      .localCheckpoint(eager = false)
    var sig = signature(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val next = ccRound(edges).localCheckpoint(eager = false)
      val nextSig = signature(next)
      converged = nextSig == sig
      edges = next
      sig = nextSig
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters star rounds — " +
        "far beyond O(log n) for any real pair graph; refusing to " +
        "return possibly-partial labels")
    // fixpoint edges are stars onto component minima: every non-root
    // points only at its root, roots have no out-edge -> own label
    val pointers = edges.groupBy(col("u")).agg(min(col("v")).as("comp"))
    allNodes.join(pointers.withColumnsRenamed(Map("u" -> "node")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
  }

  /** The min-label-propagation form [[connectedComponents]] replaced:
    * every node repeatedly adopts the minimum label in its neighborhood
    * until fixpoint — one join + min-aggregate per round, but the round
    * count is the graph DIAMETER. Kept as the independent witness for
    * the star ≡ propagation equality gate in CurateSpec. */
  def connectedComponentsPropagation(pairs: DataFrame,
      maxIters: Int = 30): DataFrame = {
    // checkpointed ALREADY hash-partitioned on the join key: every
    // label-propagation round joins edges on "a", so materializing the
    // partitioning once lets each round reuse it instead of re-shuffling
    // the (static) edge list per iteration
    val edges = pairs.select(col("a"), col("b"))
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .repartition(col("a"))
      .localCheckpoint(eager = false)
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("comp", col("node"))
      .localCheckpoint(eager = false)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val nbrMin = edges
        .join(labels.withColumnsRenamed(Map("node" -> "a", "comp" -> "comp_a")), "a")
        .groupBy(col("b").as("node"))
        .agg(min(col("comp_a")).as("nbr_min"))
      val next = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp"),
          (col("nbr_min") < col("comp")).as("changed"))
        .localCheckpoint(eager = false)
      converged = next.filter(col("changed")).limit(1).count() == 0
      labels = next.drop("changed")
      iter += 1
    }
    // a silent partial propagation would be WRONG labels, not slow ones —
    // refuse to answer rather than mislabel
    if (!converged) throw new IllegalStateException(
      s"label propagation did not converge in $maxIters rounds; the " +
        "pair graph has a path longer than its round budget — use " +
        "connectedComponents (large-star/small-star, O(log n) rounds)")
    labels
  }

  /** q48: duplicate clusters — connected components over the exact
    * word-3-gram Jaccard ≥ 0.8 pairs, with the cluster representative
    * (minimum doc id) as cluster_id and the member count. Only documents
    * that participate in at least one near-dup pair appear.
    *
    * The pair set is localCheckpoint'ed before clustering: the undirected
    * edge union reads the pairs plan twice, and the Jaccard derivation is
    * the dominant cost — pay it once. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free
    dedupClustersOf(neardupPairs(spark, dir))
      .orderBy(col("doc_id"))

  /** The shared near-dup pair derivation (q23's exact n-gram Jaccard,
    * via the SORT-FREE Of form — the registered q23 entry's global
    * ORDER BY is oracle determinism, not something a composition should
    * pay), materialized ONCE PER SESSION: the pair set over a static
    * corpus is an index, and its four registered consumers (q48
    * clustering, q53 resolution, q60 composed verdict, q103 leakage)
    * are index READS — a production curation stack derives the pair
    * index in one pass and every downstream stage shares it, exactly
    * like the Tables relation cache one level down. Each query's
    * RESULT is identical with or without the memo (the DuckDB oracles
    * still replay the full derivation independently); only the
    * re-derivation cost collapses. Keyed by session so tests with
    * their own sessions never see a stopped session's checkpoint. */
  private[ext] def neardupPairs(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo(spark, s"neardup-pairs:$dir") {
      Dedup.ngramJaccardPairsOf(
          Dedup.shingleHashDfOf(Tables(spark, dir, "documents")), 0.8)
        .select(col("a"), col("b")).localCheckpoint()
    }

  /** The cluster assignment one level above [[neardupPairs]] — the
    * same convention applied to the CC stage: q48 (whose registered
    * output IS the clusters) derives it fresh, while the COMPOSITIONS
    * over it — q53's resolution, q60's verdict — read the one
    * materialization. The iterative star rounds are the dominant cost
    * after the pair index; a curation stack labels components once. */
  private[ext] def clustersFor(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo(spark, s"neardup-clusters:$dir") {
      dedupClustersOf(neardupPairs(spark, dir)).localCheckpoint()
    }

  /** Per-doc quality scores as a session artifact — q52 (own output)
    * derives fresh; the q53/q60 compositions read the memo. */
  private[ext] def qualityFor(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo(spark, s"quality-scores:$dir") {
      qualityScoreOf(docs(spark, dir)).localCheckpoint()
    }

  /** Pure form over a precomputed pair list — pass a `localCheckpoint`'ed
    * pairs DataFrame to share the (dominant) pair-derivation cost across
    * clustering, resolution, and the composed verdict in one pipeline. */
  def dedupClustersOf(pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
      .select(col("node").as("doc_id"), col("comp").as("cluster_id"))
    val sizes = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
    cc.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("n_members"))
  }

  /** Oracle: same pair derivation as q23's oracle, then transitive closure
    * via a recursive CTE (min reachable id = component representative). */
  val dedupClustersOracle: String =
    """WITH RECURSIVE w AS (
         SELECT doc_id, unnest(string_split(text,' ')) AS word,
                generate_subscripts(string_split(text,' '),1) AS pos
         FROM documents),
       t AS (
         SELECT a.doc_id, a.word||' '||b.word||' '||c.word AS sh
         FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
                  JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
       d AS (SELECT DISTINCT doc_id, sh FROM t),
       sz AS (SELECT doc_id, count(*) n FROM d GROUP BY 1),
       com AS (SELECT x.doc_id a, y.doc_id b, count(*) c
               FROM d x JOIN d y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2),
       pairs AS (
         SELECT a, b FROM com JOIN sz sa ON sa.doc_id=a JOIN sz sb ON sb.doc_id=b
         WHERE c*1.0/(sa.n+sb.n-c) >= 0.8),
       edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
       nodes AS (SELECT DISTINCT a AS node FROM edges),
       walk(node, r) AS (
         SELECT node, node FROM nodes
         UNION
         SELECT wk.node, e.b FROM walk wk JOIN edges e ON e.a = wk.r),
       cc AS (SELECT node AS doc_id, min(r) AS cluster_id FROM walk GROUP BY node)
       SELECT cc.doc_id, cc.cluster_id, s.n_members
       FROM cc JOIN (SELECT cluster_id, count(*) n_members FROM cc GROUP BY 1) s
         USING (cluster_id)
       ORDER BY doc_id"""

  // --- stratified sampling -------------------------------------------------

  /** q49: exact-k-per-stratum deterministic sample — the k documents per
    * language with the smallest md5(doc_id) hash, ranked.
    *
    * Scale: a naive window sorts every stratum in full; with a handful of
    * strata over 100 TB each sort is a near-global sort on one reducer
    * chain. Instead, phase 1 aggregates per-stratum counts (tiny result),
    * derives a hash-prefix cutoff keeping an expected `oversample`×k
    * survivors per stratum, and phase 2 windows only the survivors
    * (thousands of rows regardless of corpus size). Because the true
    * winners are exactly the k smallest hashes, any cutoff that retains
    * ≥ k survivors per stratum is lossless; the verification aggregate
    * re-checks that and falls back to the full window for any stratum the
    * prefilter under-selected (P ≈ e^{-k·oversample·ln(oversample/e)} —
    * negligible, but the fallback keeps the operator exact by
    * construction, not by probability).
    */
  def stratifiedSample(spark: SparkSession, dir: String, k: Int = 20,
      oversample: Int = 4): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free
    stratifiedSampleOf(docs(spark, dir), k, oversample)
      .orderBy(col("lang"), col("sample_rank"))

  def stratifiedSampleOf(d0: DataFrame, k: Int, oversample: Int = 4): DataFrame = {
    // null-safe stratum key: NULL lang is its own stratum (matching window
    // PARTITION BY semantics, which group NULLs together); a literal
    // "<null>" lang value would collide — acceptable for a language column
    val d = d0.select(col("doc_id"), col("lang"),
      coalesce(col("lang"), lit("<null>")).as("lk"),
      sampleHash(col("doc_id")).as("h"))
    // phase 1: per-stratum counts → hex cutoff on the first 6 hash chars
    val counts = d.groupBy("lk").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val space = 1L << 24 // 6 hex chars
    val cutoffs = counts.map { case (lk, n) =>
      val p = math.min(1.0, oversample.toDouble * k / math.max(n, 1L))
      lk -> math.min(space, math.ceil(p * space).toLong + 1)
    }
    val cutoffDf = d.sparkSession.createDataFrame(cutoffs.toSeq)
      .toDF("lk", "cutoff")
    // cutoff == space means admit-all: compare numerically via the flag,
    // not lexicographically — a 7-hex-digit "%06x" would sort BELOW most
    // 6-digit prefixes and silently under-select (the fallback would
    // still correct it, at the price of a full re-scan)
    val survivors = d.join(broadcast(cutoffDf), "lk")
      .filter(col("cutoff") >= space ||
        substring(col("h"), 1, 6) < format_string("%06x", col("cutoff")))
    // verification: any under-selected stratum falls back to the full scan
    val ok = survivors.groupBy("lk").agg(count(lit(1)).as("m")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val short = counts.filter { case (lk, n) =>
      ok.getOrElse(lk, 0L) < math.min(n, k.toLong) }.keySet
    val pool =
      if (short.isEmpty) survivors
      else survivors.unionByName(
        d.filter(col("lk").isin(short.toSeq: _*))
          .join(broadcast(cutoffDf), "lk")
          .filter(col("cutoff") < space &&
            substring(col("h"), 1, 6) >= format_string("%06x", col("cutoff")))
      )
    val win = Window.partitionBy(col("lk")).orderBy(col("h"), col("doc_id"))
    pool
      .withColumn("sample_rank", row_number().over(win).cast("int"))
      .filter(col("sample_rank") <= k)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
  }

  val stratifiedSampleOracle: String =
    """WITH ranked AS (
         SELECT doc_id, lang,
                row_number() OVER (PARTITION BY lang
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         FROM documents)
       SELECT doc_id, lang, CAST(rk AS INT) AS sample_rank
       FROM ranked WHERE rk <= 20 ORDER BY lang, sample_rank"""

  // --- token-budget mixture sampling ---------------------------------------

  /** q51: mixture sampling — per source, admit documents in deterministic
    * hash order until the running token total exceeds the budget. This is
    * how a training mix hits per-source token targets reproducibly: the
    * admitted set only grows when the budget grows, and is independent of
    * scan order.
    *
    * Scale: a cumulative-sum window per source funnels each source
    * through one reducer chain — with few, huge sources that is a
    * near-global sort at 100 TB. This runs the shared two-phase
    * distributed prefix sum ([[sourcePrefixSums]], same machinery as
    * [[packChunks]]) instead: one range shuffle + one tiny subtotal
    * aggregate, no per-source unbounded window anywhere in the plan. The
    * windowed form remains the oracle contract and CurateSpec asserts
    * equality and determinism across parallelism levels. */
  def mixtureSample(spark: SparkSession, dir: String,
      budgetTokens: Long = 600L): DataFrame =
    sourcePrefixSums(docs(spark, dir))
      .withColumn("cum_tokens", col("tokens_before") + col("n_tokens"))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("source"), col("cum_tokens"))

  val mixtureSampleOracle: String =
    """WITH t AS (SELECT doc_id, source, len(string_split(text,' ')) AS n_tok,
                    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
       c AS (SELECT doc_id, source, n_tok,
               sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM t)
       SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tokens,
              CAST(cum AS BIGINT) AS cum_tokens
       FROM c WHERE cum <= 600 ORDER BY source, cum_tokens"""

  // --- repetition signals --------------------------------------------------

  /** Longest run of equal adjacent elements in a *sorted* array — i.e. the
    * multiplicity of the array's mode — as a single codegen'd fold. Lets
    * per-document "most frequent token/bigram" signals stay shuffle-free
    * instead of explode + two groupBy shuffles. */
  private[ext] def maxRunLength(sortedArr: Column): Column =
    aggregate(sortedArr,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (acc, x) => {
        val run = when(acc.getField("prev").isNotNull &&
            x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Adjacent word bigrams of a *materialized* token-array column (bind
    * the array to its own projection first — HOF lambdas re-evaluate
    * outer expressions per element). */
  private def bigramsOf(w: Column): Column =
    when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** q50: repetition-based quality signals (the Gopher/C4-style filters):
    * share of tokens accounted for by the most frequent token, duplicate
    * token fraction, and share of bigrams accounted for by the most
    * frequent bigram. Pure narrow map — sorted-array run-length folds,
    * zero shuffles at any corpus size. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free
    // spreadScan: the sorted-array run-length folds are the A/B-measured
    // heaviest narrow map on the surface (guide §2.5 single-file input)
    repetitionOf(graft.Tables.spreadScan(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  def repetitionOf(d0: DataFrame): DataFrame = {
    val tok = d0.select(col("doc_id"), split(col("text"), " ").as("w"))
    val arr = tok.select(col("doc_id"), col("w"),
      array_sort(col("w")).as("ws"), bigramsOf(col("w")).as("bg"))
    arr.select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        round(maxRunLength(col("ws")).cast("double") / size(col("w")), 4)
          .as("top_token_ratio"),
        round(lit(1.0) - size(array_distinct(col("w"))).cast("double")
          / size(col("w")), 4).as("dup_token_ratio"),
        round(coalesce(
          maxRunLength(array_sort(col("bg"))).cast("double") / size(col("bg")),
          lit(0.0)), 4).as("top_bigram_ratio"))
  }

  val repetitionOracle: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w,
                      generate_subscripts(string_split(text,' '),1) AS pos
                    FROM documents),
       tc AS (SELECT doc_id, w, count(*) c FROM tok GROUP BY 1,2),
       t1 AS (SELECT doc_id, max(c) top_c, sum(c) n, count(*) n_uniq
              FROM tc GROUP BY 1),
       bg AS (SELECT a.doc_id, a.w||' '||b.w AS g FROM tok a
              JOIN tok b ON a.doc_id=b.doc_id AND b.pos=a.pos+1),
       bc AS (SELECT doc_id, g, count(*) c FROM bg GROUP BY 1,2),
       b1 AS (SELECT doc_id, max(c) top_bc, sum(c) nb FROM bc GROUP BY 1)
       SELECT t1.doc_id, CAST(n AS BIGINT) AS n_tokens,
         round(top_c*1.0/n,4) AS top_token_ratio,
         round(1.0 - n_uniq*1.0/n,4) AS dup_token_ratio,
         round(coalesce(top_bc*1.0/nb, 0.0),4) AS top_bigram_ratio
       FROM t1 LEFT JOIN b1 ON t1.doc_id=b1.doc_id ORDER BY t1.doc_id"""

  // --- composite quality score ---------------------------------------------

  /** q52: one interpretable quality score in [0,1] combining length,
    * repetition and token-shape signals (each clamped to [0,1], fixed
    * public weights), plus a coarse band for routing. Same shuffle-free
    * shape as [[repetition]]. Weights: 0.3 length (saturates at 200
    * tokens), 0.3 token diversity, 0.2 bigram diversity, 0.2 average
    * token length scaled from the [2,6]-char band. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free
    qualityScoreOf(graft.Tables.spreadScan(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** Same over any (doc_id, text) DataFrame — the sort-free form a
    * composed pipeline (q60) consumes. */
  def qualityScoreOf(d0: DataFrame): DataFrame = {
    val tok = d0
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
    val arr = tok.select(col("doc_id"), col("text"), col("w"),
      bigramsOf(col("w")).as("bg"))
    val n = size(col("w")).cast("double")
    val dup = lit(1.0) - size(array_distinct(col("w"))).cast("double") / n
    val topBg = coalesce(
      maxRunLength(array_sort(col("bg"))).cast("double") / size(col("bg")),
      lit(0.0))
    val avgLen = length(regexp_replace(col("text"), " ", "")).cast("double") / n
    val score =
      lit(0.3) * least(n / 200.0, lit(1.0)) +
      lit(0.3) * (lit(1.0) - dup) +
      lit(0.2) * (lit(1.0) - topBg) +
      lit(0.2) * least(greatest((avgLen - 2.0) / 4.0, lit(0.0)), lit(1.0))
    arr.select(col("doc_id"), round(score, 4).as("quality_score"),
        when(round(score, 4) >= 0.6, "high")
          .when(round(score, 4) >= 0.5, "medium")
          .otherwise("low").as("quality_band"))
  }

  val qualityScoreOracle: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w,
                      generate_subscripts(string_split(text,' '),1) AS pos
                    FROM documents),
       bg AS (SELECT a.doc_id, a.w||' '||b.w AS g FROM tok a
              JOIN tok b ON a.doc_id=b.doc_id AND b.pos=a.pos+1),
       bc AS (SELECT doc_id, g, count(*) c FROM bg GROUP BY 1,2),
       b1 AS (SELECT doc_id, max(c) top_bc, sum(c) nb FROM bc GROUP BY 1),
       base AS (
         SELECT doc_id, text,
           len(string_split(text,' ')) * 1.0 AS n,
           len(list_distinct(string_split(text,' '))) * 1.0 AS n_uniq,
           length(replace(text,' ','')) * 1.0 AS chars
         FROM documents),
       sig AS (
         SELECT base.doc_id,
           0.3 * least(n / 200.0, 1.0) +
           0.3 * (1.0 - (1.0 - n_uniq / n)) +
           0.2 * (1.0 - coalesce(top_bc * 1.0 / nb, 0.0)) +
           0.2 * least(greatest((chars / n - 2.0) / 4.0, 0.0), 1.0) AS s
         FROM base LEFT JOIN b1 ON base.doc_id = b1.doc_id)
       SELECT doc_id, round(s, 4) AS quality_score,
         CASE WHEN round(s, 4) >= 0.6 THEN 'high'
              WHEN round(s, 4) >= 0.5 THEN 'medium'
              ELSE 'low' END AS quality_band
       FROM sig ORDER BY doc_id"""

  // --- duplicate resolution ------------------------------------------------

  /** q53: duplicate resolution — for every near-dup cluster (q48) keep the
    * member with the highest quality score (q52), ties to the lowest doc
    * id. This is the step that turns "clusters found" into "rows to keep":
    * downstream, `filter(is_kept)` anti-joins the dropped duplicates out
    * of the training mix.
    *
    * Scale: one join of the cluster labels against per-doc quality (both
    * keyed on doc_id) and a window per cluster_id — cluster sizes are
    * bounded by near-dup group sizes (tens, not millions), so the window
    * partitions stay tiny at any corpus size. The near-dup pair set is
    * derived once (localCheckpoint) and shared into clustering. */
  def dedupResolution(spark: SparkSession, dir: String): DataFrame =
    // sort = oracle determinism only; composes the session artifacts
    // (clusters + quality — q53 is a READ over both)
    dedupResolutionOf(clustersFor(spark, dir), qualityFor(spark, dir))
      .orderBy(col("cluster_id"), col("doc_id"))

  /** Pure form over precomputed clusters (q48 shape) and quality scores
    * (q52 shape) — reuse both across a pipeline instead of re-deriving. */
  def dedupResolutionOf(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val win = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    clusters.select(col("doc_id"), col("cluster_id"))
      .join(quality.select(col("doc_id"), col("quality_score")), "doc_id")
      .withColumn("is_kept", row_number().over(win) === 1)
      .select(col("doc_id"), col("cluster_id"), col("quality_score"), col("is_kept"))
  }

  /** Oracle: q48's transitive closure + q52's score joined, argmax per
    * cluster by (score desc, doc_id). */
  val dedupResolutionOracle: String =
    """WITH RECURSIVE w AS (
         SELECT doc_id, unnest(string_split(text,' ')) AS word,
                generate_subscripts(string_split(text,' '),1) AS pos
         FROM documents),
       t AS (
         SELECT a.doc_id, a.word||' '||b.word||' '||c.word AS sh
         FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
                  JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
       d AS (SELECT DISTINCT doc_id, sh FROM t),
       sz AS (SELECT doc_id, count(*) n FROM d GROUP BY 1),
       com AS (SELECT x.doc_id a, y.doc_id b, count(*) c
               FROM d x JOIN d y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2),
       pairs AS (
         SELECT a, b FROM com JOIN sz sa ON sa.doc_id=a JOIN sz sb ON sb.doc_id=b
         WHERE c*1.0/(sa.n+sb.n-c) >= 0.8),
       edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
       nodes AS (SELECT DISTINCT a AS node FROM edges),
       walk(node, r) AS (
         SELECT node, node FROM nodes
         UNION
         SELECT wk.node, e.b FROM walk wk JOIN edges e ON e.a = wk.r),
       cc AS (SELECT node AS doc_id, min(r) AS cluster_id FROM walk GROUP BY node),
       qtok AS (SELECT doc_id, unnest(string_split(text,' ')) AS qw,
                  generate_subscripts(string_split(text,' '),1) AS qpos
                FROM documents),
       qbg AS (SELECT a.doc_id, a.qw||' '||b.qw AS g FROM qtok a
               JOIN qtok b ON a.doc_id=b.doc_id AND b.qpos=a.qpos+1),
       qbc AS (SELECT doc_id, g, count(*) c FROM qbg GROUP BY 1,2),
       qb1 AS (SELECT doc_id, max(c) top_bc, sum(c) nb FROM qbc GROUP BY 1),
       qbase AS (
         SELECT doc_id, len(string_split(text,' ')) * 1.0 AS n,
           len(list_distinct(string_split(text,' '))) * 1.0 AS n_uniq,
           length(replace(text,' ','')) * 1.0 AS chars
         FROM documents),
       qsig AS (
         SELECT qbase.doc_id,
           round(0.3 * least(n / 200.0, 1.0) +
           0.3 * (n_uniq / n) +
           0.2 * (1.0 - coalesce(top_bc * 1.0 / nb, 0.0)) +
           0.2 * least(greatest((chars / n - 2.0) / 4.0, 0.0), 1.0), 4) AS s
         FROM qbase LEFT JOIN qb1 ON qbase.doc_id = qb1.doc_id),
       ranked AS (
         SELECT cc.doc_id, cc.cluster_id, qsig.s AS quality_score,
           row_number() OVER (PARTITION BY cluster_id
             ORDER BY qsig.s DESC, cc.doc_id) AS rk
         FROM cc JOIN qsig ON cc.doc_id = qsig.doc_id)
       SELECT doc_id, cluster_id, quality_score,
         CAST(rk = 1 AS BOOLEAN) AS is_kept
       FROM ranked ORDER BY cluster_id, doc_id"""

  // --- benchmark decontamination -------------------------------------------

  /** q54: n-gram decontamination — flag corpus documents sharing any
    * distinct word-5-gram with the benchmark set (here: doc_id % 50 = 0
    * stands in for an eval benchmark), with the count of shared distinct
    * 5-grams. The standard train/test-leakage filter for training mixes.
    *
    * Scale: shingles are hashed to longs by the single-pass codegen'd
    * [[shingle_hashes]] expression (no n-gram string materialization);
    * the benchmark's distinct hash set is orders of magnitude smaller
    * than the corpus (eval suites are thousands of documents), so the
    * join is an explicit broadcast — the corpus side never shuffles, the
    * only shuffle is the final per-doc count aggregation.
    *
    * Tradeoff: matching is on 64-bit xxhash64 shingle hashes, not the
    * 5-gram strings themselves (~2⁻⁶⁴ per-pair collision risk, which
    * could flag a clean document or inflate n_shared by one) — accepted
    * so the corpus-side scan never materializes n-gram strings. */
  def decontaminate(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free
    decontaminateOf(docs(spark, dir), k)
      .orderBy(col("doc_id"))

  /** Same over any (doc_id, text) DataFrame — the sort-free form a
    * composed pipeline (q60) consumes. */
  def decontaminateOf(d0: DataFrame, k: Int = 5): DataFrame = {
    val grams = gramsOf(d0, k)
    contaminationOf(
      grams.filter(col("doc_id") % 50 =!= 0),
      grams.filter(col("doc_id") % 50 === 0)
        .select(col("gh")).distinct())
  }

  /** A corpus frame's k-gram hashes, one row per (doc_id, gram
    * occurrence). */
  private[graft] def gramsOf(d0: DataFrame, k: Int = 5): DataFrame =
    d0.select(col("doc_id"),
      explode(shingle_hashes(col("text"), k)).as("gh"))

  /** Contamination counts of pre-exploded gram rows against a
    * benchmark gram-hash set — the composable half of
    * [[decontaminateOf]], and the per-batch step of the STREAMING
    * stage (where the benchmark is supplied config, broadcast once,
    * and each micro-batch is scored statelessly). Documents sharing
    * nothing with the benchmark produce no row, exactly as in batch. */
  private[graft] def contaminationOf(grams: DataFrame,
      benchGh: DataFrame): DataFrame =
    grams
      .join(broadcast(benchGh), "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))

  val decontaminateOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
       gi AS (SELECT doc_id, ws,
                unnest(generate_series(1, greatest(len(ws)-4, 0))) AS i FROM w),
       g AS (SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS sh FROM gi),
       d AS (SELECT DISTINCT doc_id, sh FROM g),
       bench AS (SELECT DISTINCT sh FROM d WHERE doc_id % 50 = 0)
       SELECT d.doc_id, count(*) AS n_shared
       FROM d JOIN bench USING (sh)
       WHERE d.doc_id % 50 <> 0
       GROUP BY d.doc_id ORDER BY d.doc_id"""

  // --- sequence packing (scalable prefix sum) ------------------------------

  /** q55: concat-and-chunk sequence packing — per source, documents are
    * concatenated in deterministic hash order and cut into fixed
    * `chunkTokens` training sequences; each document reports the chunk it
    * starts in and its token offset there. (Documents may straddle chunk
    * boundaries — the concat-then-chunk scheme standard in LM training.)
    *
    * Scale: the naive plan is a running-sum window per source, which at
    * 100 TB funnels each source through one reducer chain. This
    * implementation is the scalable two-phase prefix sum instead:
    * (1) range-repartition by the global order (source, hash, doc_id) and
    * compute per-partition local prefix sums in one ordered scan
    * (mapPartitions — the textbook case where per-partition imperative
    * logic is the right tool); (2) aggregate one (partition, source)
    * subtotal row per pair — thousands of rows regardless of corpus
    * size — cumulate them on the driver, and broadcast-join the offsets
    * back. One range shuffle + one tiny aggregate; no global window, no
    * single-reducer bottleneck. Results are independent of partition
    * boundaries, so the plan is deterministic at any parallelism. The
    * prefix-sum machinery is shared with [[mixtureSample]] via
    * [[sourcePrefixSums]]. */
  def packChunks(spark: SparkSession, dir: String,
      chunkTokens: Long = 512L): DataFrame =
    sourcePrefixSums(docs(spark, dir))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("tokens_before") / chunkTokens).cast("long").as("chunk_id"),
        (col("tokens_before") % chunkTokens).as("chunk_offset"))
      .orderBy(col("source"), col("chunk_id"), col("chunk_offset"), col("doc_id"))

  /** The scalable two-phase per-source running token sum shared by
    * [[packChunks]] (q55) and [[mixtureSample]] (q51): for every document,
    * the total tokens of all documents of the same source that precede it
    * in deterministic (hash, doc_id) order — `tokens_before` — without any
    * per-source window.
    *
    * Phase 1 range-repartitions by the global order (source, hash,
    * doc_id) and computes per-partition local prefix sums in one ordered
    * scan (mapPartitions — the textbook case where per-partition
    * imperative logic is the right tool). Phase 2 aggregates one
    * (partition, source) subtotal row per pair — thousands of rows
    * regardless of corpus size — cumulates them on the driver, and
    * broadcast-joins the offsets back. */
  private def sourcePrefixSums(d0: DataFrame): DataFrame = {
    import d0.sparkSession.implicits._
    prefixSumsOf(d0.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        sampleHash(col("doc_id")).as("h"))
        .as[(Long, String, Long, String)])
      .toDF("doc_id", "source", "n_tokens", "tokens_before")
  }

  /** The scalable two-phase prefix-sum core over generic (id, group,
    * n, hash) rows — per group, each row's exact running total of `n`
    * under the deterministic (group, hash, id) order, with NO global
    * window (phase 1: range-partition + per-partition running sums;
    * phase 2: one bounded (partition × group) subtotal collect,
    * cumulated on the driver and broadcast back). Extracted from the
    * q55 packing so other delivery operators (SFT thread packing)
    * reuse ONE definition. Returns (id, grp, n, before). */
  private[graft] def prefixSumsOf(
      d: org.apache.spark.sql.Dataset[(Long, String, Long, String)])
      : DataFrame = {
    import d.sparkSession.implicits._
    // checkpointed BEFORE the range partitioner: repartitionByRange
    // hides a sampling pass that re-executes the entire upstream plan
    // (for the packing family that is the thread/token join chain) once
    // more per call — with the lazy checkpoint the sampler materializes
    // the frame and the real shuffle re-reads the blocks. One upstream
    // evaluation per call instead of two (guide §1.2 / §5).
    val d2 = d.toDF("id", "grp", "n", "h")
      .localCheckpoint(eager = false)
      .as[(Long, String, Long, String)]
    // phase 1: global range order + per-partition running sums
    val local = d2
      .repartitionByRange(col("grp"), col("h"), col("id"))
      .sortWithinPartitions(col("grp"), col("h"), col("id"))
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var curGrp: String = null
        var cum = 0L
        it.map { case (id, grp, n, h) =>
          if (grp != curGrp) { curGrp = grp; cum = 0L }
          val before = cum
          cum += n
          (id, grp, n, h, pid, before)
        }
      }
      .toDF("id", "grp", "n", "h", "pid", "local_before")
      .localCheckpoint(eager = false) // phase 2 reads it twice; don't recompute the shuffle
    // phase 2: per-(pid, grp) totals → running offsets per group
    val totals = local.groupBy(col("pid"), col("grp"))
      .agg(sum(col("n")).as("tot"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val offsets = totals.keys.toSeq.map { case (pid, grp) =>
      val off = totals.collect {
        case ((p, s), tot) if s == grp && p < pid => tot
      }.sum
      (pid, grp, off)
    }
    val offsetDf = d.sparkSession.createDataFrame(offsets)
      .toDF("pid", "grp", "offset")
    local.join(broadcast(offsetDf), Seq("pid", "grp"))
      .select(col("id"), col("grp"), col("n"),
        (col("local_before") + col("offset")).as("before"))
  }

  // --- temperature-scaled mixture weights ----------------------------------

  /** q59: temperature-scaled source mixture — per-source sampling weights
    * `tokens^alpha / Σ tokens^alpha` (alpha < 1 upweights small sources,
    * the standard training-mix temperature), an admission rate hitting a
    * token budget of `budgetFrac` × corpus, and the count of documents a
    * deterministic hash-cutoff admission actually admits at that rate.
    *
    * Determinism across engines: rates are rounded to 4 decimals before
    * the cutoff is derived, so a last-ulp `pow` difference between
    * engines almost never flips a document across the admission boundary
    * (a pow result within an ulp of a .00005 rounding boundary could
    * still round differently — the guarantee is probabilistic, not
    * absolute; rank-based admission would make it exact at the cost of a
    * per-source sort); the cutoff compares the md5 hash's 24-bit prefix,
    * which both engines print identically.
    *
    * Scale: two aggregations (per-source stats: one row per source; the
    * per-source admitted count) plus one broadcast join of the rate
    * table. The corpus-total window runs over the source-level aggregate
    * — rows bounded by source count, never corpus size. */
  def temperatureMixture(spark: SparkSession, dir: String,
      alpha: Double = 0.7, budgetFrac: Double = 0.5): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"),
      substring(sampleHash(col("doc_id")), 1, 6).as("hp"))
    val s = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("pw", pow(col("n_tokens").cast("double"), alpha))
    val all = Window.partitionBy() // source-level aggregate only: tiny
    val rates = s
      .withColumn("spw", sum(col("pw")).over(all))
      .withColumn("stok", sum(col("n_tokens")).over(all))
      .withColumn("weight", round(col("pw") / col("spw"), 4))
      .withColumn("rate", round(least(lit(1.0),
        (lit(budgetFrac) * col("stok") * col("pw") / col("spw"))
          / col("n_tokens")), 4))
      .withColumn("cutoff", ceil(col("rate") * 16777216.0).cast("long"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("weight"), col("rate"), col("cutoff"))
    d.join(broadcast(rates), "source")
      .groupBy(col("source"), col("n_docs"), col("n_tokens"),
        col("weight"), col("rate"))
      .agg(sum(when(col("cutoff") >= 16777216L ||
          col("hp") < format_string("%06x", col("cutoff")), 1L)
        .otherwise(0L)).as("n_sampled"))
      .orderBy(col("source"))
  }

  val temperatureMixtureOracle: String =
    """WITH s AS (
         SELECT source, count(*) AS n_docs,
                CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
         FROM documents GROUP BY source),
       w AS (SELECT *, pow(n_tokens, 0.7) AS pw FROM s),
       tot AS (SELECT sum(pw) AS spw, sum(n_tokens) AS stok FROM w),
       r AS (SELECT w.source AS src, n_docs, n_tokens,
               round(pw / spw, 4) AS weight,
               round(least(1.0, (0.5 * stok * pw / spw) / n_tokens), 4) AS rate
             FROM w CROSS JOIN tot),
       adm AS (SELECT d.doc_id, d.source AS src,
                 substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) AS hp
               FROM documents d),
       j AS (SELECT r.*, CAST(ceil(rate * 16777216.0) AS BIGINT) AS cutoff
             FROM r)
       SELECT j.src AS source, n_docs, n_tokens, weight, rate,
         CAST(count(*) FILTER (WHERE cutoff >= 16777216
           OR hp < printf('%06x', cutoff)) AS BIGINT) AS n_sampled
       FROM j JOIN adm ON adm.src = j.src
       GROUP BY 1,2,3,4,5 ORDER BY source"""

  // --- end-to-end curation verdict -----------------------------------------

  /** q60: the composed curation verdict — for every document, whether it
    * survives the full pipeline: not dropped as a worse-quality near-dup
    * (q53), not contaminated against the benchmark set (q54), not in the
    * low quality band (q52). The "what actually ships to training" query,
    * demonstrating the curation operators compose by plain joins.
    *
    * Scale: the per-stage costs are each stage's own (documented on each
    * operator); composition adds three left joins keyed on doc_id. The
    * two dominant derivations — the near-dup pair set and the per-doc
    * quality score — are localCheckpoint'ed once here and shared across
    * the dedup-resolution and verdict stages, so the composed query pays
    * each exactly once (CurateSpec proves the composition equals the
    * standalone operators row-for-row). */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    // every stage composes SORT-FREE Of forms over the session
    // artifacts (pairs → clusters, quality); the single ORDER BY below
    // exists only for the registered entry's oracle hash determinism
    val quality = qualityFor(spark, dir)
    val resolution = dedupResolutionOf(clustersFor(spark, dir), quality)
    curationPipelineOf(quality, resolution, decontaminateOf(docs(spark, dir)))
      .orderBy(col("doc_id"))
  }

  /** Pure form over precomputed q52/q53/q54 outputs. A pipeline that
    * `localCheckpoint`s the quality scores and the near-dup pairs pays
    * the dominant derivations once across all of q48/q52/q53/q54/q60 —
    * exactly what the registered [[curationPipeline]] does. */
  def curationPipelineOf(quality: DataFrame, resolution: DataFrame,
      contaminatedDocs: DataFrame): DataFrame = {
    val base = quality
      .select(col("doc_id"), (col("quality_band") === "low").as("low_q"))
    val dropped = resolution
      .filter(!col("is_kept")).select(col("doc_id"), lit(true).as("dd"))
    val contaminated = contaminatedDocs
      .select(col("doc_id"), lit(true).as("ct"))
    base
      .join(dropped, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dd"), lit(false)).as("is_dup_dropped"),
        coalesce(col("ct"), lit(false)).as("is_contaminated"),
        col("low_q").as("is_low_quality"),
        (coalesce(col("dd"), lit(false)) === false &&
          coalesce(col("ct"), lit(false)) === false &&
          !col("low_q")).as("is_kept"))
  }

  val curationPipelineOracle: String =
    """WITH RECURSIVE w AS (
         SELECT doc_id, unnest(string_split(text,' ')) AS word,
                generate_subscripts(string_split(text,' '),1) AS pos
         FROM documents),
       t AS (
         SELECT a.doc_id, a.word||' '||b.word||' '||c.word AS sh
         FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
                  JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
       d AS (SELECT DISTINCT doc_id, sh FROM t),
       sz AS (SELECT doc_id, count(*) n FROM d GROUP BY 1),
       com AS (SELECT x.doc_id a, y.doc_id b, count(*) c
               FROM d x JOIN d y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2),
       pairs AS (
         SELECT a, b FROM com JOIN sz sa ON sa.doc_id=a JOIN sz sb ON sb.doc_id=b
         WHERE c*1.0/(sa.n+sb.n-c) >= 0.8),
       edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
       nodes AS (SELECT DISTINCT a AS node FROM edges),
       walk(node, r) AS (
         SELECT node, node FROM nodes
         UNION
         SELECT wk.node, e.b FROM walk wk JOIN edges e ON e.a = wk.r),
       cc AS (SELECT node AS doc_id, min(r) AS cluster_id FROM walk GROUP BY node),
       qtok AS (SELECT doc_id, unnest(string_split(text,' ')) AS qw,
                  generate_subscripts(string_split(text,' '),1) AS qpos
                FROM documents),
       qbg AS (SELECT a.doc_id, a.qw||' '||b.qw AS g FROM qtok a
               JOIN qtok b ON a.doc_id=b.doc_id AND b.qpos=a.qpos+1),
       qbc AS (SELECT doc_id, g, count(*) c FROM qbg GROUP BY 1,2),
       qb1 AS (SELECT doc_id, max(c) top_bc, sum(c) nb FROM qbc GROUP BY 1),
       qbase AS (
         SELECT doc_id, len(string_split(text,' ')) * 1.0 AS n,
           len(list_distinct(string_split(text,' '))) * 1.0 AS n_uniq,
           length(replace(text,' ','')) * 1.0 AS chars
         FROM documents),
       qsig AS (
         SELECT qbase.doc_id,
           round(0.3 * least(n / 200.0, 1.0) +
           0.3 * (n_uniq / n) +
           0.2 * (1.0 - coalesce(top_bc * 1.0 / nb, 0.0)) +
           0.2 * least(greatest((chars / n - 2.0) / 4.0, 0.0), 1.0), 4) AS s
         FROM qbase LEFT JOIN qb1 ON qbase.doc_id = qb1.doc_id),
       ranked AS (
         SELECT cc.doc_id,
           row_number() OVER (PARTITION BY cluster_id
             ORDER BY qsig.s DESC, cc.doc_id) AS rk
         FROM cc JOIN qsig ON cc.doc_id = qsig.doc_id),
       dup_dropped AS (SELECT doc_id FROM ranked WHERE rk > 1),
       cw AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
       cgi AS (SELECT doc_id, ws,
                unnest(generate_series(1, greatest(len(ws)-4, 0))) AS i FROM cw),
       cg AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS sh
              FROM cgi),
       cbench AS (SELECT DISTINCT sh FROM cg WHERE doc_id % 50 = 0),
       contaminated AS (
         SELECT DISTINCT cg.doc_id FROM cg JOIN cbench USING (sh)
         WHERE cg.doc_id % 50 <> 0)
       SELECT doc.doc_id,
         (dd.doc_id IS NOT NULL) AS is_dup_dropped,
         (ct.doc_id IS NOT NULL) AS is_contaminated,
         (qsig.s < 0.5) AS is_low_quality,
         (dd.doc_id IS NULL AND ct.doc_id IS NULL AND qsig.s >= 0.5) AS is_kept
       FROM documents doc
       LEFT JOIN dup_dropped dd ON doc.doc_id = dd.doc_id
       LEFT JOIN contaminated ct ON doc.doc_id = ct.doc_id
       JOIN qsig ON doc.doc_id = qsig.doc_id
       ORDER BY doc.doc_id"""

  val packChunksOracle: String =
    """WITH t AS (SELECT doc_id, source, len(string_split(text,' ')) AS n,
                    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
       c AS (SELECT doc_id, source, n,
               sum(n) OVER (PARTITION BY source ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM t)
       SELECT doc_id, source, CAST(n AS BIGINT) AS n_tokens,
         CAST((cum - n) // 512 AS BIGINT) AS chunk_id,
         CAST((cum - n) % 512 AS BIGINT) AS chunk_offset
       FROM c ORDER BY source, chunk_id, chunk_offset, doc_id"""

  // --- uniform bottom-k sample (window-free) -------------------------------

  /** q77: deterministic uniform k-per-group sample as a BOUNDED-HEAP
    * aggregate — the window-free twin of [[stratifiedSample]]'s
    * selection step. Each document's md5 sample hash is its draw; the
    * k smallest draws per group win. [[graft.functions.TopK]] keeps a
    * k-element heap per group, so partial aggregation runs map-side
    * (each partition forwards at most k candidates per group) and the
    * shuffle carries k-element buffers — no per-stratum sort, no
    * count-then-cutoff pre-pass, no fallback scan. The trade vs q49:
    * q49's cutoff pre-filter reads the corpus twice but keeps the
    * window input tiny; this form is ONE pass and ONE bounded shuffle,
    * the plan you want when the corpus read dominates (100 TB) and
    * k·groups fits a heap. Determinism: the draw is content-independent
    * (md5 of the decimal id, [[sampleHash]]), so the sample is
    * reproducible across runs, partitionings, and engines; ties on the
    * 52-bit draw prefix resolve by doc id in both engines. */
  def uniformSample(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free
    uniformSampleOf(docs(spark, dir), k)
      .orderBy(col("lang"), col("sample_rank"))

  def uniformSampleOf(d: DataFrame, k: Int,
      grp: String = "lang"): DataFrame = {
    // first 13 hex chars = 52 bits: exactly representable as a Double,
    // so heap order == unsigned draw order with no rounding ties
    val draw = conv(substring(sampleHash(col("doc_id")), 1, 13), 16, 10)
      .cast("long")
    d.select(col(grp), col("doc_id"), (-draw.cast("double")).as("s"))
      .groupBy(col(grp))
      .agg(graft.functions.TopK.top_k_by_score(col("s"), col("doc_id"), k)
        .as("sel"))
      .select(col(grp), explode(col("sel")).as("e"))
      .select(col(grp), col("e.rank").as("sample_rank"),
        col("e.id").as("doc_id"))
  }

  /** q147: data-card example rows — k uniformly-drawn example documents
    * per source with an excerpt, the human-inspection surface every
    * published data card ships (sample rows per split/source). The
    * SELECTION is q77's bounded-heap draw (ids only, map-side k-per-
    * group); HYDRATION is a broadcast join of the k·groups-sized
    * selection back onto the corpus scan — text is never shuffled,
    * never sorted, at any corpus size. ORDER BY = oracle determinism
    * only. */
  def sampleExamples(spark: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    val d = docs(spark, dir)
    val sel = uniformSampleOf(d, k, grp = "source")
    d.join(broadcast(sel.select(col("sample_rank"), col("doc_id"))),
        Seq("doc_id"))
      .select(col("source"), col("sample_rank"), col("doc_id"),
        substring(col("text"), 1, 60).as("excerpt"),
        size(split(col("text"), " ")).as("n_tokens"))
      .orderBy(col("source"), col("sample_rank"))
  }

  /** Oracle for q147 [[sampleExamples]]. */
  val sampleExamplesOracle: String =
    """SELECT source, CAST(rk AS INT) AS sample_rank, doc_id,
         substr(text, 1, 60) AS excerpt,
         len(string_split(text, ' ')) AS n_tokens
       FROM (SELECT source, doc_id, text,
           row_number() OVER (PARTITION BY source
             ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id
           ) AS rk
         FROM documents)
       WHERE rk <= 3 ORDER BY source, sample_rank"""

  val uniformSampleOracle: String =
    """SELECT lang, CAST(rk AS INT) AS sample_rank, doc_id FROM (
         SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
             ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id
           ) AS rk
         FROM documents)
       WHERE rk <= 8 ORDER BY lang NULLS FIRST, sample_rank"""

  // --- corpus data card ----------------------------------------------------

  /** q81: per-source corpus data card — the summary table a mixture
    * designer reads before setting sampling weights (and the artifact
    * data-governance wants published with a corpus): document and token
    * volume, length profile, language spread, English share, and the
    * exact-duplicate count inside each source. All exact, one pass.
    *
    * Scale: a single groupBy(source); the two DISTINCT aggregates
    * (languages, text digests) expand rows per-distinct-column but
    * shuffle only (source, lang) and (source, digest-128) pairs —
    * digests, never text. Source cardinality is small by construction
    * (it's a provenance label), so the result is driver-friendly. */
  def dataCard(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
        round(avg(col("n_chars")), 2).as("avg_chars"),
        countDistinct(col("lang")).as("n_langs"),
        count(when(col("lang") === "en", 1)).as("n_en"),
        (count(lit(1)) - countDistinct(md5(col("text"))))
          .as("n_exact_dups"))
      .orderBy(col("source"))

  val dataCardOracle: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
         round(avg(n_chars), 2) AS avg_chars,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_en,
         CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
           AS n_exact_dups
       FROM documents GROUP BY source ORDER BY source"""

  // --- weighted sample without replacement ---------------------------------

  /** q80: per-source WEIGHTED sample without replacement
    * (Efraimidis-Spirakis 2006: drawing k items with probability
    * proportional to weight w, without replacement, is exactly "take
    * the top-k by uᵢ^(1/wᵢ)" for independent uniform draws uᵢ — here
    * ranked by the equivalent ln(uᵢ)/wᵢ). Weight = document length
    * (n_chars), the token-budget-aware choice: long documents are
    * proportionally likelier to be picked, the standard correction when
    * downstream training consumes tokens but sampling picks documents.
    *
    * Scale: the textbook plan is a per-source window sort over EVERY
    * document's key; this is the same bounded-heap aggregate as q77 —
    * one pass, map-side partials, k-element buffers on the shuffle.
    * Determinism and engine-parity: uᵢ derives from the md5 draw
    * ([[sampleHash]], 52-bit prefix, +0.5 to dodge ln 0), and the key's
    * log is [[graft.functions.DetLn]]'s engine-invariant lnFix —
    * ln(u) = ln((2·draw+1)/2^53) = lnFix(2·draw+1) − 53·ln 2, every op
    * IEEE-exact and bit-identical in any engine, so no rounding is
    * needed at all (the former round(·,10) only shrank, never closed,
    * the libm knife edge); residual ties resolve by doc id. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free
    weightedSampleOf(docs(spark, dir), k)
      .orderBy(col("source"), col("sample_rank"))

  /** key = lnFix(2·draw+1) − 53·ln2, over the weight (shared Spark /
    * oracle text; columns `ln_u`, `n_chars`). */
  private val wsKeySql: String =
    "(ln_u - 5.3e1 * 6.931471805599453094172321e-1) / " +
      "CAST(greatest(n_chars, CAST(1 AS BIGINT)) AS DOUBLE)"

  def weightedSampleOf(d: DataFrame, k: Int): DataFrame = {
    val draw = conv(substring(sampleHash(col("doc_id")), 1, 13), 16, 10)
      .cast("long")
    val key = expr(wsKeySql)
    d.select(col("source"), col("doc_id"), col("n_chars"),
        (draw * 2L + 1L).as("a"))
      .transform(df => graft.functions.DetLn.withLnFix(df, "ln_u", "a"))
      .select(col("source"), col("doc_id"), key.as("s"))
      .groupBy(col("source"))
      .agg(graft.functions.TopK.top_k_by_score(col("s"), col("doc_id"), k)
        .as("sel"))
      .select(col("source"), explode(col("sel")).as("e"))
      .select(col("source"), col("e.rank").as("sample_rank"),
        col("e.id").as("doc_id"))
  }

  val weightedSampleOracle: String = {
    val (stages, fin) = graft.functions.DetLn.oracleLnStages("dr", "w",
      Seq("source", "doc_id", "n_chars"), Seq("ln_u" -> "a"))
    s"""WITH dr AS (SELECT source, doc_id, n_chars,
           2 * CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
             ::UBIGINT AS BIGINT) + 1 AS a
         FROM documents)$stages
       SELECT source, CAST(rk AS INT) AS sample_rank, doc_id FROM (
         SELECT source, doc_id, row_number() OVER (PARTITION BY source
             ORDER BY $wsKeySql DESC, doc_id) AS rk
         FROM $fin)
       WHERE rk <= 8 ORDER BY source NULLS FIRST, sample_rank"""
  }

  // --- bloom-pruned decontamination ----------------------------------------

  /** q79: the q54 decontamination with a bloom-filter prune in front of
    * the exact verification join — identical output (same oracle), a
    * 100 TB-shaped plan. The benchmark's shingle set becomes a
    * fixed-size bit array ([[graft.functions.Bloom]]): built with one
    * map-side-OR aggregate, shipped into the scan as ONE binary literal
    * (vs a per-task broadcast hash relation), and probed by a codegen'd
    * bit test inside the corpus scan, so the overwhelmingly-clean gram
    * stream is decimated before any join machinery sees it. Bloom
    * errors are one-sided: no false negatives means the prune drops
    * nothing the exact join would keep, and the join itself removes the
    * ~fpp false positives — exactness is structural, not statistical.
    * The filter is also a durable artifact: serialized, it can be
    * stored beside the corpus and reused across jobs and streaming
    * batches without rebuilding (the benchmark set changes rarely;
    * the corpus is what grows). */
  def decontaminateBloom(spark: SparkSession, dir: String, k: Int = 5,
      fpp: Double = 0.01): DataFrame = {
    val grams = docs(spark, dir)
      .select(col("doc_id"), explode(shingle_hashes(col("text"), k)).as("gh"))
    val bench = grams.filter(col("doc_id") % 50 === 0)
      .select(col("gh")).distinct().localCheckpoint(eager = false)
    // benchmark-sized driver work: eval suites are small by nature, and
    // the filter size is fixed by (nBench, fpp), not by the corpus
    val nBench = math.max(1L, bench.count())
    val bits = graft.functions.Bloom.bitsFor(nBench, fpp)
    val hashes = graft.functions.Bloom.hashesFor(bits, nBench)
    val filter = bench
      .agg(graft.functions.Bloom.bloom_build(col("gh"), bits, hashes).as("f"))
      .head().getAs[Array[Byte]]("f")
    grams.filter(col("doc_id") % 50 =!= 0)
      .filter(graft.functions.Bloom.might_contain(lit(filter), col("gh")))
      .join(broadcast(bench), "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** q89: cross-source contamination matrix — for every pair of corpus
    * sources, how many distinct word-5-grams they share and the Jaccard
    * of their gram sets. The source-level view of q54's document-level
    * decontamination: before mixing crawls/dumps into a training set, a
    * pipeline wants to know which sources are near-copies of each other
    * (mirrors, re-crawls, scraped aggregators).
    *
    * Scale: grams are 64-bit [[shingle_hashes]] longs, never strings
    * (same ~2⁻⁶⁴ collision tradeoff as q54, documented there); the
    * per-source distinct set is one map-side-combinable aggregate; the
    * pair join shuffles (source, hash) longs keyed on the hash. Per-gram
    * fanout is C(sources containing it, 2) — bounded by the source
    * CATALOG size (dozens–hundreds), not the corpus; a gram shared by
    * every source costs C(n_sources, 2), still trivial. Output is
    * source-pair-sized. */
  def sourceOverlap(spark: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    val g = docs(spark, dir)
      .select(col("source"), explode(shingle_hashes(col("text"), k)).as("gh"))
      .distinct()
      .localCheckpoint(eager = false) // reused: per-source sizes + the pair join
    val n = g.groupBy(col("source")).agg(count(lit(1)).as("n"))
    g.select(col("source").as("source_a"), col("gh"))
      .join(g.select(col("source").as("source_b"), col("gh")), Seq("gh"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(n.select(col("source").as("source_a"),
        col("n").as("na"))), "source_a")
      .join(broadcast(n.select(col("source").as("source_b"),
        col("n").as("nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared") * lit(1.0) /
          (col("na") + col("nb") - col("n_shared")), 4).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sourceOverlapOracle: String =
    """WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
       gi AS (SELECT source, ws,
                unnest(generate_series(1, greatest(len(ws)-4, 0))) AS i FROM w),
       g AS (SELECT DISTINCT source, array_to_string(ws[i:i+4], ' ') AS sh
             FROM gi),
       n AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
       p AS (SELECT a.source AS sa, b.source AS sb,
               CAST(count(*) AS BIGINT) AS shared
             FROM g a JOIN g b ON a.sh = b.sh AND a.source < b.source
             GROUP BY 1, 2)
       SELECT sa AS source_a, sb AS source_b, shared AS n_shared,
         round(shared * 1.0 / (na.n + nb.n - shared), 4) AS jaccard
       FROM p JOIN n na ON na.source = p.sa JOIN n nb ON nb.source = p.sb
       ORDER BY source_a, source_b"""

  /** q91: overlapping-window chunking — split each document into
    * fixed-size token windows advanced by a smaller stride (the RAG /
    * embedding-index splitter: `chunkTokens`=64 tokens per chunk,
    * `stride`=48 → 16-token overlap so no semantic boundary is lost to a
    * hard cut). Complements q55's concat-and-pack (training sequences)
    * with the retrieval-side chunker.
    *
    * Chunk `i` covers tokens [i·stride+1, min(i·stride+chunk, n)];
    * chunk count is ceil((n−chunk)/stride)+1, min 1 — every token is in
    * ≥1 chunk and the last chunk may be short.
    *
    * Scale: pure narrow map + explode, zero shuffle (the ORDER BY is
    * presentation only); output duplicates ~chunk/stride−1 of the corpus
    * by construction (documented cost of overlap, here 1/3). */
  def chunkOverlap(spark: SparkSession, dir: String, chunkTokens: Int = 64,
      stride: Int = 48): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free
    chunkOverlapOf(docs(spark, dir), chunkTokens, stride)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Same over any (doc_id, text) DataFrame (injectable for tests). */
  def chunkOverlapOf(d: DataFrame, chunkTokens: Int = 64,
      stride: Int = 48): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      "need 0 < stride <= chunkTokens")
    val nChunksM1 = greatest(
      ceil((col("n_tokens") - chunkTokens) / stride.toDouble), lit(0L))
    val base = col("chunk_idx") * stride
    val len = least(base + chunkTokens, col("n_tokens").cast("long")) - base
    d.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n_tokens", size(col("ws")))
      .withColumn("chunk_idx", explode(sequence(lit(0L), nChunksM1)))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        len.as("n_chunk_tokens"),
        array_join(slice(col("ws"), (base + 1).cast("int"),
          len.cast("int")), " ").as("chunk_text"))
  }

  val chunkOverlapOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents),
       c AS (SELECT doc_id, len(ws) AS n_tokens,
               unnest(generate_series(0,
                 CAST(greatest(ceil((len(ws) - 64) / 48.0), 0) AS BIGINT)))
                 AS ci,
               ws
             FROM w)
       SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
         CAST(least(ci*48 + 64, n_tokens) - ci*48 AS BIGINT)
           AS n_chunk_tokens,
         array_to_string(ws[(ci*48 + 1):least(ci*48 + 64, n_tokens)], ' ')
           AS chunk_text
       FROM c ORDER BY doc_id, chunk_idx"""

  /** Deterministic train/val/test split by salted-hash HEX-PREFIX
    * bands: a document's bucket is the first two hex chars of
    * `md5(salt || ':' || id)` (256 buckets), and each split owns a
    * contiguous band — fractions quantize to 1/256. Assignment is a
    * pure function of (salt, id): stable across runs, clusters,
    * engines and re-shards; changing the salt re-rolls every split
    * without touching data. Staying in STRING space is deliberate —
    * hex→int conversion is where engines disagree (signed overflow;
    * the q70 lesson), while lowercase-hex comparison is portable
    * everywhere. Narrow map, zero shuffle.
    *
    * `fractions` must sum to ≤ 1; any remainder falls into the last
    * split (so (train 0.8, val 0.1, test 0.1) is exact-modulo-1/256).
    */
  def splitAssign(df: DataFrame, idCol: String, salt: String,
      fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty && fractions.map(_._2).sum <= 1.0 + 1e-9,
      "fractions must sum to <= 1")
    val bounds = fractions.init.scanLeft(0.0)(_ + _._2).tail
      .map(f => f"${math.min(255, math.floor(f * 256).toInt)}%02x")
    val bucket = substring(
      md5(concat(lit(salt + ":"), col(idCol).cast("string"))), 1, 2)
    val assigned = fractions.map(_._1).zip(bounds).foldRight(
      lit(fractions.last._1)) { case ((name, bound), tail) =>
      when(bucket < lit(bound), name).otherwise(tail)
    }
    df.withColumn("split", assigned)
  }

  /** The q102 hex band boundaries for (0.8, 0.1, 0.1): train < 'cc'
    * (204 buckets), val < 'e6' (26), test the rest (26). Shared with
    * the q160 classifier so "trained on the train split" means THE
    * train split. */
  private[graft] val SplitFractions =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** q102: split the document corpus and report per-source split sizes
    * (the balance sheet a data card wants: proportions hold per source,
    * not just globally, because the hash ignores source entirely). */
  def splitReport(spark: SparkSession, dir: String): DataFrame =
    splitAssign(Tables(spark, dir, "documents"), "doc_id", "graft",
        SplitFractions)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"), col("split"))

  val splitReportOracle: String =
    """WITH a AS (SELECT source, n_chars,
         CASE WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2)
                < 'cc' THEN 'train'
              WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2)
                < 'e6' THEN 'val'
              ELSE 'test' END AS split
       FROM documents)
       SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
       FROM a GROUP BY 1, 2 ORDER BY source, split"""

  /** Near-dup pairs that STRADDLE split boundaries — the leakage a
    * split must be audited for before an eval is trusted: a test doc
    * whose near-duplicate sits in train is a contaminated benchmark
    * row (the cross-SPLIT sibling of q54/q79's cross-CORPUS
    * decontamination). Composes the exact PPJoin pair set (q23's
    * derivation) with [[splitAssign]]; both endpoint joins key on
    * doc_id — high-cardinality, skew-free — and ship (id, split)
    * pairs only. The remedy is the caller's policy (move one endpoint
    * to the other side, or drop it); this op makes the leak visible
    * and deterministic. */
  def splitLeakageOf(pairs: DataFrame, assigned: DataFrame): DataFrame = {
    val s = assigned.select(col("doc_id"), col("split"))
    pairs.select(col("a"), col("b"))
      .join(s.select(col("doc_id").as("a"), col("split").as("split_a")), "a")
      .join(s.select(col("doc_id").as("b"), col("split").as("split_b")), "b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("a"), col("b"), col("split_a"), col("split_b"))
  }

  /** q103: leakage audit over the documents corpus at τ = 0.8 with the
    * q102 split. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame =
    // composes the SORT-FREE pair derivation; sort = oracle determinism
    splitLeakageOf(
        neardupPairs(spark, dir),
        splitAssign(Tables(spark, dir, "documents"), "doc_id", "graft",
          SplitFractions))
      .orderBy(col("a"), col("b"))

  val splitLeakageOracle: String =
    """WITH w AS (
         SELECT doc_id, unnest(string_split(text,' ')) AS word,
                generate_subscripts(string_split(text,' '),1) AS pos
         FROM documents),
       t AS (
         SELECT a.doc_id, a.word||' '||b.word||' '||c.word AS sh
         FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
                  JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
       d AS (SELECT DISTINCT doc_id, sh FROM t),
       sz AS (SELECT doc_id, count(*) n FROM d GROUP BY 1),
       com AS (SELECT x.doc_id a, y.doc_id b, count(*) c
               FROM d x JOIN d y ON x.sh=y.sh AND x.doc_id<y.doc_id
               GROUP BY 1,2),
       p AS (SELECT a, b FROM com
             JOIN sz sa ON sa.doc_id=a JOIN sz sb ON sb.doc_id=b
             WHERE c*1.0/(sa.n+sb.n-c) >= 0.8),
       s AS (SELECT doc_id,
         CASE WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2)
                < 'cc' THEN 'train'
              WHEN substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 2)
                < 'e6' THEN 'val'
              ELSE 'test' END AS split
       FROM documents)
       SELECT p.a, p.b, sa.split AS split_a, sb.split AS split_b
       FROM p JOIN s sa ON sa.doc_id = p.a JOIN s sb ON sb.doc_id = p.b
       WHERE sa.split <> sb.split ORDER BY a, b"""

  // --- deterministic epoch shuffle (q112) ----------------------------------

  /** q112: seeded training-order shuffle — the "global shuffle" step every
    * pre-training data loader needs: a deterministic, seed-reproducible
    * permutation of the corpus, sharded for parallel readers. Each doc's
    * sort key is [[graft.functions.DetMix]] of (doc_id, epoch seed); shard
    * = key mod `shards`; within-shard order = (key, doc_id). Changing the
    * seed re-deals both shard membership and order (a new epoch);
    * re-running with the same seed reproduces the permutation bit-for-bit
    * on ANY engine, which is what makes training runs resumable and
    * auditable.
    *
    * The oracled output proves the exact ORDER, not just membership: per
    * shard it emits the count, the first document in shard order, and an
    * order-sensitive fingerprint xor-folded from (position × doc_id) mod
    * p — any transposition of two docs changes it.
    *
    * Scale: the mix and shard columns are a narrow map; the real 100 TB op
    * is `repartition(shards, key)` + `sortWithinPartitions(key, doc_id)` —
    * one shuffle whose writer performs exactly the sort the window here
    * makes explicit. The per-shard window below is that same sort keyed by
    * shard (thousands of shards at scale, so partitions stay bounded);
    * positions never leave their shard and the output is `shards` rows. */
  def epochShuffle(spark: SparkSession, dir: String, seed: Long = 7,
      shards: Int = 32): DataFrame = {
    import graft.functions.DetMix
    val d = docs(spark, dir).select(col("doc_id"))
      .withColumn("h", expr(DetMix.mixSql("doc_id", seed)))
      .withColumn("shard", col("h") % shards)
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    d.withColumn("pos", row_number().over(w).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pos") === 1, col("doc_id"))).as("head_doc"),
        expr("bit_xor((pos * doc_id) % 1000000007)").as("order_sig"))
      .orderBy(col("shard"))
  }

  def epochShuffleOracle(seed: Long = 7, shards: Int = 32): String = {
    val mix = graft.functions.DetMix.mixSql("doc_id", seed)
    s"""WITH h AS (SELECT doc_id, $mix AS h FROM documents),
       s AS (SELECT doc_id, h, h % $shards AS shard FROM h),
       p AS (SELECT shard, doc_id,
               CAST(row_number() OVER (PARTITION BY shard
                 ORDER BY h, doc_id) AS BIGINT) AS pos FROM s)
       SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT) AS head_doc,
         bit_xor((pos * doc_id) % 1000000007) AS order_sig
       FROM p GROUP BY shard ORDER BY shard"""
  }

  // --- length-bucketed batching (q113) -------------------------------------

  /** q113: padding-aware batch construction — the OTHER sequence-packing
    * regime from q55's concat-and-chunk: models that cannot split
    * documents (encoders, contrastive pairs, SFT) pad every sequence in a
    * batch to the batch max, so batching similar lengths together is a
    * direct FLOP saving. Docs are bucketed by token count (power-of-two
    * caps), ordered within each bucket by the q112 shuffle mix (random
    * order WITHIN a bucket keeps batches i.i.d.), and grouped into
    * fixed-size batches; per bucket the padded-token cost `Σ n·max(len)`
    * is compared against an `arrival` baseline that batches in doc_id
    * order with no bucketing (its batch id is `doc_id div B` — no sort,
    * the true arrival-order cost). `waste_ppm` is the padding overhead.
    *
    * Exactness: token counts are pure string arithmetic (spaces + 1);
    * everything else is integer; waste_ppm is a single floor-quantized
    * double division (identical op DAG both engines).
    *
    * Scale: bucket caps are a fixed CASE ladder (narrow map); the
    * per-bucket window is the q112 posture — at 100 TB the bucket key
    * would be (cap, shard) so each window partition stays bounded, and
    * the final output is one row per bucket. */
  def lengthBatching(spark: SparkSession, dir: String, batch: Int = 16,
      seed: Long = 11): DataFrame = {
    import graft.functions.DetMix
    val toks = docs(spark, dir).select(col("doc_id"),
      spaceToksCol.as("toks"))
    val capped = toks.withColumn("bucket_cap",
      when(col("toks") <= 16, 16L).when(col("toks") <= 32, 32L)
        .when(col("toks") <= 64, 64L).when(col("toks") <= 128, 128L)
        .otherwise(256L))
    val wB = Window.partitionBy(col("bucket_cap"))
      .orderBy(col("h"), col("doc_id"))
    val bucketed = capped
      .withColumn("h", expr(DetMix.mixSql("doc_id", seed)))
      .withColumn("rn", row_number().over(wB).cast("long"))
      .withColumn("batch_id", expr(s"(rn - 1) DIV $batch"))
    val arrival = capped
      .withColumn("bucket_cap", lit(0L))
      .withColumn("batch_id", expr(s"doc_id DIV $batch"))
    def stats(df: DataFrame, strategy: String): DataFrame =
      df.groupBy(col("bucket_cap"), col("batch_id"))
        .agg(count(lit(1)).as("n"), max(col("toks")).as("mx"),
          sum(col("toks")).as("s"))
        .groupBy(col("bucket_cap"))
        .agg(sum(col("n")).as("n_docs"),
          count(lit(1)).as("n_batches"),
          sum(col("n") * col("mx")).as("padded_tokens"),
          sum(col("s")).as("real_tokens"))
        .withColumn("strategy", lit(strategy))
    stats(bucketed, "bucketed").unionByName(stats(arrival, "arrival"))
      .withColumn("waste_ppm", expr(
        "CAST(floor(CAST(padded_tokens - real_tokens AS DOUBLE) * 1e6" +
          " / CAST(padded_tokens AS DOUBLE)) AS BIGINT)"))
      .orderBy(col("strategy"), col("bucket_cap"))
  }

  // --- mixture schedule (q118) ---------------------------------------------

  /** q118: temperature-mixture SCHEDULE — the planning table next to
    * q59's document-level temperature sampler: given per-source natural
    * token counts N_s, a temperature-0.5 target share w_s = √N_s / Σ√N_t
    * (flattening the source skew, the standard multi-corpus mixing rule)
    * and a token budget, emit per source the target token allocation and
    * the repeat factor `epochs_ppm` (>1e6 ⇒ the source is repeated /
    * upsampled, <1e6 ⇒ subsampled) — the table a training-data loader
    * executes and a data card publishes.
    *
    * Exactness: √ is IEEE-correctly-rounded (the one float op allowed in
    * oracled outputs, see [[graft.functions.DetLn]]), immediately
    * floor-quantized to micro units; shares and epochs are then pure
    * BIGINT multiply/divide. At this scale `budget·sqrt_micro` ≤ ~1e15;
    * the 100 TB form (token counts ~1e13, budgets ~1e12) would widen
    * that product to DECIMAL(38,0) — same shape.
    *
    * Scale: one map-side-combinable aggregate over documents, a
    * broadcast single-row total, a narrow projection. */
  def mixtureSchedule(spark: SparkSession, dir: String,
      budget: Long = 1000000L): DataFrame = {
    val perSource = docs(spark, dir)
      .select(col("source"), spaceToksCol.as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .withColumn("sqrt_micro", expr(
        "CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)"))
    val total = perSource.agg(sum(col("sqrt_micro")).as("tot"))
    perSource.crossJoin(broadcast(total))
      .withColumn("target_tokens", expr(s"($budget * sqrt_micro) DIV tot"))
      .withColumn("epochs_ppm",
        expr("(target_tokens * 1000000) DIV n_tokens"))
      .drop("tot")
      .orderBy(col("source"))
  }

  /** The q118 schedule chain (per-source token counts → √-flattened
    * shares → integer token targets), exposing `a(source, n_docs,
    * n_tokens, sqrt_micro, target_tokens)` — ONE definition shared by
    * the schedule oracle (q118) and its execution oracle (q209). */
  private def mixtureScheduleCtes(budget: Long): String =
    s"""t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
             AS BIGINT) AS n_tokens
         FROM documents GROUP BY 1),
       s AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6)
           AS BIGINT) AS sqrt_micro FROM t),
       tot AS (SELECT CAST(sum(sqrt_micro) AS BIGINT) AS tot FROM s),
       a AS (SELECT s.*, ($budget * sqrt_micro) // tot AS target_tokens
         FROM s CROSS JOIN tot)"""

  def mixtureScheduleOracle(budget: Long = 1000000L): String =
    s"""WITH ${mixtureScheduleCtes(budget)}
       SELECT source, n_docs, n_tokens, sqrt_micro, target_tokens,
         (target_tokens * 1000000) // n_tokens AS epochs_ppm
       FROM a ORDER BY source"""

  /** q209: mixture-schedule EXECUTION — materialize q118's plan: per
    * source, admit documents in the deterministic [[sampleHash]]
    * order until the source's token target is met (admit while the
    * running total `before` < target, so the one boundary document
    * straddling the target is included — overshoot is bounded by a
    * single document). The per-source rollup an export run logs next
    * to the schedule: admitted docs/tokens and the achieved fill.
    * An UPSAMPLED source (epochs_ppm > 10⁶) saturates — every doc
    * admitted, fill < 10⁶ — which is exactly the signal that the
    * loader must repeat it; single-pass admission cannot (and must
    * not silently pretend to) multiply data.
    *
    * Scale: the running totals are [[prefixSumsOf]] with source as
    * the group (its designed use — NO per-source global window on the
    * engine side); the schedule is a source-count-sized broadcast;
    * one map-side-combinable rollup. ORDER BY = oracle determinism
    * only. */
  def mixtureExecute(spark: SparkSession, dir: String,
      budget: Long = 1000000L): DataFrame = {
    import spark.implicits._
    // the schedule is q118's registered output → q118 derives fresh,
    // the composed execution reads the memo (the house convention)
    val sched = graft.SessionMemo(spark,
        s"mixture-schedule:$dir:$budget") {
      mixtureSchedule(spark, dir, budget).localCheckpoint()
    }
    val keyed = docs(spark, dir)
      .select(col("doc_id"), col("source"), spaceToksCol.as("toks"),
        sampleHash(col("doc_id")).as("h"))
      .as[(Long, String, Long, String)]
    val admitted = prefixSumsOf(keyed)
      .join(broadcast(sched.select(col("source").as("grp"),
        col("target_tokens"))), Seq("grp"))
      .filter(col("before") < col("target_tokens"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_admitted"),
        sum(col("n")).as("admitted_tokens"))
      .withColumnRenamed("grp", "source")
    sched.select(col("source"), col("n_docs"), col("n_tokens"),
        col("target_tokens"), col("epochs_ppm"))
      .join(admitted, Seq("source"), "left")
      .na.fill(0L, Seq("n_admitted", "admitted_tokens"))
      .withColumn("fill_ppm", expr(
        "CASE WHEN target_tokens = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE admitted_tokens * 1000000 div target_tokens END"))
      .orderBy(col("source"))
  }

  def mixtureExecuteOracle(budget: Long = 1000000L): String =
    s"""WITH ${mixtureScheduleCtes(budget)},
       d AS (SELECT doc_id, source,
           CAST(length(text) - length(replace(text, ' ', '')) + 1
             AS BIGINT) AS toks,
           md5(CAST(doc_id AS VARCHAR)) AS h
         FROM documents),
       p AS (SELECT source, toks,
           CAST(COALESCE(sum(toks) OVER (PARTITION BY source
             ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS before
         FROM d),
       ad AS (SELECT p.source,
           CAST(count(*) AS BIGINT) AS n_admitted,
           CAST(sum(p.toks) AS BIGINT) AS admitted_tokens
         FROM p JOIN a ON a.source = p.source
         WHERE p.before < a.target_tokens GROUP BY 1)
       SELECT a.source, a.n_docs, a.n_tokens, a.target_tokens,
         (a.target_tokens * 1000000) // a.n_tokens AS epochs_ppm,
         COALESCE(ad.n_admitted, 0) AS n_admitted,
         COALESCE(ad.admitted_tokens, 0) AS admitted_tokens,
         CASE WHEN a.target_tokens = 0 THEN CAST(0 AS BIGINT)
           ELSE COALESCE(ad.admitted_tokens, 0) * 1000000
             // a.target_tokens END AS fill_ppm
       FROM a LEFT JOIN ad ON ad.source = a.source
       ORDER BY a.source"""

  def lengthBatchingOracle(batch: Int = 16, seed: Long = 11): String = {
    val mix = graft.functions.DetMix.mixSql("doc_id", seed)
    s"""WITH t AS (SELECT doc_id,
           CAST(length(text) - length(replace(text, ' ', '')) + 1
             AS BIGINT) AS toks FROM documents),
       c AS (SELECT doc_id, toks,
           CASE WHEN toks <= 16 THEN 16 WHEN toks <= 32 THEN 32
                WHEN toks <= 64 THEN 64 WHEN toks <= 128 THEN 128
                ELSE 256 END AS bucket_cap FROM t),
       b AS (SELECT bucket_cap, toks,
           (CAST(row_number() OVER (PARTITION BY bucket_cap
              ORDER BY $mix, doc_id) AS BIGINT) - 1) // $batch AS batch_id
         FROM c),
       a AS (SELECT CAST(0 AS BIGINT) AS bucket_cap, toks,
           doc_id // $batch AS batch_id FROM c),
       u AS (SELECT 'bucketed' AS strategy, * FROM b
             UNION ALL SELECT 'arrival', * FROM a),
       g AS (SELECT strategy, bucket_cap, batch_id,
           CAST(count(*) AS BIGINT) AS n, max(toks) AS mx,
           CAST(sum(toks) AS BIGINT) AS s
         FROM u GROUP BY 1, 2, 3),
       f AS (SELECT strategy, CAST(bucket_cap AS BIGINT) AS bucket_cap,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(n * mx) AS BIGINT) AS padded_tokens,
           CAST(sum(s) AS BIGINT) AS real_tokens
         FROM g GROUP BY 1, 2)
       SELECT strategy, bucket_cap, n_docs, n_batches, padded_tokens,
         real_tokens,
         CAST(floor(CAST(padded_tokens - real_tokens AS DOUBLE) * 1e6
           / CAST(padded_tokens AS DOUBLE)) AS BIGINT) AS waste_ppm
       FROM f ORDER BY strategy, bucket_cap"""
  }
}
