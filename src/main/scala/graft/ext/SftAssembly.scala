package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Post-pretraining (SFT / preference) data assembly — the shapes a
  * production pipeline composes AFTER the pretraining delivery the
  * rest of this library covers: conversation-turn threading with role
  * alternation checks (q193), pairwise preference joins with
  * deterministic tiebreaks (q194), rejection-sampling prompt-set
  * decontamination (q195), and the composed per-user release card
  * (q196).
  *
  * Modeling on the fixture tables: `events` stands in for a turn log
  * (user_id = conversation owner, calendar day = thread boundary,
  * event_type → role: the human-action types `click/view/signup` are
  * `user` turns, `purchase/error` are `assistant` turns) and for a
  * reward log (`value` = per-response score, user_id = prompt pool);
  * `documents` with the doc_id % 50 = 0 eval convention stands in for
  * the SFT prompt set.
  *
  * Scale posture: every operator here is one map-side-combinable
  * aggregation or one broadcast anti-join. Threads group on
  * (user, day) — bounded groups (one user's day), so the
  * collect_list is per-group-bounded, never corpus-sized; preference
  * pairs are packed-decimal max/min aggregates (NO per-prompt window
  * and NO struct buffer — the argmax key packs into one
  * DECIMAL(38,0) so the fold stays in HashAggregate); the
  * prompt digest set is benchmark-sized and broadcasts. Timestamps
  * are exported as epoch-micros-derived day indexes, never raw (the
  * events.ts house rule).
  */
object SftAssembly {

  private val UsPerDay = 86400000000L

  /** The role map: human-action event types are `user` turns. */
  private val UserRoleTypes = Seq("click", "view", "signup")

  /** Thread/role columns over any (user_id, us, event_id, event_type)
    * frame — shared by the batch path and the streaming snapshot so
    * the two cannot drift. */
  private[graft] def turnColumnsOf(e: DataFrame): DataFrame =
    // Truncate-toward-zero division on BOTH engines: Spark `div` and
    // DuckDB `//` agree (-7 div 2 = -7 // 2 = -3, verified on the
    // harness's DuckDB 1.0.0), so a pre-1970 timestamp (us < 0) lands
    // in the same day bucket on both sides with no adjustment. Exact
    // integer arithmetic — no double divide (ulp at 2024-epoch micros
    // is coarser than 1, which could flip a midnight-boundary turn).
    e.withColumn("day", expr(s"us div $UsPerDay"))
      .withColumn("role",
        when(col("event_type").isin(UserRoleTypes: _*), lit("user"))
          .otherwise(lit("assistant")))

  /** `spread = true` only for q193's registered entry (A/B-measured
    * win on its collect_list aggregate); every composed consumer
    * keeps the plain scan — an A/B showed the forced 32-task stage
    * REGRESSES the packing-family compositions (OPTIMIZATION_r16.md
    * §1). */
  private def turnEvents(spark: SparkSession, dir: String,
      spread: Boolean = false): DataFrame =
    turnColumnsOf((if (spread) graft.Tables.spreadScan(spark, dir, "events")
        else Tables(spark, dir, "events")).select(
      col("user_id"),
      unix_micros(col("ts").cast("timestamp")).as("us"),
      col("event_id"), col("event_type")))

  /** q193: conversation threading — one row per (user, day) thread
    * with the turn count, role composition, alternation check
    * (adjacent same-role pairs = violations; an SFT exporter drops or
    * repairs those), whether the thread opens with a user turn, and
    * the md5 order pin of the full role:type sequence (the q114
    * idiom — the oracle agrees on ORDER, not just membership).
    *
    * Scale: one groupBy(user, day) with a per-group-bounded
    * collect_list; the alternation count is a narrow zip_with over
    * the sorted turn array — no window, no self-join. ORDER BY =
    * oracle determinism only. */
  def conversationThreads(spark: SparkSession, dir: String): DataFrame =
    conversationThreadsOf(turnEvents(spark, dir, spread = true))
      .orderBy(col("user_id"), col("day"))

  /** Sort-free thread frame — the form q196 and the streaming
    * snapshot compose. */
  private[graft] def conversationThreadsOf(e: DataFrame): DataFrame =
    e.groupBy(col("user_id"), col("day"))
      .agg(collect_list(struct(col("us"), col("event_id"), col("role"),
        col("event_type"))).as("raw"))
      // (us, event_id) is a unique prefix, so the lexicographic struct
      // sort is a total order — the thread's canonical turn sequence
      .withColumn("turns", expr("array_sort(raw)"))
      .select(col("user_id"), col("day"),
        expr("size(turns)").as("n_turns"),
        expr("size(filter(turns, t -> t.role = 'user'))").as("n_user"),
        expr("turns[0].role = 'user'").as("starts_with_user"),
        expr("""size(filter(zip_with(
            slice(transform(turns, t -> t.role), 1, size(turns) - 1),
            slice(transform(turns, t -> t.role), 2, size(turns) - 1),
            (a, b) -> a = b), x -> x))""").as("n_role_violations"),
        md5(expr(
          "array_join(transform(turns, t -> concat(t.role, ':', " +
            "t.event_type)), ' ')").cast("binary")).as("thread_md5"))

  val conversationThreadsOracle: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
           event_type,
           CASE WHEN event_type IN ('click', 'view', 'signup')
             THEN 'user' ELSE 'assistant' END AS role,
           epoch_us(ts) // $UsPerDay AS day
         FROM events),
       l AS (SELECT *, lag(role) OVER (PARTITION BY user_id, day
           ORDER BY us, event_id) AS prev FROM e),
       g AS (SELECT user_id, day,
           CAST(count(*) AS INT) AS n_turns,
           CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS INT)
             AS n_user,
           CAST(sum(CASE WHEN role = prev THEN 1 ELSE 0 END) AS INT)
             AS n_role_violations,
           string_agg(role || ':' || event_type, ' '
             ORDER BY us, event_id) AS seq
         FROM l GROUP BY 1, 2)
       SELECT user_id, day, n_turns, n_user,
         CAST(seq LIKE 'user:%' AS BOOLEAN) AS starts_with_user,
         n_role_violations, md5(seq) AS thread_md5
       FROM g ORDER BY user_id, day"""

  /** q194: preference-pair assembly — per prompt (user_id pools the
    * sampled responses; `value` is the reward score), the
    * chosen/rejected pair under ONE total order: key = (value,
    * −event_id), chosen = argmax (best score, lowest id on ties),
    * rejected = argmin (worst score, highest id on ties — so a
    * constant-score pool still yields a distinct, deterministic
    * pair). Pools of one are dropped (no pair to make).
    *
    * Scale: the argmax/argmin fold runs as a packed-DECIMAL(38,0)
    * max/min — HashAggregate with map-side combine, one shuffle of
    * one row per prompt, NO per-prompt window and NO SortAggregate
    * (a struct ordering key would demote the plan to a per-partition
    * sort of the whole event log; see the inline note). ORDER BY =
    * oracle determinism only. */
  def preferencePairs(spark: SparkSession, dir: String): DataFrame =
    preferencePairsOf(spark, dir).orderBy(col("prompt_id"))

  private[ext] def preferencePairsOf(spark: SparkSession,
      dir: String): DataFrame =
    preferencePairsOfEvents(Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("value")))

  /** The pair fold over any (user_id, event_id, value) frame — shared
    * by the batch path and the streaming snapshot. */
  private[graft] def preferencePairsOfEvents(e: DataFrame): DataFrame =
    // The (value, −event_id) total order is ONE packed-decimal key
    // ([[graft.functions.DecimalPack]] — a struct ordering key would
    // demote the whole fold from HashAggregate to a per-partition
    // SortAggregate of the event log): chosen = max, rejected = min
    // of the SAME key, the opposed tiebreak falling out of the
    // complement encoding.
    e.select(col("user_id").as("prompt_id"), col("event_id"),
        col("value"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("pk",
        graft.functions.DecimalPack.packDesc("cents", "event_id"))
      .groupBy(col("prompt_id"))
      .agg(count(lit(1)).as("n_candidates"),
        max(col("pk")).as("chp"), min(col("pk")).as("rjp"),
        min(col("cents")).as("_cmin"), min(col("event_id")).as("_imin"),
        // the key orders by CENTS, so a >2-decimal reward would be
        // silently quantized into a different (value, -id) order than
        // the documented one — measure the worst quantization error
        // and refuse it below (1e-6 absorbs the ~1e-13 representation
        // noise of genuine 2-decimal doubles)
        max(abs(col("value") * 100 - round(col("value") * 100)))
          .as("_qerr"))
      .filter(col("n_candidates") >= 2)
      // the packed key only unpacks for present, non-negative,
      // 2-decimal inputs — fail loudly, not corrupt (evaluated in a
      // filter so column pruning cannot elide the check; assert_true
      // yields NULL when the condition holds). isNotNull first: an
      // all-NULL reward pool must say so, not claim negativity.
      .filter(assert_true(
        col("_cmin").isNotNull && col("_cmin") >= 0 &&
          col("_imin").isNotNull && col("_imin") >= 0 &&
          col("_qerr") < 1e-6,
        lit("preferencePairs: reward pool with NULL, negative, or " +
          ">2-decimal values / ids — outside the packed argmax key's " +
          "domain")).isNull)
      .select(col("prompt_id"), col("n_candidates"),
        unpackId("chp").as("chosen_id"),
        unpackId("rjp").as("rejected_id"),
        unpackValue("chp").as("chosen_value"),
        unpackValue("rjp").as("rejected_value"),
        // cents difference ÷ 100 is bit-identical to round(a−b, 2) of
        // the raw 2-decimal doubles (both resolve to the double
        // nearest the exact 2-decimal result)
        ((unpackCents("chp") - unpackCents("rjp")) / 100.0).as("margin"))

  private def unpackCents(c: String): org.apache.spark.sql.Column =
    graft.functions.DecimalPack.unpackHi(c).cast("double")

  private def unpackValue(c: String): org.apache.spark.sql.Column =
    (unpackCents(c) / 100.0)

  private def unpackId(c: String): org.apache.spark.sql.Column =
    graft.functions.DecimalPack.unpackLoDesc(c)

  val preferencePairsOracle: String =
    """WITH e AS (SELECT user_id AS prompt_id, event_id, value
         FROM events),
       r AS (SELECT prompt_id, event_id, value,
           row_number() OVER (PARTITION BY prompt_id
             ORDER BY value DESC, event_id) AS rc,
           row_number() OVER (PARTITION BY prompt_id
             ORDER BY value, event_id DESC) AS rr,
           count(*) OVER (PARTITION BY prompt_id) AS n
         FROM e),
       c AS (SELECT prompt_id, event_id AS chosen_id,
           value AS chosen_value, n FROM r WHERE rc = 1),
       j AS (SELECT prompt_id, event_id AS rejected_id,
           value AS rejected_value FROM r WHERE rr = 1)
       SELECT c.prompt_id, CAST(n AS BIGINT) AS n_candidates,
         chosen_id, rejected_id,
         round(chosen_value, 2) AS chosen_value,
         round(rejected_value, 2) AS rejected_value,
         round(chosen_value - rejected_value, 2) AS margin
       FROM c JOIN j USING (prompt_id) WHERE n >= 2
       ORDER BY c.prompt_id"""

  /** q195: prompt-set decontamination — the rejection-sampling hygiene
    * step: corpus documents whose PROMPT PREFIX (first 4 words,
    * lowercased — the part a sampler would have echoed verbatim)
    * digest-matches any SFT prompt-set member are dropped by anti-join
    * (the q61 incremental-dedup shape keyed on prompt hashes instead
    * of full-document digests). Output is the surviving corpus with
    * its prompt hash; a dropped document's ABSENCE is what the oracle
    * pins.
    *
    * Scale: the prompt digest set is benchmark-sized → broadcast
    * anti-join on a fixed-width 32-char key; the corpus side is one
    * narrow prefix-hash map and never shuffles. ORDER BY = oracle
    * determinism only. */
  def promptDecontaminate(spark: SparkSession, dir: String): DataFrame =
    promptDecontaminateOf(spark, dir).orderBy(col("doc_id"))

  private[ext] def promptDecontaminateOf(spark: SparkSession,
      dir: String): DataFrame = {
    // the prompt hash needs only the first 4 words: the limit-5 split
    // yields the same elements 1..4 (the 5th slot holds the untouched
    // remainder) at O(prefix) instead of O(document) per row
    val d = Tables(spark, dir, "documents")
      .withColumn("prompt_hash", md5(
        expr("lower(array_join(slice(split(text, ' ', 5), 1, 4), ' '))")
          .cast("binary")))
    val prompts = d.filter(col("doc_id") % 50 === 0)
      .select(col("prompt_hash")).distinct()
    d.filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(prompts), Seq("prompt_hash"), "left_anti")
      .select(col("doc_id"), col("prompt_hash"))
  }

  val promptDecontaminateOracle: String =
    """WITH d AS (SELECT doc_id,
         md5(lower(array_to_string((string_split(text, ' '))[1:4], ' ')))
           AS prompt_hash
       FROM documents),
       p AS (SELECT DISTINCT prompt_hash FROM d WHERE doc_id % 50 = 0)
       SELECT doc_id, prompt_hash
       FROM d WHERE doc_id % 50 <> 0
         AND prompt_hash NOT IN (SELECT prompt_hash FROM p)
       ORDER BY doc_id"""

  /** Sequence capacity of the REGISTERED q198 pair — interpolated
    * into [[threadPackingOracle]] so engine and oracle cannot
    * diverge when the constant changes. */
  private val PackSeqTurns = 16L

  /** q198: SFT thread packing — the delivery step after threading:
    * VALID threads (zero alternation violations, opens with a user
    * turn — q193's export gate) are concatenated in deterministic
    * hash order and cut into fixed `seqTurns` training sequences;
    * each thread reports the sequence it starts in and its turn
    * offset there (threads may straddle boundaries — the q55
    * concat-then-chunk scheme applied to conversations).
    *
    * Scale: the q55 two-phase prefix sum ([[Curate.prefixSumsOf]] —
    * ONE shared definition), so there is NO global window and no
    * single-reducer running sum; thread keys pack as user·10⁶ + day
    * (epoch days stay under 10⁶ until year ~4700, asserted). ORDER
    * BY = oracle determinism only. */
  def threadPacking(spark: SparkSession, dir: String,
      seqTurns: Long = PackSeqTurns): DataFrame = {
    import spark.implicits._
    // a composed delivery stage reads the shared thread artifact
    // (the q196 convention; q193 derives fresh)
    val threads = threadsMemo(spark, dir)
    // the packed key is only invertible for 0 <= day < 10^6 (epoch
    // days reach 10^6 around year 4700; negative days are pre-1970
    // timestamps, which turnColumnsOf supports but this key does
    // not) AND user_id >= 0 (the truncating div/mod decode would
    // round-trip a negative user to a wrong (user, day) and silently
    // drop its threads at the re-join) — refuse loudly instead of
    // corrupting on the way back out. Row-level assert_true (the
    // LabelProp.argmaxLabel pattern): evaluated inside the packing's
    // own jobs instead of a separate eager probe job per call (this
    // guard sat on every packing-family query's per-run path).
    val valid = threads
      .filter(col("n_role_violations") === 0 && col("starts_with_user"))
      .select(col("user_id"), col("day"), col("n_turns"))
      .filter(assert_true(
        col("day") >= 0 && col("day") < 1000000L && col("user_id") >= 0,
        lit("threadPacking: day index outside [0, 10^6) or negative " +
          "user_id — the user*10^6+day packed key cannot represent " +
          "it; re-key before packing")).isNull)
    Curate.prefixSumsOf(keyedThreadsOf(valid, "n_turns"))
      .select(expr("id div 1000000").as("user_id"),
        (col("id") % 1000000L).as("day"),
        col("n").cast("int").as("n_turns"),
        expr("before div " + seqTurns).as("seq_id"),
        (col("before") % seqTurns).as("seq_offset"))
      .orderBy(col("user_id"), col("day"))
  }

  val threadPackingOracle: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
           CASE WHEN event_type IN ('click', 'view', 'signup')
             THEN 'user' ELSE 'assistant' END AS role,
           epoch_us(ts) // $UsPerDay AS day
         FROM events),
       l AS (SELECT *, lag(role) OVER (PARTITION BY user_id, day
           ORDER BY us, event_id) AS prev FROM e),
       g AS (SELECT user_id, day, count(*) AS n_turns,
           sum(CASE WHEN role = prev THEN 1 ELSE 0 END) AS viol,
           string_agg(role, ' ' ORDER BY us, event_id) AS seq
         FROM l GROUP BY 1, 2),
       v AS (SELECT user_id, day, n_turns,
           user_id * 1000000 + day AS id,
           md5(CAST(user_id AS VARCHAR) || ':' ||
             CAST(day AS VARCHAR)) AS h
         FROM g WHERE viol = 0 AND seq LIKE 'user%'),
       p AS (SELECT user_id, day, n_turns,
           CAST(COALESCE(sum(n_turns) OVER (ORDER BY h, id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS before
         FROM v)
       SELECT user_id, day, CAST(n_turns AS INT) AS n_turns,
         before // $PackSeqTurns AS seq_id,
         before % $PackSeqTurns AS seq_offset
       FROM p ORDER BY user_id, day"""

  /** The packed thread key every prefix-sum packing feeds to
    * [[Curate.prefixSumsOf]] — id = user·10⁶ + day, one 'sft' group,
    * md5("user:day") hash order, weight from `weightCol` — ONE
    * definition (q198/q200/q205 all order by it; a fork in the key or
    * hash at one site would silently fork the packing order the
    * oracles pin). */
  private def keyedThreadsOf(items: DataFrame, weightCol: String)
      : org.apache.spark.sql.Dataset[(Long, String, Long, String)] = {
    val spark = items.sparkSession
    import spark.implicits._
    items.select(
        (col("user_id") * 1000000L + col("day")).as("id"),
        lit("sft").as("grp"),
        col(weightCol).cast("long").as("n"),
        md5(concat(col("user_id").cast("string"), lit(":"),
          col("day").cast("string")).cast("binary")).as("h"))
      .as[(Long, String, Long, String)]
  }

  /** Token capacity of the REGISTERED q200 pair — interpolated into
    * [[tokenPackingOracle]] so engine and oracle cannot diverge when
    * the constant changes. ~3-4 median threads per sequence on the
    * fixtures. */
  private val PackTokenBudget = 512L

  /** q200: TOKEN-budget thread packing — the form SFT exporters
    * actually ship: q198 packs by turn count, but a training sequence
    * is a token window, so the delivery step must weigh each valid
    * thread by its TOKEN length and cut the hash-ordered concatenation
    * at a token budget. Composes three already-oracled parts: q193's
    * valid-thread gate, q29's whitespace tokenizer for per-turn token
    * counts, and the q55/q198 [[Curate.prefixSumsOf]] core (ONE shared
    * definition, running over token weights instead of turn counts).
    *
    * The fixture's stand-in for "the turn's rendered text" is the
    * document keyed by event_id mod |documents| (events carry no text;
    * a real exporter's turn does) — the operator's SHAPE is the
    * product: join turn→text, tokenize, per-thread token sum,
    * budget-cut via distributed prefix sums. Threads longer than the
    * budget straddle sequence boundaries, exactly like q55 chunks.
    *
    * Scale: token counts are projected from the text BEFORE the join
    * (the join ships one long per turn, never text); the per-thread
    * sum is a map-side-combinable aggregate; packing is the two-phase
    * prefix sum — NO global window, no single-reducer running sum.
    * ORDER BY = oracle determinism only. */
  def tokenPacking(spark: SparkSession, dir: String,
      budget: Long = PackTokenBudget): DataFrame = {
    val threads = threadsMemo(spark, dir)
    val (toks, nDocs) = docTokens(spark, dir)
    tokenPackingOf(threads, turnEvents(spark, dir), toks, nDocs, budget)
  }

  /** The conversation threads, memoized per dir: every composed stage
    * reads this one artifact (the q196 convention); q193 derives fresh. */
  private def threadsMemo(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo(spark, s"sft-threads:$dir") {
      conversationThreadsOf(turnEvents(spark, dir)).localCheckpoint()
    }

  /** ONE definition of the (doc_id, toks) token table + its modulus —
    * q200/q202 both read it; the tokenizer projection must not fork.
    * Memoized per dir (the family's shared-artifact convention): four
    * delivery queries (q200/q202/q203/q204) each read this, and the
    * count job + token projection must run once per session, not per
    * query. */
  private def docTokens(spark: SparkSession,
      dir: String): (DataFrame, Long) =
    graft.SessionMemo(spark, s"sft-doctokens:$dir") {
      (Tables(spark, dir, "documents").select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("toks"))
        .localCheckpoint(),
        nDocsOf(spark, dir))
    }

  /** The turn→text key modulus, memoized on its own: q206 needs only
    * the scalar, and must not force the whitespace token projection
    * to get it. */
  private def nDocsOf(spark: SparkSession, dir: String): Long =
    graft.SessionMemo(spark, s"sft-ndocs:$dir") {
      val n = Tables(spark, dir, "documents").count()
      require(n > 0, "docTokens: empty documents table")
      n
    }

  /** The memoized q200 packing the composed delivery queries
    * (q201/q202) read — keyed by BUDGET too, so a non-default-budget
    * call in the same session can never hand a composed query a
    * packing whose seq_id/seq_offset encode a different base. */
  private def packedMemo(spark: SparkSession, dir: String,
      budget: Long): DataFrame =
    graft.SessionMemo(spark, s"sft-packed:$dir:$budget") {
      tokenPacking(spark, dir, budget).localCheckpoint()
    }

  /** The q200 packing core over any thread frame + turn frame + token
    * table — ONE definition shared by the batch query and the
    * streaming snapshot ([[graft.streaming.StreamingSft]]) so the two
    * cannot drift. `turns` carries (user_id, day, event_id); `toks`
    * is the (doc_id, toks) token-count table (config-like: projected
    * from text before it ever reaches this core). */
  private[graft] def tokenPackingOf(threads: DataFrame, turns: DataFrame,
      toks: DataFrame, nDocs: Long, budget: Long): DataFrame = {
    val spark = threads.sparkSession
    import spark.implicits._
    // same packed-key domain guard as q198 (the id is user·10⁶ + day;
    // user_id < 0 would decode to a wrong key and silently drop the
    // thread at the n_turns re-join) — row-level assert_true, no
    // separate probe job per call
    val valid = threads
      .filter(col("n_role_violations") === 0 && col("starts_with_user"))
      .select(col("user_id"), col("day"), col("n_turns"))
      .filter(assert_true(
        col("day") >= 0 && col("day") < 1000000L && col("user_id") >= 0,
        lit("tokenPacking: day index outside [0, 10^6) or negative " +
          "user_id — the user*10^6+day packed key cannot represent " +
          "it; re-key before packing")).isNull)
    val threadTokens = turns
      .select(col("user_id"), col("day"),
        (col("event_id") % nDocs).as("doc_id"))
      .join(toks, Seq("doc_id"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("toks")).as("n_tokens"))
    val items = valid.join(threadTokens, Seq("user_id", "day"))
    Curate.prefixSumsOf(keyedThreadsOf(items, "n_tokens"))
      .select(expr("id div 1000000").as("user_id"),
        (col("id") % 1000000L).as("day"),
        col("n").as("n_tokens"),
        expr("before div " + budget).as("seq_id"),
        (col("before") % budget).as("seq_offset"))
      .join(items.select(col("user_id"), col("day"),
        col("n_turns").cast("int").as("n_turns")),
        Seq("user_id", "day"))
      .select(col("user_id"), col("day"), col("n_turns"),
        col("n_tokens"), col("seq_id"), col("seq_offset"))
      .orderBy(col("user_id"), col("day"))
  }

  val tokenPackingOracle: String =
    s"""WITH $docTokensSql,
       ${packingChainSql("", "")}
       SELECT user_id, day, CAST(n_turns AS INT) AS n_turns, n_tokens,
         seq_id, seq_offset
       FROM p ORDER BY user_id, day"""

  /** q201: the packed-SEQUENCE manifest — the inverse view of q200
    * and the artifact a trainer actually loads: per training sequence,
    * how many threads contribute, how many arrived whole vs straddling
    * a boundary, the tokens used, and the fill ratio. Block-diagonal
    * attention masks are built from exactly these boundaries, and the
    * fill column is the exporter's padding-waste report (every
    * sequence but the last fills to the budget by construction —
    * pinned by the oracle, not assumed).
    *
    * A thread occupying [start, start + n_tokens) contributes to
    * sequences ⌊start/B⌋ .. ⌊(start + n_tokens − 1)/B⌋; its token
    * share in sequence s is min(end, (s+1)·B) − max(start, s·B) — all
    * exact integer arithmetic, replayed verbatim by the oracle via
    * generate_series.
    *
    * Scale: reads the memoized q200 packing (q200 itself derives
    * fresh — a query never memoizes its own result); the explode is
    * bounded by n_threads + total_tokens/B rows; one shuffle on the
    * seq_id long. ORDER BY = oracle determinism only. */
  def sequenceManifest(spark: SparkSession, dir: String,
      budget: Long = PackTokenBudget): DataFrame =
    sequenceManifestOf(packedMemo(spark, dir, budget), budget)

  /** The q201 manifest core over any q200-shaped packed frame — ONE
    * definition for the batch query and the streaming snapshot. The
    * zero-token guard mirrors [[lossMaskLayoutOf]]: the registered
    * whitespace tokenizer never yields 0, but the streaming snapshot
    * takes a caller-supplied token table, and an empty span makes
    * Spark's `sequence` step DOWNWARD (phantom seq_id − 1 row) while
    * generate_series returns empty. */
  private[graft] def sequenceManifestOf(packed: DataFrame,
      budget: Long): DataFrame =
    packed
      .filter(col("n_tokens") > 0)
      .select(col("user_id"), col("day"), col("n_tokens"),
        (col("seq_id") * budget + col("seq_offset")).as("start"))
      .withColumn("fin", col("start") + col("n_tokens"))
      .select(col("start"), col("fin"),
        explode(expr(s"sequence(start div $budget, " +
          s"(fin - 1) div $budget)")).as("seq_id"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_threads"),
        sum(when(col("start") >= col("seq_id") * budget &&
            col("fin") <= (col("seq_id") + 1) * budget, 1L)
          .otherwise(0L)).as("n_whole_threads"),
        sum(least(col("fin"), (col("seq_id") + 1) * budget) -
          greatest(col("start"), col("seq_id") * budget))
          .as("n_tokens_used"))
      .withColumn("fill_ppm",
        expr(s"n_tokens_used * 1000000 div $budget"))
      .orderBy(col("seq_id"))

  /** The straddle-split CTE over the packing `p` — one row per
    * (thread, touched sequence) with the thread's absolute [start,
    * fin) token span, for budget expression `budgetExpr`. ONE
    * definition of the split rule q201/q204/q208 share (`extraSel` /
    * `from` widen it to q208's budget axis). */
  private def straddleSplitSql(budgetExpr: String,
      extraSel: String = "", from: String = "p"): String =
    s"""x AS (SELECT ${extraSel}p.before AS start,
           p.before + p.n_tokens AS fin,
           unnest(generate_series(p.before // $budgetExpr,
             (p.before + p.n_tokens - 1) // $budgetExpr)) AS seq_id
         FROM $from WHERE p.n_tokens > 0)"""

  val sequenceManifestOracle: String =
    s"""WITH $docTokensSql,
       ${packingChainSql("", "")},
       ${straddleSplitSql(PackTokenBudget.toString)}
       SELECT seq_id,
         CAST(count(*) AS BIGINT) AS n_threads,
         CAST(sum(CASE WHEN start >= seq_id * $PackTokenBudget
             AND fin <= (seq_id + 1) * $PackTokenBudget
           THEN 1 ELSE 0 END) AS BIGINT) AS n_whole_threads,
         CAST(sum(least(fin, (seq_id + 1) * $PackTokenBudget) -
           greatest(start, seq_id * $PackTokenBudget)) AS BIGINT)
           AS n_tokens_used,
         CAST(sum(least(fin, (seq_id + 1) * $PackTokenBudget) -
           greatest(start, seq_id * $PackTokenBudget)) AS BIGINT)
           * 1000000 // $PackTokenBudget AS fill_ppm
       FROM x GROUP BY 1 ORDER BY seq_id"""

  /** q202: per-sequence LOSS-MASK accounting — the
    * train-on-assistant-only layout: inside each packed training
    * sequence, how many token positions are trainable (assistant
    * turns) vs masked (user turns). An exporter that packs threads
    * (q200) and emits boundaries (q201) ships exactly this third
    * artifact, because the loss mask is positional: a thread that
    * straddles a budget boundary splits ITS OWN turns across two
    * sequences, so the split must happen at per-turn granularity —
    * turn t of a thread occupies [thread_start + Σ toks(<t),
    * thread_start + Σ toks(≤t)), and each sequence gets the overlap
    * of that span, labeled by the turn's role.
    *
    * Per-turn in-thread offsets come from the q193 idiom (per-thread
    * sorted struct array + higher-order `aggregate` over a slice — no
    * window, no UDF; O(turns²) inside a (user, day)-bounded group);
    * the absolute spans then straddle-split exactly like q201. A
    * 0-token turn occupies no span and is dropped on both engines
    * (Spark `sequence` would otherwise step DOWNWARD on an empty
    * span while generate_series returns empty — the one divergence
    * the filter forecloses; whitespace tokenization never produces 0,
    * so the guard is structural).
    *
    * Scale: the explode is bounded by n_turns + total_tokens/B rows;
    * one shuffle on the seq_id long; thread arrays are (user,
    * day)-bounded. ORDER BY = oracle determinism only. */
  def lossMaskLayout(spark: SparkSession, dir: String,
      budget: Long = PackTokenBudget): DataFrame = {
    val packed = packedMemo(spark, dir, budget)
    val (toks, nDocs) = docTokens(spark, dir)
    val turns = turnEvents(spark, dir)
      .select(col("user_id"), col("day"), col("us"), col("event_id"),
        col("role"), (col("event_id") % nDocs).as("doc_id"))
      .join(toks, Seq("doc_id"))
    lossMaskLayoutOf(packed, turns, budget)
  }

  /** The q202 mask core over any q200-shaped packed frame + a
    * (user_id, day, us, event_id, role, toks) turn frame — ONE
    * definition for the batch query and the streaming snapshot. */
  private[graft] def lossMaskLayoutOf(packed: DataFrame,
      turns: DataFrame, budget: Long): DataFrame = {
    val spans = turns
      .groupBy(col("user_id"), col("day"))
      .agg(expr("array_sort(collect_list(struct(us, event_id, toks, " +
        "role)))").as("arr"))
      .select(col("user_id"), col("day"), col("arr"),
        posexplode(col("arr")).as(Seq("pos", "t")))
      .select(col("user_id"), col("day"),
        col("t.toks").as("toks"), col("t.role").as("role"),
        expr("aggregate(slice(arr, 1, pos), 0L, " +
          "(acc, x) -> acc + x.toks)").as("turn_off"))
      .join(packed.select(col("user_id"), col("day"),
        (col("seq_id") * budget + col("seq_offset")).as("tstart")),
        Seq("user_id", "day"))
      .filter(col("toks") > 0)
      .select((col("tstart") + col("turn_off")).as("start"),
        (col("tstart") + col("turn_off") + col("toks")).as("fin"),
        col("role"))
    spans
      .select(col("start"), col("fin"), col("role"),
        explode(expr(s"sequence(start div $budget, " +
          s"(fin - 1) div $budget)")).as("seq_id"))
      .withColumn("overlap",
        least(col("fin"), (col("seq_id") + 1) * budget) -
          greatest(col("start"), col("seq_id") * budget))
      .groupBy(col("seq_id"))
      .agg(sum(when(col("role") === "assistant", col("overlap"))
          .otherwise(0L)).as("n_trainable"),
        sum(when(col("role") === "user", col("overlap"))
          .otherwise(0L)).as("n_masked"))
      .withColumn("trainable_ppm", expr(
        "n_trainable * 1000000 div (n_trainable + n_masked)"))
      .orderBy(col("seq_id"))
  }

  val lossMaskLayoutOracle: String =
    s"""WITH $docTokensSql,
       ${packingChainSql("", "")},
       w AS (SELECT user_id, day, role, toks,
           CAST(COALESCE(sum(toks) OVER (PARTITION BY user_id, day
             ORDER BY us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS turn_off
         FROM et),
       sp AS (SELECT p.before + w.turn_off AS start,
           p.before + w.turn_off + w.toks AS fin, w.role
         FROM w JOIN p ON p.user_id = w.user_id AND p.day = w.day
         WHERE w.toks > 0),
       x AS (SELECT start, fin, role,
           unnest(generate_series(start // $PackTokenBudget,
             (fin - 1) // $PackTokenBudget)) AS seq_id
         FROM sp)
       SELECT seq_id,
         CAST(sum(CASE WHEN role = 'assistant'
           THEN least(fin, (seq_id + 1) * $PackTokenBudget) -
             greatest(start, seq_id * $PackTokenBudget)
           ELSE 0 END) AS BIGINT) AS n_trainable,
         CAST(sum(CASE WHEN role = 'user'
           THEN least(fin, (seq_id + 1) * $PackTokenBudget) -
             greatest(start, seq_id * $PackTokenBudget)
           ELSE 0 END) AS BIGINT) AS n_masked,
         CAST(sum(CASE WHEN role = 'assistant'
           THEN least(fin, (seq_id + 1) * $PackTokenBudget) -
             greatest(start, seq_id * $PackTokenBudget)
           ELSE 0 END) AS BIGINT) * 1000000
           // CAST(sum(least(fin, (seq_id + 1) * $PackTokenBudget) -
             greatest(start, seq_id * $PackTokenBudget)) AS BIGINT)
           AS trainable_ppm
       FROM x GROUP BY 1 ORDER BY seq_id"""

  /** The q203 churn fixture's "already-exported" subset: turns whose
    * event_id % ChurnHoldoutMod ≠ 0 stand in for the log as of the
    * previous export; the held-out 1/8 are the late arrivals. An
    * id-subset (not a time cutoff) because the fixtures' absolute
    * day range drifts across testdata regenerations. */
  private val ChurnHoldoutMod = 8L

  /** q203: the packing-CHURN audit — the q199 honesty posture applied
    * to delivery: hash-ordered packing (q198/q200) is deterministic
    * but NOT incremental — a late thread inserts at its hash position
    * and shifts every cut point after it, and late turns can flip a
    * thread's validity or weight. An exporter that re-packs on new
    * data must REPORT how many previously-exported sequence
    * assignments moved (training-resume and cache invalidation both
    * hang off that number), not imply stability. One summary row:
    * thread counts of both packings, the overlap, how many common
    * threads changed sequence or only slid within one, and churn in
    * exact ppm of the previous export.
    *
    * Scale: two thread-sized packings (the prior-export side derives
    * from the SAME cores over the filtered turn log — no second
    * corpus scan of text; token counts project once) joined on the
    * thread key; single aggregate row. ORDER BY unnecessary (one
    * row). */
  /** The prior-export packing BOTH churn-family queries compose
    * (q203's compare side, q205's frozen side) — the SAME packing
    * cores over the holdout-filtered turn log, memoized per
    * (dir, budget) now that two queries read it (the shared-artifact
    * convention; it is neither query's registered output).
    * Checkpointed: tokenPackingOf evaluates its thread frame three
    * times (domain guard, prefix-sum branch, n_turns re-join). */
  private def prevPackedMemo(spark: SparkSession, dir: String,
      budget: Long): DataFrame =
    graft.SessionMemo(spark, s"sft-prev-packed:$dir:$budget") {
      val (toks, nDocs) = docTokens(spark, dir)
      val ev = turnEvents(spark, dir)
        .filter(col("event_id") % ChurnHoldoutMod =!= 0)
      tokenPackingOf(conversationThreadsOf(ev).localCheckpoint(),
        ev, toks, nDocs, budget).localCheckpoint(eager = false)
    }

  def packingChurn(spark: SparkSession, dir: String,
      budget: Long = PackTokenBudget): DataFrame = {
    val prev = prevPackedMemo(spark, dir, budget)
      .select(col("user_id"), col("day"),
        col("seq_id").as("seq_prev"),
        col("seq_offset").as("off_prev"))
    val full = packedMemo(spark, dir, budget)
      .select(col("user_id"), col("day"), col("seq_id"),
        col("seq_offset"))
    val joined = prev.join(full, Seq("user_id", "day"), "full_outer")
      .select(col("seq_prev").isNotNull.as("in_prev"),
        col("seq_id").isNotNull.as("in_full"),
        (col("seq_prev") === col("seq_id")).as("same_seq"),
        (col("off_prev") === col("seq_offset")).as("same_off"))
    joined.agg(
        sum(when(col("in_prev"), 1L).otherwise(0L)).as("n_prev"),
        sum(when(col("in_full"), 1L).otherwise(0L)).as("n_full"),
        sum(when(col("in_prev") && col("in_full"), 1L).otherwise(0L))
          .as("n_common"),
        sum(when(col("in_prev") && col("in_full") && !col("same_seq"),
          1L).otherwise(0L)).as("n_moved_seq"),
        sum(when(col("in_prev") && col("in_full") && col("same_seq") &&
          !col("same_off"), 1L).otherwise(0L)).as("n_slid"))
      .withColumn("churn_ppm", expr(
        "CASE WHEN n_prev = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (n_prev - n_common + n_moved_seq + n_slid) * 1000000 " +
          "div n_prev END"))
  }

  /** q205: stability-preserving INCREMENTAL packing — the operator
    * q203's audit demands: hash-ordered re-packing churns ~100% of
    * previously exported sequence assignments on re-export (q203
    * measures 1000000 ppm on the fixture), which invalidates training
    * resume points and packed-sequence caches. `appendPacking`
    * FREEZES the previous export: a thread that was exported (the
    * q203 prev-side convention: the ChurnHoldoutMod-filtered turn
    * log) and is still valid with unchanged content (same turn count
    * AND token weight) keeps its exact (seq_id, seq_offset); every
    * other thread of the current full packing population — new
    * threads, and threads whose late turns changed their weight — is
    * packed into fresh TAIL sequences starting past the sequence
    * holding the last previously exported byte, under the same
    * hash-ordered prefix-sum rule. Residual
    * churn is therefore bounded by the changed/invalidated threads
    * (the spec pins it), not the whole export; the stale copies
    * inside frozen sequences are superseded by the tail re-exports,
    * exactly like a production exporter's append-only delivery.
    *
    * Scale: two thread-sized memoized packings joined on thread keys;
    * the tail re-pack runs [[Curate.prefixSumsOf]] over only the
    * changed/new threads (no domain re-guard needed — the appended
    * set is a subset of the full packing, which already passed its
    * guard); one bounded scalar (the frozen high-water sequence).
    * ORDER BY = oracle determinism only. */
  def appendPacking(spark: SparkSession, dir: String,
      budget: Long = PackTokenBudget): DataFrame =
    appendPackingOf(prevPackedMemo(spark, dir, budget),
      packedMemo(spark, dir, budget), budget)

  /** The q205 core over any two q200-shaped packings — ONE definition
    * for the batch query (both sides memoized) and the streaming
    * snapshot (prev = the SHIPPED export artifact, supplied config;
    * full = the snapshot packing). */
  private[graft] def appendPackingOf(prev: DataFrame, full: DataFrame,
      budget: Long): DataFrame = {
    val frozen = prev.as("p").join(full.as("f"),
        col("p.user_id") === col("f.user_id") &&
          col("p.day") === col("f.day") &&
          col("p.n_turns") === col("f.n_turns") &&
          col("p.n_tokens") === col("f.n_tokens"))
      .select(col("p.user_id").as("user_id"), col("p.day").as("day"),
        col("p.n_turns").as("n_turns"),
        col("p.n_tokens").as("n_tokens"),
        col("p.seq_id").as("seq_id"),
        col("p.seq_offset").as("seq_offset"),
        lit(true).as("frozen"))
    // the tail base: one past the sequence containing the last
    // PREVIOUSLY EXPORTED BYTE. Not max(seq_id)+1 — seq_id is a
    // thread's START sequence, and the hash-order-last thread may
    // straddle boundaries, so its bytes occupy sequences past its
    // seq_id; the last exported byte sits at (Σ prev n_tokens) − 1.
    // And not the last FROZEN sequence — a frozen export's final
    // sequence may hold a since-invalidated thread, and appending
    // into it would overwrite shipped bytes. Rides the DAG as a 1-row
    // broadcast cross join instead of an eager collect —
    // no blocking driver round trip per call; the seq_id arithmetic
    // is the identical exact BIGINT either way.
    val baseDf = prev.agg(sum(col("n_tokens")).as("_ptok"))
      .select(expr(("CASE WHEN coalesce(_ptok, 0) = 0 THEN CAST(0 AS " +
        s"BIGINT) ELSE (_ptok - 1) div $budget + 1 END")).as("_base"))
    val appended = full.join(frozen.select(col("user_id"), col("day")),
      Seq("user_id", "day"), "left_anti")
    val tail = Curate.prefixSumsOf(keyedThreadsOf(appended, "n_tokens"))
      .crossJoin(broadcast(baseDf))
      .select(expr("id div 1000000").as("user_id"),
        (col("id") % 1000000L).as("day"),
        (col("_base") + expr(s"before div $budget")).as("seq_id"),
        (col("before") % budget).as("seq_offset"))
      .join(appended.select(col("user_id"), col("day"),
        col("n_turns"), col("n_tokens")), Seq("user_id", "day"))
      .select(col("user_id"), col("day"), col("n_turns"),
        col("n_tokens"), col("seq_id"), col("seq_offset"),
        lit(false).as("frozen"))
    frozen.unionByName(tail).orderBy(col("user_id"), col("day"))
  }

  val appendPackingOracle: String =
    s"""WITH $docTokensSql,
       ${packingChainSql("a", s" WHERE event_id % $ChurnHoldoutMod <> 0")},
       ${packingChainSql("b", "")},
       fr AS (SELECT pa.user_id, pa.day, pa.n_turns, pa.n_tokens,
           pa.seq_id, pa.seq_offset
         FROM pa JOIN pb ON pb.user_id = pa.user_id
           AND pb.day = pa.day AND pb.n_turns = pa.n_turns
           AND pb.n_tokens = pa.n_tokens),
       base AS (SELECT CASE WHEN COALESCE(sum(n_tokens), 0) = 0 THEN 0
           ELSE (CAST(sum(n_tokens) AS BIGINT) - 1)
             // $PackTokenBudget + 1 END AS b FROM pa),
       ap AS (SELECT pb.user_id, pb.day, pb.n_turns, pb.n_tokens,
           pb.user_id * 1000000 + pb.day AS id,
           md5(CAST(pb.user_id AS VARCHAR) || ':' ||
             CAST(pb.day AS VARCHAR)) AS h
         FROM pb WHERE NOT EXISTS (SELECT 1 FROM fr
           WHERE fr.user_id = pb.user_id AND fr.day = pb.day)),
       tl AS (SELECT user_id, day, n_turns, n_tokens,
           CAST(COALESCE(sum(n_tokens) OVER (ORDER BY h, id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS before
         FROM ap)
       SELECT user_id, day, CAST(n_turns AS INT) AS n_turns, n_tokens,
         seq_id, seq_offset, TRUE AS frozen FROM fr
       UNION ALL
       SELECT user_id, day, CAST(n_turns AS INT) AS n_turns, n_tokens,
         base.b + before // $PackTokenBudget AS seq_id,
         before % $PackTokenBudget AS seq_offset, FALSE AS frozen
       FROM tl CROSS JOIN base
       ORDER BY user_id, day"""

  /** q206: MODEL-TOKENIZER-consistent packing — q200 weighs turns
    * with the whitespace tokenizer (q29's stand-in), but the budget a
    * shipped export must respect is the TRAINING tokenizer's token
    * count: a 512-whitespace-token sequence can overflow a
    * 512-BPE-token window. Same packing rule, same
    * [[Curate.prefixSumsOf]] core, same (user, day) thread gate —
    * only the (doc_id, toks) token table swaps to the trained BPE
    * encoder's counts (q82's merge table, the memoized model read
    * q83/q184 share; [[graft.functions.BpeOps.bpe_encode]] is the
    * same narrow codegen'd map). The oracle instantiates the SAME
    * parameterized packingChainSql with `tk` fed by the q83 replay
    * chain — the packing rule and the tokenizer replay each keep ONE
    * oracle definition.
    *
    * Scale: identical to q200 (token counts are longs projected
    * before the join; the model is a vocab-sized broadcast; no global
    * window). ORDER BY = oracle determinism only. */
  def bpeTokenPacking(spark: SparkSession, dir: String,
      budget: Long = PackTokenBudget): DataFrame = {
    val threads = threadsMemo(spark, dir)
    // the whitespace token table is NOT read — only the turn→text
    // modulus is shared with q200 (same memoized scalar)
    val nDocs = nDocsOf(spark, dir)
    val ranks = Bpe.trainFor(spark, dir, 16)
      .map { case (l, r, _) => (l, r) }
    val toks = Tables(spark, dir, "documents").select(col("doc_id"),
      size(graft.functions.BpeOps.bpe_encode(col("text"), ranks,
        Bpe.EndMark)).cast("long").as("toks"))
    tokenPackingOf(threads, turnEvents(spark, dir), toks, nDocs, budget)
  }

  val bpeTokenPackingOracle: String =
    s"""WITH ${Bpe.encodeChainCtesSql},
       nd AS (SELECT count(*) AS n FROM documents),
       tk AS (SELECT d.doc_id, coalesce(t.t, 0) AS toks
         FROM documents d LEFT JOIN tok t ON t.doc_id = d.doc_id),
       ${packingChainSql("", "")}
       SELECT user_id, day, CAST(n_turns AS INT) AS n_turns, n_tokens,
         seq_id, seq_offset
       FROM p ORDER BY user_id, day"""

  /** q207: the APPEND-MODE churn audit — q203's honesty row for the
    * fixed exporter: under [[appendPacking]], how much of the previous
    * export actually moves. One row: the two populations, the frozen
    * count, the split of re-exports into genuinely new vs
    * weight-changed threads, and the residual churn in exact ppm of
    * the previous export — the number that q203 pins at 1000000 ppm
    * for hash-ordered full re-packing and that append mode bounds by
    * the changed/invalidated threads alone. Pure frame-level
    * accounting: frozen-eligibility is a (n_turns, n_tokens) equality
    * on the two thread frames (appendPackingOf freezes exactly that
    * set — q205's oracle pins the assignments themselves), so no
    * prefix sums run here at all.
    *
    * Scale: two memoized thread-sized packings, one full-outer join on
    * thread keys, one aggregate row. ORDER BY unnecessary (one row). */
  def appendChurn(spark: SparkSession, dir: String,
      budget: Long = PackTokenBudget): DataFrame = {
    val prev = prevPackedMemo(spark, dir, budget)
      .select(col("user_id"), col("day"), lit(true).as("in_prev"),
        col("n_turns").as("pt"), col("n_tokens").as("pn"))
    val full = packedMemo(spark, dir, budget)
      .select(col("user_id"), col("day"), lit(true).as("in_full"),
        col("n_turns").as("ft"), col("n_tokens").as("fn"))
    prev.join(full, Seq("user_id", "day"), "full_outer")
      .agg(
        sum(when(col("in_prev"), 1L).otherwise(0L)).as("n_prev"),
        sum(when(col("in_full"), 1L).otherwise(0L)).as("n_full"),
        sum(when(col("in_prev") && col("in_full") &&
          col("pt") === col("ft") && col("pn") === col("fn"), 1L)
          .otherwise(0L)).as("n_frozen"),
        sum(when(col("in_full") && col("in_prev").isNull, 1L)
          .otherwise(0L)).as("n_new"),
        sum(when(col("in_prev") && col("in_full") &&
          !(col("pt") === col("ft") && col("pn") === col("fn")), 1L)
          .otherwise(0L)).as("n_changed"))
      .withColumn("residual_churn_ppm", expr(
        "CASE WHEN n_prev = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (n_prev - n_frozen) * 1000000 div n_prev END"))
  }

  val appendChurnOracle: String =
    s"""WITH $docTokensSql,
       ${packingChainSql("a", s" WHERE event_id % $ChurnHoldoutMod <> 0")},
       ${packingChainSql("b", "")},
       j AS (SELECT pa.user_id AS pu, pa.n_turns AS pt,
           pa.n_tokens AS pn, pb.user_id AS fu, pb.n_turns AS ft,
           pb.n_tokens AS fn
         FROM pa FULL OUTER JOIN pb
           ON pb.user_id = pa.user_id AND pb.day = pa.day)
       SELECT
         CAST(sum(CASE WHEN pu IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_prev,
         CAST(sum(CASE WHEN fu IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_full,
         CAST(sum(CASE WHEN pu IS NOT NULL AND fu IS NOT NULL
           AND pt = ft AND pn = fn THEN 1 ELSE 0 END) AS BIGINT)
           AS n_frozen,
         CAST(sum(CASE WHEN fu IS NOT NULL AND pu IS NULL
           THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         CAST(sum(CASE WHEN pu IS NOT NULL AND fu IS NOT NULL
           AND NOT (pt = ft AND pn = fn) THEN 1 ELSE 0 END) AS BIGINT)
           AS n_changed,
         CASE WHEN sum(CASE WHEN pu IS NOT NULL THEN 1 ELSE 0 END) = 0
           THEN CAST(0 AS BIGINT)
           ELSE CAST((sum(CASE WHEN pu IS NOT NULL THEN 1 ELSE 0 END)
               - sum(CASE WHEN pu IS NOT NULL AND fu IS NOT NULL
                 AND pt = ft AND pn = fn THEN 1 ELSE 0 END)) AS BIGINT)
             * 1000000 // CAST(sum(CASE WHEN pu IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) END AS residual_churn_ppm
       FROM j"""

  /** Candidate budgets of the REGISTERED q208 sweep. A divisibility
    * chain (each divides the next), so every larger budget's
    * boundaries are a subset of every smaller one's — which makes
    * n_sequences AND n_straddles monotone in the budget (the spec
    * pins the curve; a non-dividing candidate like 384 would break
    * straddle monotonicity without being wrong). */
  private val SweepBudgets = Seq(128L, 256L, 512L, 1024L)

  /** q208: the packing BUDGET SWEEP — the artifact an exporter reads
    * to pick the shipped window size: per candidate budget, how many
    * training sequences the corpus cuts into, how many thread
    * placements straddle a boundary (attention-mask fragmentation),
    * and the overall fill ppm (padding waste, final partial sequence
    * included — the honest number). The key insight making this one
    * pass instead of |budgets| packings: a thread's running-token
    * offset (`before` = seq_id·B + seq_offset of the q200 packing) is
    * BUDGET-INDEPENDENT — the hash order and token weights fix it —
    * so every candidate budget is a different straddle-split of the
    * SAME offsets, and the q200 memo supplies them.
    *
    * Scale: one narrow double-explode bounded by |budgets| ×
    * (n_threads + total_tokens/B) rows off the memoized packing, one
    * 4-group aggregate; no join at all (the budget axis is an
    * exploded literal, not a cross join). ORDER BY = determinism
    * (budget is the key). */
  def packingBudgetSweep(spark: SparkSession, dir: String): DataFrame = {
    val B = PackTokenBudget
    packedMemo(spark, dir, B)
      .filter(col("n_tokens") > 0)
      .select(
        (col("seq_id") * B + col("seq_offset")).as("start"),
        (col("seq_id") * B + col("seq_offset") + col("n_tokens"))
          .as("fin"))
      .withColumn("budget", explode(typedLit(SweepBudgets)))
      .select(col("budget"), col("start"), col("fin"),
        explode(expr("sequence(start div budget, " +
          "(fin - 1) div budget)")).as("seq_id"))
      .groupBy(col("budget"))
      .agg(
        countDistinct(col("seq_id")).as("n_sequences"),
        sum(when(col("start") >= col("seq_id") * col("budget") &&
            col("fin") <= (col("seq_id") + 1) * col("budget"), 0L)
          .otherwise(1L)).as("n_straddles"),
        sum(least(col("fin"), (col("seq_id") + 1) * col("budget")) -
          greatest(col("start"), col("seq_id") * col("budget")))
          .as("_tokens"))
      .withColumn("fill_ppm",
        expr("_tokens * 1000000 div (n_sequences * budget)"))
      .select(col("budget"), col("n_sequences"), col("n_straddles"),
        col("fill_ppm"))
      .orderBy(col("budget"))
  }

  val packingBudgetSweepOracle: String =
    s"""WITH $docTokensSql,
       ${packingChainSql("", "")},
       bl AS (SELECT unnest([${SweepBudgets.mkString(", ")}]) AS b),
       ${straddleSplitSql("bl.b", "bl.b, ", "p CROSS JOIN bl")}
       SELECT CAST(b AS BIGINT) AS budget,
         CAST(count(DISTINCT seq_id) AS BIGINT) AS n_sequences,
         CAST(sum(CASE WHEN start >= seq_id * b
             AND fin <= (seq_id + 1) * b THEN 0 ELSE 1 END) AS BIGINT)
           AS n_straddles,
         CAST(sum(least(fin, (seq_id + 1) * b) -
           greatest(start, seq_id * b)) AS BIGINT) * 1000000
           // (count(DISTINCT seq_id) * b) AS fill_ppm
       FROM x GROUP BY b ORDER BY budget"""

  /** One parameterized copy of the TOKEN-packing oracle chain (CTE
    * suffix + turn predicate) — the q188 two-centroid-set convention
    * widened to the whole delivery family: q200/q201/q202 instantiate
    * it once (empty suffix), q203 twice, so the packing rule (role
    * map, validity gate, hash key, budget cut) has ONE oracle
    * definition that cannot drift between the four gates. Requires
    * `nd` (document count) and `tk` (doc_id, toks) CTEs in scope.
    * Exposes per-turn rows (et), thread rollups (g), and the packing
    * (p: user_id, day, n_turns, n_tokens, before, seq_id,
    * seq_offset). */
  private def packingChainSql(sfx: String, where: String): String =
    s"""e$sfx AS (SELECT user_id, epoch_us(ts) AS us, event_id,
           CASE WHEN event_type IN ('click', 'view', 'signup')
             THEN 'user' ELSE 'assistant' END AS role,
           epoch_us(ts) // $UsPerDay AS day
         FROM events$where),
       et$sfx AS (SELECT e$sfx.user_id, e$sfx.day, e$sfx.us,
           e$sfx.event_id, e$sfx.role, tk.toks
         FROM e$sfx CROSS JOIN nd
           JOIN tk ON tk.doc_id = e$sfx.event_id % nd.n),
       l$sfx AS (SELECT *, lag(role) OVER (PARTITION BY user_id, day
           ORDER BY us, event_id) AS prev FROM e$sfx),
       g$sfx AS (SELECT user_id, day, count(*) AS n_turns,
           sum(CASE WHEN role = prev THEN 1 ELSE 0 END) AS viol,
           string_agg(role, ' ' ORDER BY us, event_id) AS seq
         FROM l$sfx GROUP BY 1, 2),
       tt$sfx AS (SELECT user_id, day,
           CAST(sum(toks) AS BIGINT) AS n_tokens
         FROM et$sfx GROUP BY 1, 2),
       v$sfx AS (SELECT g$sfx.user_id, g$sfx.day, g$sfx.n_turns,
           tt$sfx.n_tokens,
           g$sfx.user_id * 1000000 + g$sfx.day AS id,
           md5(CAST(g$sfx.user_id AS VARCHAR) || ':' ||
             CAST(g$sfx.day AS VARCHAR)) AS h
         FROM g$sfx JOIN tt$sfx ON tt$sfx.user_id = g$sfx.user_id
           AND tt$sfx.day = g$sfx.day
         WHERE g$sfx.viol = 0 AND g$sfx.seq LIKE 'user%'),
       p$sfx AS (SELECT user_id, day, n_turns, n_tokens,
           CAST(COALESCE(sum(n_tokens) OVER (ORDER BY h, id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS before,
           CAST(COALESCE(sum(n_tokens) OVER (ORDER BY h, id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) // $PackTokenBudget AS seq_id,
           CAST(COALESCE(sum(n_tokens) OVER (ORDER BY h, id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) % $PackTokenBudget AS seq_offset
         FROM v$sfx)"""

  /** The shared `nd` + `tk` prelude every delivery oracle opens with. */
  private def docTokensSql: String =
    """nd AS (SELECT count(*) AS n FROM documents),
       tk AS (SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
         FROM documents)"""

  val packingChurnOracle: String =
    s"""WITH $docTokensSql,
       ${packingChainSql("a", s" WHERE event_id % $ChurnHoldoutMod <> 0")},
       ${packingChainSql("b", "")},
       j AS (SELECT pa.seq_id AS seq_prev, pa.seq_offset AS off_prev,
           pb.seq_id, pb.seq_offset
         FROM pa FULL OUTER JOIN pb
           ON pb.user_id = pa.user_id AND pb.day = pa.day)
       SELECT
         CAST(sum(CASE WHEN seq_prev IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_prev,
         CAST(sum(CASE WHEN seq_id IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_full,
         CAST(sum(CASE WHEN seq_prev IS NOT NULL AND seq_id IS NOT NULL
           THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
         CAST(sum(CASE WHEN seq_prev IS NOT NULL AND seq_id IS NOT NULL
           AND seq_prev <> seq_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_moved_seq,
         CAST(sum(CASE WHEN seq_prev IS NOT NULL AND seq_id IS NOT NULL
           AND seq_prev = seq_id AND off_prev <> seq_offset
           THEN 1 ELSE 0 END) AS BIGINT) AS n_slid,
         CASE WHEN sum(CASE WHEN seq_prev IS NOT NULL THEN 1 ELSE 0
             END) = 0 THEN CAST(0 AS BIGINT)
           ELSE CAST((sum(CASE WHEN seq_prev IS NOT NULL THEN 1 ELSE 0
               END) - sum(CASE WHEN seq_prev IS NOT NULL AND seq_id IS
               NOT NULL THEN 1 ELSE 0 END) + sum(CASE WHEN seq_prev IS
               NOT NULL AND seq_id IS NOT NULL AND seq_prev <> seq_id
               THEN 1 ELSE 0 END) + sum(CASE WHEN seq_prev IS NOT NULL
               AND seq_id IS NOT NULL AND seq_prev = seq_id AND
               off_prev <> seq_offset THEN 1 ELSE 0 END)) AS BIGINT)
             * 1000000 // CAST(sum(CASE WHEN seq_prev IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) END AS churn_ppm
       FROM j"""

  /** q204: the delivery RELEASE CARD — the one-row dataset card an
    * SFT exporter ships next to the packed artifact: thread and
    * sequence counts, total tokens, overall fill (padding waste),
    * overall trainable fraction, and how many threads straddle a
    * boundary. The per-sequence forms are q201/q202; this is the
    * rollup a release page quotes (the q81/q196 card pattern applied
    * to delivery). Composes the memoized q200 packing and the q201/
    * q202 cores — one definition each, nothing re-derived.
    *
    * fill_ppm is computed over ALL sequences including the final
    * partial one (the honest number — excluding it would overstate
    * fill exactly when the export is small). ORDER BY unnecessary
    * (one row). */
  def deliveryReleaseCard(spark: SparkSession, dir: String,
      budget: Long = PackTokenBudget): DataFrame = {
    val packed = packedMemo(spark, dir, budget)
    val manifest = sequenceManifestOf(packed, budget)
    val (toks, nDocs) = docTokens(spark, dir)
    val turns = turnEvents(spark, dir)
      .select(col("user_id"), col("day"), col("us"), col("event_id"),
        col("role"), (col("event_id") % nDocs).as("doc_id"))
      .join(toks, Seq("doc_id"))
    val mask = lossMaskLayoutOf(packed, turns, budget)
    deliveryReleaseCardOf(packed, manifest, mask, budget)
  }

  /** The q204 rollup over q200/q201/q202-shaped frames — factored so
    * the empty-packing guard is testable without a zero-thread table
    * on disk. */
  private[graft] def deliveryReleaseCardOf(packed: DataFrame,
      manifest: DataFrame, mask: DataFrame, budget: Long): DataFrame = {
    val threadAgg = packed.agg(
      count(lit(1)).as("n_threads"),
      sum(col("n_tokens")).as("total_tokens"))
    val seqAgg = manifest.agg(
      count(lit(1)).as("n_sequences"),
      sum(col("n_threads") - col("n_whole_threads")).as("n_straddles"))
    val maskAgg = mask.agg(
      sum(col("n_trainable")).as("sum_trainable"),
      sum(col("n_trainable") + col("n_masked")).as("sum_positions"))
    threadAgg.crossJoin(seqAgg).crossJoin(maskAgg)
      .select(col("n_threads"), col("n_sequences"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        coalesce(col("n_straddles"), lit(0L)).as("n_straddles"),
        // empty-packing guard (the q203 churn_ppm convention): on a
        // fixture with zero valid threads Spark `div` yields NULL
        // while DuckDB `// 0` raises — both ppm columns pin 0 instead,
        // on BOTH engines
        expr(s"CASE WHEN n_sequences = 0 THEN CAST(0 AS BIGINT) " +
          s"ELSE COALESCE(total_tokens, 0) * 1000000 " +
          s"div (n_sequences * $budget) END").as("fill_ppm"),
        expr("CASE WHEN sum_positions IS NULL OR sum_positions = 0 " +
          "THEN CAST(0 AS BIGINT) " +
          "ELSE sum_trainable * 1000000 div sum_positions END")
          .as("trainable_ppm"))
  }

  val deliveryReleaseCardOracle: String =
    s"""WITH $docTokensSql,
       ${packingChainSql("", "")},
       ${straddleSplitSql(PackTokenBudget.toString)},
       m AS (SELECT seq_id,
           sum(CASE WHEN start >= seq_id * $PackTokenBudget
             AND fin <= (seq_id + 1) * $PackTokenBudget
             THEN 0 ELSE 1 END) AS n_straddles
         FROM x GROUP BY 1),
       w AS (SELECT user_id, day, role, toks,
           CAST(COALESCE(sum(toks) OVER (PARTITION BY user_id, day
             ORDER BY us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS turn_off
         FROM et),
       sp AS (SELECT w.role, p.before + w.turn_off AS start,
           p.before + w.turn_off + w.toks AS fin
         FROM w JOIN p ON p.user_id = w.user_id AND p.day = w.day
         WHERE w.toks > 0),
       y AS (SELECT role, start, fin,
           unnest(generate_series(start // $PackTokenBudget,
             (fin - 1) // $PackTokenBudget)) AS seq_id
         FROM sp),
       ka AS (SELECT
           CAST(sum(CASE WHEN role = 'assistant'
             THEN least(fin, (seq_id + 1) * $PackTokenBudget) -
               greatest(start, seq_id * $PackTokenBudget)
             ELSE 0 END) AS BIGINT) AS sum_trainable,
           CAST(sum(least(fin, (seq_id + 1) * $PackTokenBudget) -
             greatest(start, seq_id * $PackTokenBudget)) AS BIGINT)
             AS sum_positions
         FROM y),
       ta AS (SELECT CAST(count(*) AS BIGINT) AS n_threads,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM p),
       sa AS (SELECT CAST(count(*) AS BIGINT) AS n_sequences,
           CAST(sum(n_straddles) AS BIGINT) AS n_straddles FROM m)
       SELECT ta.n_threads, sa.n_sequences,
         COALESCE(ta.total_tokens, 0) AS total_tokens,
         COALESCE(sa.n_straddles, 0) AS n_straddles,
         CASE WHEN sa.n_sequences = 0 THEN CAST(0 AS BIGINT)
           ELSE COALESCE(ta.total_tokens, 0) * 1000000
             // (sa.n_sequences * $PackTokenBudget) END AS fill_ppm,
         CASE WHEN ka.sum_positions IS NULL OR ka.sum_positions = 0
           THEN CAST(0 AS BIGINT)
           ELSE ka.sum_trainable * 1000000 // ka.sum_positions END
           AS trainable_ppm
       FROM ta CROSS JOIN sa CROSS JOIN ka"""

  /** q197: per-prompt response dedup — the rejection-sampling hygiene
    * step BEFORE pairing: a sampler that returns the same response
    * twice (same type, same reward — the content fingerprint here is
    * md5 of type:reward-cents; a real pipeline hashes the response
    * text) must not inflate the preference pool or let a duplicate
    * become both chosen and rejected. Keep-first under (us, event_id)
    * — the earliest observation is canonical — with the copy count
    * kept for the sampler-degeneracy report (a prompt whose pool
    * collapses to one fingerprint is a temperature bug, not data).
    *
    * Scale: one groupBy on (prompt, fingerprint) with packed-decimal
    * min + count aggregates — HashAggregate, map-side combinable, one
    * row per distinct response shuffled, no window, no struct buffer.
    * ORDER BY = oracle determinism only. */
  def responseDedup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("user_id").as("prompt_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        col("event_type"),
        // integer reward cents: double→string rendering differs
        // across engines, integer arithmetic does not
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("response_fp",
        md5(concat(col("event_type"), lit(":"),
          col("cents").cast("string")).cast("binary")))
      // keep-first under (us, event_id) as ONE packed-decimal key
      // ([[graft.functions.DecimalPack]] — a struct buffer would
      // demote the fold to SortAggregate); epoch micros (~1.7·10¹⁸)
      // keep the pack below 1.6·10³⁷ < 10³⁸
      .withColumn("fk",
        graft.functions.DecimalPack.packAsc("us", "event_id"))
      .groupBy(col("prompt_id"), col("response_fp"))
      .agg(min(col("fk")).as("firstk"), count(lit(1)).as("n_copies"),
        min(col("us")).as("_usmin"), min(col("event_id")).as("_imin"))
      .filter(assert_true(
        col("_usmin").isNotNull && col("_usmin") >= 0 &&
          col("_imin").isNotNull && col("_imin") >= 0,
        lit("responseDedup: NULL or negative timestamp / event_id — " +
          "outside the packed keep-first key's domain")).isNull)
      .select(col("prompt_id"), col("response_fp"),
        graft.functions.DecimalPack.unpackLoAsc("firstk")
          .as("keep_event_id"),
        col("n_copies"))
      .orderBy(col("prompt_id"), col("response_fp"))

  val responseDedupOracle: String =
    """WITH e AS (SELECT user_id AS prompt_id, event_id,
         epoch_us(ts) AS us, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
       FROM events),
       f AS (SELECT prompt_id, event_id, us,
           md5(event_type || ':' || CAST(cents AS VARCHAR))
             AS response_fp
         FROM e),
       r AS (SELECT prompt_id, response_fp, event_id,
           row_number() OVER (PARTITION BY prompt_id, response_fp
             ORDER BY us, event_id) AS rn,
           count(*) OVER (PARTITION BY prompt_id, response_fp) AS n
         FROM f)
       SELECT prompt_id, response_fp, event_id AS keep_event_id,
         CAST(n AS BIGINT) AS n_copies
       FROM r WHERE rn = 1
       ORDER BY prompt_id, response_fp"""

  /** q196: the composed SFT release card — per user, thread inventory
    * (total and VALID: zero alternation violations AND opens with a
    * user turn) joined with the preference pair; only users
    * contributing at least one valid thread and a pair appear. The
    * per-user row an SFT+preference release manifest carries.
    *
    * Scale: composes the sort-free forms — two aggregates (user-sized
    * frames) and one join on user_id longs. ORDER BY = oracle
    * determinism only. */
  def sftReleaseCard(spark: SparkSession, dir: String): DataFrame = {
    // the thread and pair frames are shared artifacts (the q60
    // convention): q193/q194 derive fresh, the composed card reads
    // the memos
    val threads = threadsMemo(spark, dir)
    val pairs = graft.SessionMemo(spark, s"sft-pairs:$dir") {
      preferencePairsOf(spark, dir).localCheckpoint()
    }
    releaseCardOf(threads, pairs).orderBy(col("user_id"))
  }

  /** The card rollup over thread + pair frames — shared by the batch
    * q196 and the streaming snapshot. */
  private[graft] def releaseCardOf(threads: DataFrame,
      pairs: DataFrame): DataFrame = {
    val t = threads
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("int").as("n_threads"),
        sum(when(col("n_role_violations") === 0 &&
          col("starts_with_user"), 1).otherwise(0)).cast("int")
          .as("n_valid_threads"))
      .filter(col("n_valid_threads") >= 1)
    t.join(pairs, t("user_id") === col("prompt_id"))
      .select(col("user_id"), col("n_threads"), col("n_valid_threads"),
        col("chosen_id"), col("rejected_id"), col("margin"))
  }

  val sftReleaseCardOracle: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
           event_type, value,
           CASE WHEN event_type IN ('click', 'view', 'signup')
             THEN 'user' ELSE 'assistant' END AS role,
           epoch_us(ts) // $UsPerDay AS day
         FROM events),
       l AS (SELECT *, lag(role) OVER (PARTITION BY user_id, day
           ORDER BY us, event_id) AS prev FROM e),
       g AS (SELECT user_id, day,
           sum(CASE WHEN role = prev THEN 1 ELSE 0 END) AS viol,
           string_agg(role, ' ' ORDER BY us, event_id) AS seq
         FROM l GROUP BY 1, 2),
       t AS (SELECT user_id, CAST(count(*) AS INT) AS n_threads,
           CAST(sum(CASE WHEN viol = 0 AND seq LIKE 'user%' THEN 1
             ELSE 0 END) AS INT) AS n_valid_threads
         FROM g GROUP BY 1),
       r AS (SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id
             ORDER BY value DESC, event_id) AS rc,
           row_number() OVER (PARTITION BY user_id
             ORDER BY value, event_id DESC) AS rr,
           count(*) OVER (PARTITION BY user_id) AS n
         FROM e),
       c AS (SELECT user_id, event_id AS chosen_id,
           value AS chosen_value, n FROM r WHERE rc = 1),
       j AS (SELECT user_id, event_id AS rejected_id,
           value AS rejected_value FROM r WHERE rr = 1)
       SELECT t.user_id, n_threads, n_valid_threads, chosen_id,
         rejected_id,
         round(chosen_value - rejected_value, 2) AS margin
       FROM t JOIN c ON c.user_id = t.user_id
         JOIN j ON j.user_id = t.user_id
       WHERE n_valid_threads >= 1 AND n >= 2
       ORDER BY t.user_id"""
}
