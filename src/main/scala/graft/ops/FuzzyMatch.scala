package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Fuzzy entity matching via deletion-neighborhood blocking (the
  * SymSpell trick, Garbe 2012 — public domain algorithm): two strings
  * are within Levenshtein distance 1 iff their deletion neighborhoods
  * ({self} ∪ every one-character deletion) intersect —
  *
  *   - identical:      share self;
  *   - substitution:   deleting the differing position from each side
  *                     yields the same string;
  *   - insert/delete:  the shorter string IS one of the longer's
  *                     deletions.
  *
  * So an edit-distance-≤1 join becomes: explode both sides into
  * (variant → id), shuffle equi-join on the variant string, distinct
  * the candidate id pairs, then verify with one levenshtein call per
  * candidate (the neighborhood test over-generates, e.g. a
  * transposition "abcd"/"bacd" shares variants at distance 2 — the
  * verify filter is what makes the result exact, same
  * generate-then-verify shape as the PPJoin path in
  * [[graft.ext.Dedup]]).
  *
  * Scale: n·(len+1) variant rows per side — linear fanout, never
  * all-pairs; candidates are confined to exact variant-key buckets.
  * The skew story is the same as every banded join in this repo: a
  * variant shared by m left × k right rows emits m·k candidates, so a
  * degenerate key space (millions of near-identical short strings)
  * wants the [[graft.ext.BucketCap]] treatment; for dimension-table
  * entity resolution the buckets are tiny.
  */
object FuzzyMatch {

  /** All Levenshtein-distance-≤1 pairs between `left` and `right`.
    * Output: (lKey, rKey, dist). Null or empty names never match.
    *
    * The whole neighborhood pipeline runs over DISTINCT name strings —
    * duplicate names (the common case in entity resolution: one dirty
    * string recurring across millions of records) cost nothing in the
    * generate/verify stages; keys re-attach by name equality at the
    * end, so m left × k right duplicates of a matched name pair
    * surface only in the final m·k output expansion, which is the
    * answer's own size. Verification uses the bounded
    * `levenshtein(l, r, 1)` form — O(len) early-exit bands instead of
    * the O(len²) full DP table. */
  def editDistance1Join(left: DataFrame, lKey: String, lName: String,
      right: DataFrame, rKey: String, rName: String): DataFrame = {
    def named(df: DataFrame, name: String): DataFrame =
      df.filter(col(name).isNotNull && length(col(name)) > 0)
    // Size-gated broadcast for the two key re-attach joins (guide
    // §3.1): their build side is the caller's INPUT frame
    // projected to (key, name) — for dimension-sized entity resolution
    // (the q94 shape) broadcasting it turns both re-attaches into
    // BroadcastHashJoins and removes two shuffle exchanges plus their
    // sequential AQE stages; for arbitrary large frames the gate reads
    // the optimizer's own size estimate against the session's
    // autoBroadcastJoinThreshold and leaves the sort-merge plan alone
    // — no constant tuned to either profile, and estimates for a
    // scan+filter+project are the planner's file-size numbers, the
    // same evidence AQE would use one stage later. The gate is
    // plan-time (no job). Unlike Spark's own auto-broadcast pick, an
    // explicit broadcast hint is never demoted by AQE at runtime: a
    // badly understated estimate on a large input force-broadcasts it
    // (driver and executor memory), it does not fall back to sort-merge.
    // `graft.fuzzybcast=off` (session conf) is the production safety
    // valve for that case: it restores the unhinted plan.
    def bcastIfDim(df: DataFrame): DataFrame = {
      val thresh =
        df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      if (df.sparkSession.conf.get("graft.fuzzybcast", "on") != "off" &&
          thresh > 0 &&
          df.queryExecution.optimizedPlan.stats.sizeInBytes <=
            BigInt(thresh)) broadcast(df)
      else df
    }
    // variants ship as 64-bit hashes, not strings: the candidate join
    // only needs EQUALITY of variants, and the levenshtein verify below
    // already rejects any false candidate — so a hash collision between
    // unrelated variants costs one extra verified-and-discarded pair
    // (~|variants|²/2⁶⁴), while every shuffled variant row shrinks from
    // a ~20-char string to one long (guide §2.3 "shuffle keys and
    // metadata instead of payloads")
    // Spread the post-distinct compute (guide §8 "use what
    // you know that the optimizer does not"): the variant explode and
    // the levenshtein verify both run ABOVE the distinct's exchange,
    // and for a dimension-sized name table AQE correctly coalesces
    // that tiny shuffle to one partition — correct for shuffle cost,
    // disastrous for the ~n·len variant generation + bounded-DP verify
    // that follow, which then run on ONE core (q94 at sf0.1: 1.46 s of
    // summed executor time over single-task stages). AQE has no model
    // of downstream per-row compute; this operator does. The explicit
    // repartition on the name key is taken ONLY when the distinct
    // input is estimated dimension-sized (≤ autoBroadcastJoinThreshold
    // — the exchange then costs ~0.05-0.15 s, r16-measured), so at
    // corpus scale, where AQE keeps the natural parallelism anyway,
    // the plan is unchanged. Partition count derives from the
    // session's core count — nothing tuned to either profile.
    // `graft.fuzzyspread=off` (session conf) is a production safety
    // valve: it drops the pin should the size estimate misjudge a
    // large input as dimension-sized.
    // The pin sits BELOW the distinct: a user-specified partition
    // count is exempt from AQE partition coalescing AND satisfies the
    // distinct's clustering requirement, so the distinct plans no
    // exchange of its own — same shuffle count as before, but the
    // post-distinct stages keep their parallelism. (A repartition
    // ABOVE the distinct with the same key and count is elided as
    // redundant at planning, and the distinct's own ENSURE_REQUIREMENTS
    // exchange is then coalesced to one partition at runtime —
    // verified on the dumped plans.)
    def spreadIfDim(base: DataFrame, name: String): DataFrame = {
      val sess = base.sparkSession
      val thresh = sess.sessionState.conf.autoBroadcastJoinThreshold
      if (sess.conf.get("graft.fuzzyspread", "on") != "off" &&
          thresh > 0 &&
          base.queryExecution.optimizedPlan.stats.sizeInBytes <=
            BigInt(thresh))
        base.repartition(sess.sparkContext.defaultParallelism, col(name))
      else base
    }
    def variants(df: DataFrame, name: String): DataFrame =
      spreadIfDim(named(df, name).select(col(name)), name).distinct()
        .select(col(name),
          explode(array_union(
            array(xxhash64(col(name))),
            expr(s"transform(sequence(1, length($name)), i -> " +
              s"xxhash64(concat(substring($name, 1, i - 1), " +
              s"substring($name, i + 1, length($name)))))")))
          .alias("_variant"))
    val lv = variants(left, lName)
    val rv = variants(right, rName)
      .withColumnRenamed("_variant", "_rvariant")
    val matchedNames = lv.join(rv, col("_variant") === col("_rvariant"))
      .select(col(lName), col(rName))
      .distinct()
      .withColumn("dist", levenshtein(col(lName), col(rName), 1))
      .filter(col("dist") >= 0) // bounded form returns -1 past the threshold
    matchedNames
      .join(bcastIfDim(named(left, lName).select(col(lKey), col(lName))),
        lName)
      .join(bcastIfDim(named(right, rName).select(col(rKey), col(rName))),
        rName)
      .select(col(lKey), col(rKey), col("dist"))
  }

  /** q94: entity resolution on the customer dimension — every third
    * customer's name is deterministically corrupted (one digit
    * deleted) and matched back against the clean dimension. A
    * 17-char corruption can re-expand to many 18-char names (any
    * single-digit insertion that lands on an existing key), so the
    * expected output is a candidate SET per corrupt row, exactly what
    * a resolution pipeline consumes. Oracle verifies against DuckDB's
    * quadratic levenshtein join — all-pairs is the oracle's cost, not
    * ours. */
  def q94FuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
    val corrupted = cust.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("corrupt_key"),
        expr("concat(substring(c_name, 1, cast(9 + c_custkey % 9 as int)), " +
          "substring(c_name, cast(11 + c_custkey % 9 as int), " +
          "length(c_name)))").as("cname"))
    val clean = cust.select(col("c_custkey").as("match_key"), col("c_name"))
    editDistance1Join(corrupted, "corrupt_key", "cname",
        clean, "match_key", "c_name")
      .orderBy(col("corrupt_key"), col("match_key"))
  }

  val q94Oracle: String =
    """WITH corr AS (SELECT c_custkey AS corrupt_key,
         substr(c_name, 1, CAST(9 + c_custkey % 9 AS INT)) ||
         substr(c_name, CAST(11 + c_custkey % 9 AS INT)) AS cname
       FROM customer WHERE c_custkey % 3 = 0)
       SELECT corr.corrupt_key, c.c_custkey AS match_key,
         CAST(levenshtein(corr.cname, c.c_name) AS INT) AS dist
       FROM corr JOIN customer c
         ON abs(length(corr.cname) - length(c.c_name)) <= 1
         AND levenshtein(corr.cname, c.c_name) <= 1
       ORDER BY corrupt_key, match_key"""
}
