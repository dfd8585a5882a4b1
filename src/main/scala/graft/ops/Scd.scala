package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Dimension-history operators: SCD Type-2 interval build and CDC
  * changelog compaction.
  *
  * The reference's dimension surface is insert-only (reference
  * database_manager.py:138-169 `insert into dim_*`) with the ledger
  * carrying the only notion of row history (open/close status,
  * database_manager.py:171-193). A warehouse user arriving from that
  * workflow eventually needs the two classic history shapes the
  * reference never grew:
  *
  *   - [[scd2Of]] — turn an event-stamped changelog into Type-2
  *     validity intervals (version / valid_from / valid_to /
  *     is_current), collapsing runs of unchanged attribute values;
  *   - [[applyChangelog]] — compact an (op, version)-stamped CDC feed
  *     (upserts + delete tombstones) to latest state per key, the read
  *     side of a Debezium/ledger-style feed and the set-semantics
  *     sibling of [[Merge.mergeView]] (which merges ONE source batch;
  *     this folds an arbitrarily long multi-version history in one
  *     aggregation).
  */
object Scd {

  /** Build an SCD Type-2 history from an event-stamped changelog.
    *
    * Rows are ordered per `key` by (`ts`, `tieBreak`); a new version
    * opens whenever any column in `attrs` differs from the previous
    * row's value (null-safe comparison), and closes at the next
    * version's `ts`. The open version has `valid_to` null and
    * `is_current` = 1.
    *
    * `tieBreak` must be unique per key (an event/sequence id) so the
    * ordering — and therefore which row "wins" a same-timestamp change
    * — is deterministic.
    *
    * Scale: one shuffle on `key`, then two per-key window passes over
    * change rows only. Per-key cardinality is the change count of one
    * dimension entity — bounded and small by construction (a key with
    * unbounded versions is a modelling bug, not a data-size property),
    * so the window never sees a fact-sized partition. No driver
    * materialization.
    */
  def scd2Of(changelog: DataFrame, key: String, ts: String,
      tieBreak: String, attrs: Seq[String]): DataFrame = {
    require(attrs.nonEmpty, "need at least one tracked attribute")
    val ord = Window.partitionBy(col(key)).orderBy(col(ts), col(tieBreak))
    // a change row = first row of its key, or any tracked attribute
    // differs (null-safely) from the previous row
    val changed = attrs
      .map(a => !(col(a) <=> lag(col(a), 1).over(ord)))
      .reduce(_ || _) || lag(col(tieBreak), 1).over(ord).isNull
    val changes = changelog
      .select((key +: ts +: tieBreak +: attrs).distinct.map(col): _*)
      .withColumn("_chg", changed)
      .filter(col("_chg"))
    val vw = Window.partitionBy(col(key)).orderBy(col(ts), col(tieBreak))
    changes.select(
      (col(key) +:
        row_number().over(vw).as("version") +:
        attrs.map(col) :+
        col(ts).as("valid_from") :+
        lead(col(ts), 1).over(vw).as("valid_to") :+
        // the change row's tiebreak, kept so a stored history can be
        // re-collapsed deterministically ([[applyScd2Increment]])
        col(tieBreak).as("src_seq")): _*)
      .withColumn("is_current",
        when(col("valid_to").isNull, lit(1)).otherwise(lit(0)))
  }

  /** q92: SCD2 over the orders table — per-customer order-status
    * history, versioned by (o_orderdate, o_orderkey). Dates rendered
    * as 'yyyy-MM-dd' strings so the hash is engine-portable. */
  def q92Scd2(spark: SparkSession, dir: String): DataFrame = {
    val hist = scd2Of(Tables(spark, dir, "orders"),
      key = "o_custkey", ts = "o_orderdate", tieBreak = "o_orderkey",
      attrs = Seq("o_orderstatus"))
    hist.select(col("o_custkey"), col("version"),
        col("o_orderstatus").as("status"),
        date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"),
        col("is_current"))
      .orderBy(col("o_custkey"), col("version"))
  }

  val q92Oracle: String =
    """WITH o AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         lag(o_orderstatus) OVER
           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
       FROM orders),
       ch AS (SELECT * FROM o WHERE prev IS NULL OR prev <> o_orderstatus),
       v AS (SELECT o_custkey, o_orderstatus AS status,
         CAST(row_number() OVER w AS INT) AS version,
         strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
         strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS valid_to
       FROM ch WINDOW w AS
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
       SELECT o_custkey, version, status, valid_from, valid_to,
         CAST(valid_to IS NULL AS INT) AS is_current
       FROM v ORDER BY o_custkey, version"""

  /** Incrementally fold a batch of changelog rows into a stored SCD2
    * history table (the production shape: rebuilding a 100 TB history
    * per feed batch is a non-starter — this rewrites only the hash
    * buckets holding touched keys).
    *
    * Table layout: [[scd2Of]]'s output columns + `bucket` =
    * `pmod(hash(key), nBuckets)` as the partition column, so "the
    * history of these keys" is a partition-pruned read.
    *
    * Per batch:
    *   1. affected buckets = distinct bucket values of batch keys
    *      (bounded collect: bucket VALUES, ≤ nBuckets);
    *   2. read ONLY those buckets; touched keys' stored versions are
    *      re-expanded into change rows (valid_from + src_seq + attrs)
    *      and re-collapsed TOGETHER with the batch rows via [[scd2Of]]
    *      — per-key histories are change-count-sized, so the rebuild
    *      is entity-local work, and re-running the same batch is
    *      idempotent by construction;
    *   3. [[Rewrite.partitions]] of the affected buckets: untouched
    *      keys in those buckets are carried over unchanged, untouched
    *      buckets are left byte-identical.
    *
    * Late-data contract: a late row older than the latest RECORDED
    * change re-collapses against the recorded change rows only — rows
    * that were dropped as non-changes are gone, so a late row landing
    * between a recorded change and a dropped same-valued row yields
    * one version where a from-scratch rebuild of the raw feed would
    * yield two (the standard SCD2-maintenance limitation: history
    * tables store changes, not the full feed).
    */
  def applyScd2Increment(spark: SparkSession, dir: String,
      batch: DataFrame, key: String, ts: String, tieBreak: String,
      attrs: Seq[String], nBuckets: Int = 64): Unit = {
    if (batch.isEmpty) return
    val bucket = pmod(hash(col(key)), lit(nBuckets))
    val existing =
      try Some(spark.read.parquet(dir)) catch {
        case _: org.apache.spark.sql.AnalysisException => None
      }
    existing match {
      case None =>
        scd2Of(batch, key, ts, tieBreak, attrs)
          .withColumn("bucket", bucket)
          .write.mode("overwrite").partitionBy("bucket").parquet(dir)
      case Some(history) =>
        val keys = batch.select(col(key)).distinct().localCheckpoint(eager = false)
        val affected = Rewrite.valuesOf(keys.withColumn("bucket", bucket), "bucket")
        val slice = Rewrite.slice(history, "bucket", affected)
        val touched = slice.join(keys, Seq(key), "left_semi")
        val carried = slice.join(keys, Seq(key), "left_anti")
        // stored versions -> change rows, re-collapsed with the batch
        val rebuilt = scd2Of(
          touched.select((col(key) +: col("valid_from").as(ts) +:
              col("src_seq").as(tieBreak) +: attrs.map(col)): _*)
            .unionByName(
              batch.select((col(key) +: col(ts) +: col(tieBreak) +:
                attrs.map(col)): _*)),
          key, ts, tieBreak, attrs)
        Rewrite.partitions(spark, dir, "bucket", affected,
          carried.unionByName(rebuilt.withColumn("bucket", bucket)))
    }
  }

  /** Compact a CDC changelog (insert/update rows + 'D' delete
    * tombstones) to latest state per key: the row with the highest
    * `version` wins; if that row is a tombstone the key is absent from
    * the result. `version` must be unique per key (a CDC offset / LSN),
    * otherwise "latest" is not well-defined.
    *
    * Scale: ONE aggregation — `max_by` is map-side combinable, so each
    * partition reduces its slice of a key's history to a single
    * candidate before the shuffle; only one (key → winner) row per
    * partition crosses the wire, never the history. Plan note: string
    * payload columns give `max_by` an immutable buffer field, so Spark
    * plans SortAggregate (partial + final), not HashAggregate — the
    * in-partition sort is the CPU price for resolving string payloads
    * in one pass; the shuffle volume is identical, and the alternative
    * (max-version hash agg + self-join on the key) would re-shuffle
    * the whole changelog instead of per-partition winners. Compare
    * [[Merge.mergeView]]'s full-outer join, which needs the target
    * present; this folds the feed alone, e.g. to bootstrap a table
    * from a complete changelog or to pre-compact a day's feed before a
    * single merge. No windows: a row_number()-then-filter plan would
    * sort each key's history; max_by keeps it O(1) state per key.
    */
  def applyChangelog(changelog: DataFrame, keys: Seq[String],
      version: String, op: String, payload: Seq[String]): DataFrame =
    applyChangelogKeepOps(changelog, keys, version, op, payload)
      .filter(col(op) =!= "D").drop(op)

  /** [[applyChangelog]] minus the tombstone drop: latest row per key
    * with its winning op code kept (column `op`, after `last_version`).
    * This is the shape a MERGE consumer needs — see
    * [[graft.streaming.StreamingCdc]], which routes 'D' winners to
    * WHEN-MATCHED-DELETE instead of discarding them. */
  def applyChangelogKeepOps(changelog: DataFrame, keys: Seq[String],
      version: String, op: String, payload: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    // DELIBERATE SortAggregate: max_by with STRING payload values
    // carries immutable buffer types, so Spark demotes this fold from
    // HashAggregate (the DecimalPack trick used elsewhere only packs
    // integer orders/values). The alternative — max(version) then a
    // join-back on (key, version) — reads the changelog twice and
    // adds a shuffle join; the partial SortAggregate stays one pass
    // with map-side combine and O(1) state per key, which wins
    // whenever the scan dominates (the 100 TB posture). Same
    // documented tradeoff as Profile's string min/max pass.
    //
    // The winner ordering is TOTAL: the version alone is the contract,
    // but a feed that violates it — two rows tying on `version` with
    // DIFFERENT payloads (sf0.001 has exactly one such pair, l_orderkey
    // 1294) — would make the winner partition-order-dependent and
    // cross-engine divergent. Ties break lexicographically on (op,
    // payload...), ONE shared ordering struct for every max_by so the
    // winning columns always come from the SAME row. The q96 oracle
    // pins the identical total order via a window.
    val ord = struct((version +: op +: payload).map(col): _*)
    changelog.groupBy(keys.map(col): _*)
      .agg(max(col(version)).as("last_version"),
        (max_by(col(op), ord).as(op) +:
          payload.map(c => max_by(col(c), ord).as(c))): _*)
  }

  /** q96: CDC compaction over a changelog synthesized from lineitem —
    * key = l_orderkey, a tombstone whenever the line's quantity is
    * below 5. The synthetic table has duplicate (orderkey, linenumber)
    * rows, so the version is the bit-packed composite
    * `linenumber·2^40 + partkey·2^20 + suppkey` — any rows still tying
    * on that carry identical (op, price, linestatus) (probed in the
    * test data; packing holds while partkey, suppkey < 2^20), so the
    * winner's OUTPUT is deterministic either way. */
  def q96CdcApply(spark: SparkSession, dir: String): DataFrame = {
    // spreadScan is safe ONLY because applyChangelogKeepOps' winner
    // ordering is total: under a version-only rule this repartition
    // flips the winner of the sf0.001 tie at l_orderkey 1294.
    val log = graft.Tables.spreadScan(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        (col("l_linenumber").cast("long") * lit(1099511627776L) +
          col("l_partkey") * lit(1048576L) + col("l_suppkey")).as("v"),
        when(col("l_quantity") < 5, lit("D")).otherwise(lit("U")).as("op"),
        round(col("l_extendedprice"), 2).as("price"), col("l_linestatus"))
    applyChangelog(log, keys = Seq("l_orderkey"), version = "v",
        op = "op", payload = Seq("price", "l_linestatus"))
      .select(col("l_orderkey"), col("last_version"), col("price"),
        col("l_linestatus"))
      .orderBy(col("l_orderkey"))
  }

  val q96Oracle: String =
    """WITH c AS (SELECT l_orderkey,
         l_linenumber * 1099511627776 + l_partkey * 1048576 + l_suppkey AS v,
         CASE WHEN l_quantity < 5 THEN 'D' ELSE 'U' END AS op,
         round(l_extendedprice, 2) AS price, l_linestatus
       FROM lineitem),
       last AS (SELECT l_orderkey, CAST(v AS BIGINT) AS last_version,
         op, price, l_linestatus,
         row_number() OVER (PARTITION BY l_orderkey
           ORDER BY v DESC, op DESC, price DESC, l_linestatus DESC) AS rn
       FROM c)
       SELECT l_orderkey, last_version, price, l_linestatus
       FROM last WHERE rn = 1 AND op <> 'D' ORDER BY l_orderkey"""
}
