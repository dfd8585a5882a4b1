package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Delta-style MERGE INTO (upsert) over plain partitioned Parquet.
  *
  * The reference's mutation surface is a batched SQL join-UPDATE
  * (reference database_manager.py:200-236, `update fact_sim fs ...`
  * per rxn_batch_size; plus the ledger status update at
  * database_manager.py:171-193); this engine's ledger +
  * latestState and partition-scoped backfill
  * ([[graft.pipeline.FilePipeline.backfillEnrichment]]) cover that
  * pipeline's own needs append-only. What was still missing for a user
  * arriving from the reference's UPDATE workflow is a general MERGE:
  * update-where-matched / delete-where-matched / insert-where-not —
  * this file provides it, split into a pure relational core (usable as
  * a read-only query, oracled as q73) and a partition-scoped
  * copy-on-write writer on [[Rewrite.partitions]].
  */
object Merge {

  /** Pure merged-state computation — the relational core of MERGE INTO:
    *
    *   - matched (key in both):  the source row's values replace the
    *     target row's — unless `deleteWhen` (a predicate over
    *     `t.`/`s.`-qualified columns) holds, in which case the row is
    *     dropped (WHEN MATCHED DELETE);
    *   - not matched by target:  the source row is inserted;
    *   - not matched by source:  the target row is kept unchanged.
    *
    * The source must carry every target column (aligned by name; extra
    * source columns are ignored). Null-valued keys never match (`===`),
    * so a null-keyed source row inserts — same as SQL MERGE.
    *
    * Scale: exactly one shuffle, on the merge key (sort-merge
    * full-outer); no windows, no driver materialization. When the
    * source is dimension-sized Catalyst broadcasts it; at fact-vs-fact
    * scale both sides hash-partition on the key — the same cost as the
    * reference's join-UPDATE, minus its per-batch re-scan loop. */
  def mergeView(target: DataFrame, source: DataFrame, keys: Seq[String],
      deleteWhen: Option[Column] = None,
      extraSourceCols: Seq[String] = Nil): DataFrame = {
    val cols = target.columns.toSeq
    require(keys.nonEmpty && keys.forall(cols.contains),
      s"merge keys $keys must be target columns")
    require(cols.forall(source.columns.contains),
      s"source must carry every target column; missing " +
        s"${cols.filterNot(source.columns.contains)}")
    // presence markers instead of key-null tests: a full-outer join
    // nulls the absent side wholesale, and ONLY the markers distinguish
    // "absent side" from "present row with null values"
    val t = target.withColumn("_t_present", lit(true)).alias("t")
    // extraSourceCols (e.g. a CDC op code) survive into the join so
    // deleteWhen can reference them as `s.<name>`; they never reach the
    // output, which is target-schema'd below
    val s = source.select((cols ++ extraSourceCols).distinct.map(col): _*)
      .withColumn("_s_present", lit(true)).alias("s")
    val keyCond = keys.map(k => col(s"t.$k") === col(s"s.$k"))
      .reduce(_ && _)
    val matched = coalesce(col("t._t_present"), lit(false)) &&
      coalesce(col("s._s_present"), lit(false))
    val joined = t.join(s, keyCond, "full_outer")
    val kept = deleteWhen match {
      case Some(cond) => joined.filter(!coalesce(matched && cond, lit(false)))
      case None => joined
    }
    kept.select(cols.map { c =>
      when(matched, col(s"s.$c"))
        .when(coalesce(col("t._t_present"), lit(false)), col(s"t.$c"))
        .otherwise(col(s"s.$c")).as(c)
    }: _*)
  }

  /** Partition-scoped copy-on-write MERGE INTO a `partitionBy`-laid-out
    * parquet table through [[Rewrite.partitions]]: only partitions that
    * contain a matched key or receive a source row are rewritten, a
    * partition the merge empties (every row deleted or moved) is
    * removed, and every other partition directory is left
    * byte-identical (MergeSpec asserts untouched files). Returns the
    * affected partition values.
    *
    * affected = target partitions holding matched keys ∪ the source
    * rows' own partitions, so an update that moves a row across
    * partitions lands in a rewritten one, and the shuffle is sized by
    * the affected slice, not the table. */
  def mergeIntoParquet(spark: SparkSession, dir: String,
      source: DataFrame, keys: Seq[String], partitionCol: String,
      deleteWhen: Option[Column] = None,
      extraSourceCols: Seq[String] = Nil): Seq[String] = {
    val target = spark.read.parquet(dir)
    val affected = (Rewrite.valuesOf(
        target.join(source.select(keys.map(col): _*), keys, "left_semi"),
        partitionCol) ++
      Rewrite.valuesOf(source, partitionCol)).distinct
    if (affected.nonEmpty)
      Rewrite.partitions(spark, dir, partitionCol, affected,
        mergeView(Rewrite.slice(target, partitionCol, affected), source,
          keys, deleteWhen, extraSourceCols))
    affected
  }

  /** q73: the MERGE core as a read-only oracled query over `orders` —
    * a deterministic upsert set exercising all three clauses at once:
    * every 97th order's price doubles and its status becomes 'U' (WHEN
    * MATCHED UPDATE), matched orders whose CURRENT price exceeds 300k
    * are dropped instead (WHEN MATCHED DELETE), and a synthetic 'N'
    * order is inserted per 101st key (WHEN NOT MATCHED INSERT).
    *
    * Hash-stability: prices stay raw parquet doubles — doubling a
    * double is exact (exponent + 1) and both engines read identical
    * bits, so no rounding is involved anywhere. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val updates = t.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice"))
    val inserts = t.filter(col("o_orderkey") % 101 === 0)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        lit("N").as("o_orderstatus"),
        lit(1.0).cast("double").as("o_totalprice"))
    mergeView(t, updates.unionByName(inserts), Seq("o_orderkey"),
      deleteWhen = Some(col("t.o_totalprice") > 300000))
      .orderBy(col("o_orderkey"))
  }

  val mergeUpsertOracle: String =
    """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                  FROM orders),
       s AS (SELECT o_orderkey, 'U' AS o_orderstatus,
               o_totalprice * 2 AS o_totalprice
             FROM t WHERE o_orderkey % 97 = 0
             UNION ALL
             SELECT o_orderkey + 100000000, 'N', CAST(1.0 AS DOUBLE)
             FROM t WHERE o_orderkey % 101 = 0)
       SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
              ELSE t.o_orderstatus END AS o_orderstatus,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
              ELSE t.o_totalprice END AS o_totalprice
       FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
       WHERE NOT (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                  AND t.o_totalprice > 300000)
       ORDER BY o_orderkey"""
}
