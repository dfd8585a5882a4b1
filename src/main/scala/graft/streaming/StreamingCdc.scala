package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Merge, Rewrite, Scd}

/** Streaming CDC apply: fold a Debezium-shaped changelog stream
  * (key columns, a monotone `version` offset, an `op` code with 'D'
  * tombstones, payload columns, a partition column) into a partitioned
  * parquet table, one micro-batch at a time.
  *
  * Per batch:
  *   1. pre-compact the batch with [[Scd.applyChangelogKeepOps]] —
  *      latest version per key INCLUDING tombstones, so one merge sees
  *      one row per key no matter how chatty the feed was;
  *   2. drop STALE winners: a winner whose version is ≤ the target's
  *      stored `last_version` for that key lost to an earlier batch
  *      (cross-batch out-of-order delivery — the guard plain MERGE
  *      lacks; within a batch step 1 already ordered by version);
  *   3. one [[Merge.mergeIntoParquet]] upsert. Only partitions holding
  *      affected keys or receiving rows are rewritten; a partition
  *      emptied by a cross-partition move is removed.
  *
  * TOMBSTONES ARE RETAINED, not physically deleted: a delete upserts
  * the key's row with `_deleted = true` and the tombstone's version as
  * `last_version`. This is what makes the staleness guard total — if a
  * delete removed the row, a later-arriving batch
  * carrying an OLDER upsert for that key would see no stored offset and
  * silently resurrect deleted data. With the watermark row retained,
  * stale post-delete upserts compare against the tombstone's version
  * and drop; only a GENUINELY newer version revives the key. The same
  * mechanism lets tombstones for keys the target never saw insert a
  * watermark row, closing the same race for never-seen keys.
  *
  * Readers consume the live view via [[readTable]] (filters
  * `_deleted`). Tombstone rows are key-plus-watermark-sized, not
  * payload-sized, but they do accumulate; [[vacuumTombstones]] prunes
  * the ones old enough that no out-of-order delivery can still
  * reference them — the retention horizon is the pipeline's maximum
  * delivery skew, the standard grace-period contract.
  *
  * The target table's schema is keys ++ payload ++ `last_version` ++
  * `_deleted` ++ partition column — `last_version` is both the
  * out-of-order guard and the audit trail of WHICH feed offset a row
  * reflects.
  *
  * Re-run idempotence: the same batch against the post-merge target is
  * a no-op — every winner's version equals the stored one, equal
  * versions are stale, so every winner (upsert AND tombstone) drops at
  * step 2.
  *
  * Scale: state lives entirely in the partitioned parquet table; the
  * per-batch cost is one map-side-combinable compaction of the batch,
  * one key-join against ONLY the affected partitions' slice, and a
  * rewrite of those partitions — batch-sized, never table-sized.
  */
object StreamingCdc {

  /** One micro-batch. Package-visible for direct testing — this is the
    * whole foreachBatch body. `payload` = target columns minus keys,
    * version and partition col. */
  private[graft] def processBatch(batch: DataFrame, keys: Seq[String],
      version: String, op: String, payload: Seq[String],
      partitionCol: String, targetDir: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val winners = Scd.applyChangelogKeepOps(batch, keys, version, op,
      payload :+ partitionCol).localCheckpoint(eager = false)
    val targetCols =
      keys ++ payload ++ Seq("last_version", "_deleted", partitionCol)
    val source = winners
      .withColumn("_deleted", col(op) === "D")
      .select(targetCols.map(col): _*)
    val existing =
      try Some(spark.read.parquet(targetDir)) catch {
        case _: org.apache.spark.sql.AnalysisException => None
      }
    existing match {
      case None =>
        // bootstrap: no target yet — every winner becomes a row,
        // tombstones included (they are the keys' version watermarks).
        // overwrite: "no readable table" includes an existing-but-empty
        // directory (fresh checkout, failed first attempt)
        source.write.mode("overwrite").partitionBy(partitionCol)
          .parquet(targetDir)
      case Some(target0) =>
        // one-time upgrade of a table written before tombstone
        // retention existed (no `_deleted` column): every stored row is
        // live, so rewrite once with `_deleted = false` rather than
        // failing the merge's schema union
        val target =
          if (target0.columns.contains("_deleted")) target0
          else {
            val up = target0.withColumn("_deleted", lit(false))
              .localCheckpoint(true)
            up.write.mode("overwrite").partitionBy(partitionCol)
              .parquet(targetDir)
            spark.read.parquet(targetDir)
          }
        // cross-batch out-of-order guard: drop winners at or below the
        // stored offset for their key (also what makes re-runs no-ops).
        // Tombstone rows participate like any other — a delete's
        // watermark blocks stale post-delete upserts
        val stored = target.select(
          (keys.map(col) :+ col("last_version").as("_stored_v")): _*)
        val fresh = source.join(stored, keys, "left_outer")
          .filter(col("_stored_v").isNull ||
            col("last_version") > col("_stored_v"))
          .drop("_stored_v")
        Merge.mergeIntoParquet(spark, targetDir,
          fresh.localCheckpoint(eager = false), keys, partitionCol)
    }
  }

  /** Live view of the CDC table: rows whose latest change is a delete
    * exist only as version watermarks — hidden from consumers. A
    * pre-retention table (no `_deleted` column yet) is all-live. */
  def readTable(spark: SparkSession, targetDir: String): DataFrame = {
    val t = spark.read.parquet(targetDir)
    if (t.columns.contains("_deleted"))
      t.filter(!col("_deleted")).drop("_deleted")
    else t
  }

  /** Physically remove tombstone rows whose version is below
    * `horizonVersion` — i.e. old enough that, per the pipeline's
    * delivery-skew contract, no out-of-order change referencing them
    * can still arrive. Rewrites only partitions holding an expirable
    * tombstone ([[Rewrite.partitions]], like the merge itself);
    * partitions left empty are removed. Returns the rewritten partition
    * values. */
  def vacuumTombstones(spark: SparkSession, targetDir: String,
      partitionCol: String, horizonVersion: Long): Seq[String] = {
    val t = spark.read.parquet(targetDir)
    val expired = col("_deleted") && col("last_version") < horizonVersion
    val parts = Rewrite.valuesOf(t.filter(expired), partitionCol)
    if (parts.nonEmpty)
      Rewrite.partitions(spark, targetDir, partitionCol, parts,
        Rewrite.slice(t, partitionCol, parts).filter(!expired))
    parts
  }

  /** Start the stage over a streaming changelog frame. */
  def start(changelog: DataFrame, keys: Seq[String], version: String,
      op: String, payload: Seq[String], partitionCol: String,
      targetDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changelog.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, keys, version, op, payload, partitionCol,
          targetDir)
      }
      .start()
}
