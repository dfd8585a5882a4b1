package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.ext.Dedup

/** Streaming near-duplicate admission — [[Dedup.incrementalNearDupSigs]]
  * wired into a `foreachBatch` stage against a persisted signature
  * index, the production shape of incremental near-dup:
  *
  *   - every micro-batch's documents are MinHash-signed once;
  *   - the batch is checked against the INDEX (parquet of (doc_id, sig),
  *     64 longs per admitted doc — never text), with the BucketCap guard
  *     on both sides of the banded join;
  *   - the batch is ALSO checked against itself ([[Dedup.selfNearDupSigs]])
  *     so two near-identical docs arriving in one micro-batch don't both
  *     get admitted — the lowest id of an intra-batch dup group survives;
  *   - clean docs are appended to `admittedDir` and their signatures to
  *     the index; flagged docs go to `flaggedDir` with their best match.
  *
  * State posture at 100 TB/day: stream state is the parquet signature
  * index, which grows by 8×64 bytes per admitted document regardless of
  * document size, and the text of a batch never joins against anything
  * larger than the batch itself. Exactly-once: every output (admitted,
  * flagged, index) is partitioned by batch_id; a re-run first DELETES
  * its own batch_id partition from all three sinks (dynamic partition
  * overwrite alone would leave a failed attempt's rows behind when the
  * re-run computes an empty set), and the index read also excludes the
  * current batch's rows so a half-written prior attempt cannot flag a
  * batch as a dup of itself.
  *
  * Replay vs compaction: foreachBatch is at-least-once, so batch N may
  * replay AFTER [[compactIndex]] folded N's admitted signatures into
  * the reserved `batch_id=-1` partition — the partition column then no
  * longer says which batch contributed a row. Every index row therefore
  * carries its ORIGIN batch as a data column (`src_batch`), preserved
  * verbatim through compaction, and the idempotent-replay filter
  * excludes on `src_batch`, never on the partition column. Without
  * this, a replayed batch would match every doc against its own
  * compacted signature (est_jaccard 1.0) and the whole batch would
  * silently vanish from the admitted sink.
  */
object StreamingNearDup {

  private val sigSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sig", ArrayType(LongType)),
    StructField("src_batch", LongType),
    StructField("batch_id", LongType)))

  private val what = "StreamingNearDup signature index"

  /** Read the signature index: missing (first batch) reads empty, a
    * foreign or pre-provenance index is refused ([[DeltaIndex.readDeltas]]). */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    DeltaIndex.readDeltas(spark, indexDir, sigSchema, what)

  /** One micro-batch: flag near-dups of the index AND of lower-id docs
    * within the batch itself (without the self pass, two copies arriving
    * in one micro-batch would both be admitted and indexed), admit the
    * rest, append the admitted signatures. Package-visible for direct
    * testing without a streaming harness. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      indexDir: String, admittedDir: String, flaggedDir: String,
      tau: Double): Unit = {
    val spark = batch.sparkSession
    // a re-run attempt must not inherit the failed attempt's partition
    // (e.g. a doc both flagged and admitted): drop batch_id=N from every
    // sink up front
    Seq(flaggedDir, admittedDir, indexDir)
      .foreach(DeltaIndex.deleteBatchPartition(spark, _, batchId))
    if (batch.isEmpty) return
    val sigs = Dedup.minhashSignaturesOf(batch).localCheckpoint(eager = false)
    // idempotent re-run: exclude THIS batch's prior contribution by its
    // provenance column, not the partition — compaction may have moved
    // the rows into batch_id=-1, where only src_batch still knows
    val seen = readIndex(spark, indexDir)
      .filter(col("src_batch") =!= batchId)
      .select(col("doc_id"), col("sig")).localCheckpoint(eager = false)
    // union of the index pass and the intra-batch self pass, best match
    // per doc (the self pass never flags a group's lowest id, so one
    // representative of a batch-internal dup group is still admitted)
    val flagged = Dedup.incrementalNearDupSigs(sigs, seen, tau)
      .unionByName(Dedup.selfNearDupSigs(sigs, tau))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("est_jaccard"), col("near_dup_of"))).as("best"))
      .select(col("doc_id"), col("best.near_dup_of").as("near_dup_of"),
        col("best.est_jaccard").as("est_jaccard"))
      .localCheckpoint(eager = false)
    DeltaIndex.writeBatch(flagged, batchId, flaggedDir)
    DeltaIndex.writeBatch(batch.join(flagged.select(col("doc_id")),
      Seq("doc_id"), "left_anti"), batchId, admittedDir)
    DeltaIndex.writeBatch(sigs.join(flagged.select(col("doc_id")),
      Seq("doc_id"), "left_anti")
      .withColumn("src_batch", lit(batchId)), batchId, indexDir)
  }

  /** Start the stage over a streaming (doc_id, text) frame. */
  def start(docs: DataFrame, indexDir: String, admittedDir: String,
      flaggedDir: String, checkpointDir: String,
      tau: Double = 0.5): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), batchId, indexDir, admittedDir,
          flaggedDir, tau)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Compact the signature index into the single reserved
    * `batch_id=-1` partition ([[DeltaIndex.compact]]): one partition
    * directory per micro-batch otherwise accumulates forever
    * (small-files, not size — the index stays 8×64 bytes per admitted
    * doc). Dedup by doc_id keeping the min-src_batch copy is defensive
    * only (admission writes each doc once); duplicates from a crash
    * between commit and delete admit/flag identically (the banded join
    * is set-shaped). Cadence is the caller's knob (every N batches or a
    * maintenance job); flag equality is spec-pinned. */
  def compactIndex(spark: SparkSession, indexDir: String): Unit =
    DeltaIndex.compact(spark, indexDir, sigSchema, what)(
      _.groupBy(col("doc_id"))
        .agg(min(struct(col("src_batch"), col("sig"))).as("first"))
        .select(col("doc_id"), col("first.sig").as("sig"),
          col("first.src_batch").as("src_batch")))
}
