package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.ext.Dedup

/** Streaming exact-substring repeat-span detection — the q120 pass
  * ([[Dedup.repeatSpansOf]], Lee et al. 2022 ExactSubstr) wired into a
  * `foreachBatch` stage against a persisted window-hash index, the same
  * production shape as [[StreamingNearDup]]:
  *
  *   - every micro-batch's documents are window-hashed once
  *     ([[Dedup.windowHashes]] — position-preserving, no window string
  *     ever materialized);
  *   - each occurrence is checked against the INDEX (parquet of
  *     (h, doc_id, p) — the corpus-first copy of every distinct window
  *     seen so far), and ALSO against the batch itself (min (doc_id, p)
  *     per hash within the batch wins, so two copies arriving in one
  *     micro-batch don't both pass);
  *   - marked occurrences merge into maximal per-doc spans
  *     ([[Dedup.mergeRepeatSpans]] — the identical islands logic the
  *     batch oracle pins) and land in `spansDir`;
  *   - windows whose content is NEW to the corpus append to the index.
  *
  * State posture at 100 TB/day: stream state is the parquet index, which
  * is exactly the ExactSubstr working set — one (hash, doc_id, pos) row
  * per distinct window content, 24 bytes each, independent of document
  * size and never holding text. Unlike a GroupState formulation (one
  * state entry per hash key inside the state store), the parquet index
  * is compactable, inspectable, and shared with the batch path.
  * Exactly-once: outputs are partitioned by batch_id; a re-run first
  * deletes its own batch_id partition from both sinks and the index
  * read excludes the current batch's rows, so a half-written prior
  * attempt can neither duplicate spans nor flag a batch against itself.
  *
  * Replay vs compaction: foreachBatch is at-least-once, so batch N may
  * replay AFTER [[compactIndex]] has already folded N's fresh windows
  * into the reserved `batch_id=-1` partition — at which point the
  * partition column no longer says which batch contributed a row. Every
  * index row therefore carries its ORIGIN batch as a data column
  * (`src_batch`), preserved verbatim through compaction, and the
  * idempotent-replay filter excludes on `src_batch`, never on the
  * partition column. Without this, a replayed batch would see its own
  * compacted windows as "seen", mark every occurrence as repeating, and
  * (with `cutDir` set) silently cut every document in the batch to
  * nothing.
  */
object StreamingRepeatSpans {

  private val indexSchema = StructType(Seq(
    StructField("h", LongType),
    StructField("doc_id", LongType),
    StructField("p", LongType),
    StructField("src_batch", LongType),
    StructField("batch_id", LongType)))

  private val what = "StreamingRepeatSpans window index"

  /** Read the window index: missing (first batch) reads empty; a
    * foreign, corrupt or pre-provenance index fails loudly instead of
    * under-marking the batch ([[DeltaIndex.readDeltas]]). */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    DeltaIndex.readDeltas(spark, indexDir, indexSchema, what)

  /** One micro-batch: mark occurrences repeating the index OR a
    * lower-(doc_id, p) occurrence within the batch, merge to spans,
    * index the fresh window contents; when `cutDir` is set, ALSO ship
    * the removal pass — the batch's documents reconstructed with their
    * marked ranges cut ([[Dedup.cutSpansOf]], the exact q121 cut) —
    * so the stream emits what a training pipeline ingests, not just
    * the audit view. Package-visible for direct testing without a
    * streaming harness. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      indexDir: String, spansDir: String, k: Int,
      cutDir: Option[String] = None, compactEvery: Int = 0): Unit = {
    val spark = batch.sparkSession
    // clear this attempt's partitions up front, so a re-run that
    // computes an empty span set cannot keep stale rows
    (Seq(spansDir, indexDir) ++ cutDir)
      .foreach(DeltaIndex.deleteBatchPartition(spark, _, batchId))
    if (batch.isEmpty) return
    val wins = Dedup.windowHashes(batch, k).localCheckpoint(eager = false)
    // idempotent re-run: exclude THIS batch's prior contribution by its
    // provenance column, not the partition — compaction may have moved
    // the rows into batch_id=-1, where only src_batch still knows
    val seen = readIndex(spark, indexDir)
      .filter(col("src_batch") =!= batchId)
      .select(col("h"), lit(true).as("_seen"))
    // batch-internal first occurrence per hash (the self pass)
    val batchFirst = wins.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("p"))).as("first"))
    val tagged = wins
      .join(seen, Seq("h"), "left")
      .join(batchFirst, "h")
      .localCheckpoint(eager = false) // feeds the repeat mark AND the index append
    val repeated = tagged
      .filter(col("_seen").isNotNull ||
        col("doc_id") =!= col("first.doc_id") ||
        col("p") =!= col("first.p"))
      .select(col("doc_id"), col("p"))
    // spans feed the spansDir sink AND (optionally) the removal cut —
    // checkpoint so the islands window runs once, not per consumer
    val spans =
      if (cutDir.isDefined) Dedup.mergeRepeatSpans(repeated, k).localCheckpoint(eager = false)
      else Dedup.mergeRepeatSpans(repeated, k)
    // index only window contents NEW to the corpus, one row each (the
    // batch-first occurrence), so the index stays one row per distinct
    // window at any stream length
    val fresh = tagged
      .filter(col("_seen").isNull &&
        col("doc_id") === col("first.doc_id") &&
        col("p") === col("first.p"))
      .select(col("h"), col("doc_id"), col("p"))
    DeltaIndex.writeBatch(spans, batchId, spansDir)
    DeltaIndex.writeBatch(fresh.withColumn("src_batch", lit(batchId)),
      batchId, indexDir)
    cutDir.foreach(
      DeltaIndex.writeBatch(Dedup.cutSpansOf(batch, spans), batchId, _))
    // the cadence knob made concrete: fold the index every Nth batch,
    // AFTER this batch's own partition committed. Safe under replay
    // because compaction preserves src_batch: if the driver dies after
    // this fold but before the streaming checkpoint commits, the replay
    // of batch N still excludes its own (now batch_id=-1) rows via the
    // src_batch filter above — marks are identical, and the replay's
    // re-appended batch_id=N rows merely duplicate h values until the
    // next compaction dedups them (seen = existence, so no over-mark).
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      compactIndex(spark, indexDir)
  }

  /** Start the stage over a streaming (doc_id, text) frame. Pass
    * `cutDir` to also emit the per-batch removal output (streaming
    * q121 — documents with their repeat spans cut); `compactEvery` > 0
    * folds the window index into its compacted form every Nth batch
    * ([[compactIndex]] — marks are identical either way). */
  def start(docs: DataFrame, indexDir: String, spansDir: String,
      checkpointDir: String, k: Int = 10,
      cutDir: Option[String] = None,
      compactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), batchId, indexDir, spansDir, k, cutDir,
          compactEvery)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Compact the window-hash index ([[DeltaIndex.compact]]): without
    * compaction the parquet index accrues one `batch_id=N` partition
    * per micro-batch forever — a small-files problem, not a size
    * problem (the index stays one 24-byte row per distinct window
    * content regardless). Rewrites the whole index into the single
    * reserved `batch_id=-1` partition, defensively deduplicating by h
    * with the min (doc_id, p) occurrence kept (the same first-copy rule
    * the batch q120 keeper uses), its `src_batch` travelling with it.
    * Duplicate h rows from a crash between commit and delete under-mark
    * nothing (seen = existence). One `batch_id=-1` DIRECTORY, not one
    * file: files follow the shuffle parallelism, so a billion-window
    * index still compacts through every executor.
    *
    * Cadence is the caller's knob: every N batches from inside
    * `foreachBatch`, or a daily maintenance job — marks are identical
    * either way (spec-pinned in StreamingRepeatSpanSpec). */
  def compactIndex(spark: SparkSession, indexDir: String): Unit =
    DeltaIndex.compact(spark, indexDir, indexSchema, what)(
      _.groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("p"), col("src_batch")))
          .as("first"))
        .select(col("h"), col("first.doc_id").as("doc_id"),
          col("first.p").as("p"), col("first.src_batch").as("src_batch")))
}
