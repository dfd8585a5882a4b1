package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** SFT / preference assembly over an IN-FLIGHT turn log — the
  * q193/q194/q196 mechanics as streaming state. Each micro-batch
  * appends its normalized turn rows — (event_id, user_id, us,
  * event_type, value) — to an additive [[DeltaIndex]] under the house
  * recipe (delete-own-partition, src_batch provenance,
  * refuse-foreign-state reads). The per-batch step is a pure
  * normalization: no model, no global state, nothing to drift.
  *
  * Threads and preference pairs are derived at snapshot, never
  * accumulated: a thread is a per-(user, day) aggregate whose
  * violation count and md5 order pin can change whenever ANY turn of
  * that day arrives late (streaming turn logs interleave — the whole
  * reason SFT exporters re-thread at assembly time), and a preference
  * pair is a per-pool argmax one late high-reward response can flip.
  * [[snapshotThreads]] and [[snapshotCard]] run the SAME
  * [[graft.ext.SftAssembly]] rollups the batch queries run (index
  * additive, verdict derived — the StreamingRedirects posture).
  *
  * A re-delivered event_id (an upstream correction: edited payload,
  * fixed reward) supersedes its earlier row latest-wins at snapshot,
  * with a deterministic full-key tiebreak inside a batch so two
  * snapshots of identical state always agree.
  *
  * State is one integer/double row per turn — bounded by log size,
  * never by batch count; snapshot cost is the batch rollup itself. */
object StreamingSft {

  private val turnSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("us", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("src_batch", LongType),
    StructField("batch_id", LongType)))

  /** One micro-batch of (event_id, user_id, us, event_type, value)
    * rows: normalize (drop null ids — an id-less turn can never be
    * threaded or superseded) and append. Package-visible for direct
    * testing without a streaming harness. */
  private[graft] def processBatch(events: DataFrame, batchId: Long,
      outDir: String): Unit = {
    DeltaIndex.deleteBatchPartition(events.sparkSession, outDir, batchId)
    if (events.isEmpty) return
    val delta = events
      .filter(col("event_id").isNotNull && col("user_id").isNotNull)
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("us").cast("long"), col("event_type").cast("string"),
        col("value").cast("double"))
      .distinct()
    DeltaIndex.writeDelta(delta, batchId, outDir)
  }

  /** All turn rows accumulated so far (shared read contract: missing /
    * bootstrapped dir is EMPTY; foreign entries refused). */
  def readTurns(spark: SparkSession, outDir: String): DataFrame =
    DeltaIndex.readDeltas(spark, outDir, turnSchema, "SFT turn index")

  /** The log's current turn set: latest-wins per event_id (an
    * upstream re-delivery supersedes), exact duplicates collapsed
    * first and same-batch conflicts tiebroken deterministically by the
    * full row key. */
  private def latestTurns(spark: SparkSession,
      outDir: String): DataFrame =
    DeltaIndex.latest(readTurns(spark, outDir), "event_id",
      "us", "user_id", "event_type", "value")

  /** q193 over every turn streamed so far — the SAME thread rollup the
    * batch query runs, applied to latest-wins state. */
  def snapshotThreads(spark: SparkSession, outDir: String): DataFrame =
    graft.ext.SftAssembly.conversationThreadsOf(
        graft.ext.SftAssembly.turnColumnsOf(
          latestTurns(spark, outDir)
            .select(col("user_id"), col("us"), col("event_id"),
              col("event_type"))))
      .orderBy(col("user_id"), col("day"))

  /** q196 over the streamed state: thread inventory ⋈ preference
    * pairs, both derived at snapshot from the same latest-wins turn
    * set. */
  def snapshotCard(spark: SparkSession, outDir: String): DataFrame = {
    val turns = latestTurns(spark, outDir).localCheckpoint(eager = false)
    graft.ext.SftAssembly.releaseCardOf(
        graft.ext.SftAssembly.conversationThreadsOf(
          graft.ext.SftAssembly.turnColumnsOf(
            turns.select(col("user_id"), col("us"), col("event_id"),
              col("event_type")))),
        graft.ext.SftAssembly.preferencePairsOfEvents(
          turns.select(col("user_id"), col("event_id"), col("value"))))
      .orderBy(col("user_id"))
  }

  /** q200 over the streamed state: token-budget packing of the
    * snapshot's valid threads through the SAME
    * [[graft.ext.SftAssembly.tokenPackingOf]] core the batch query
    * runs — derived at snapshot, never accumulated (one late turn
    * changes a thread's token weight AND can flip its validity, which
    * reshuffles every later cut point; packing is a global property of
    * the current log). `toks` is the (doc_id, toks) token-count table
    * and `nDocs` its modulus — supplied config, exactly like the
    * semantic stage's eval artifact: the streaming stage never reads
    * the corpus itself. */
  def snapshotTokenPacking(spark: SparkSession, outDir: String,
      toks: DataFrame, nDocs: Long, budget: Long): DataFrame = {
    val turnCols = snapshotTurnCols(spark, outDir)
    graft.ext.SftAssembly.tokenPackingOf(
      graft.ext.SftAssembly.conversationThreadsOf(turnCols),
      turnCols, toks, nDocs, budget)
  }

  /** ONE definition of the snapshot turn projection (latest-wins →
    * day/role columns, materialized once) — every delivery snapshot
    * reads it, so the q200/q201 and q202 snapshots cannot
    * desynchronize on the turn frame. */
  private def snapshotTurnCols(spark: SparkSession,
      outDir: String): DataFrame =
    graft.ext.SftAssembly.turnColumnsOf(
      latestTurns(spark, outDir)
        .select(col("user_id"), col("us"), col("event_id"),
          col("event_type"))
        .localCheckpoint(eager = false))

  /** q201 over the streamed state: the sequence manifest of the
    * snapshot's token packing — same supplied-config contract as
    * [[snapshotTokenPacking]], same [[graft.ext.SftAssembly
    * .sequenceManifestOf]] core as batch. */
  def snapshotSequenceManifest(spark: SparkSession, outDir: String,
      toks: DataFrame, nDocs: Long, budget: Long): DataFrame =
    graft.ext.SftAssembly.sequenceManifestOf(
      snapshotTokenPacking(spark, outDir, toks, nDocs, budget), budget)

  /** q202 over the streamed state: per-sequence loss-mask accounting
    * through the SAME [[graft.ext.SftAssembly.lossMaskLayoutOf]] core
    * as batch — the turn frame is the latest-wins snapshot joined to
    * the supplied token table, so a late or corrected turn re-derives
    * every affected mask row. */
  def snapshotLossMask(spark: SparkSession, outDir: String,
      toks: DataFrame, nDocs: Long, budget: Long): DataFrame = {
    val turnCols = snapshotTurnCols(spark, outDir)
    val turns = turnCols
      .select(col("user_id"), col("day"), col("us"), col("event_id"),
        col("role"), (col("event_id") % nDocs).as("doc_id"))
      .join(toks.select(col("doc_id"), col("toks")), Seq("doc_id"))
    graft.ext.SftAssembly.lossMaskLayoutOf(
      graft.ext.SftAssembly.tokenPackingOf(
        graft.ext.SftAssembly.conversationThreadsOf(turnCols),
        turnCols, toks, nDocs, budget),
      turns, budget)
  }

  /** q205 over the streamed state: stability-preserving incremental
    * packing — the MOST streaming-natural delivery operator: the
    * shipped export's packing (`prevPacked`, a supplied artifact
    * exactly like the token table — the stream never re-derives what
    * was already delivered) stays frozen, and the snapshot's
    * new/changed threads pack into tail sequences past the last
    * shipped byte, through the SAME
    * [[graft.ext.SftAssembly.appendPackingOf]] core as batch. */
  def snapshotAppendPacking(spark: SparkSession, outDir: String,
      prevPacked: DataFrame, toks: DataFrame, nDocs: Long,
      budget: Long): DataFrame =
    graft.ext.SftAssembly.appendPackingOf(prevPacked,
      snapshotTokenPacking(spark, outDir, toks, nDocs, budget), budget)

  /** Start the turn-index sink over a streaming (event_id, user_id,
    * us, event_type, value) frame. */
  def start(events: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), batchId, outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
}
