package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Expect

/** Streaming expectation gate: every micro-batch is audited against a
  * contract suite ([[Expect.report]] — one aggregation pass) and
  * routed whole: green batches append to the live table, red batches
  * land in a quarantine directory together with their violation
  * report, so a poisoned upstream can never dilute the live table and
  * the operator can replay quarantined batches after fixing the feed.
  *
  * Batch-atomic routing (not row-level filtering) is deliberate: a
  * batch with contract violations is EVIDENCE of an upstream defect —
  * the rows that still pass the contract are exactly as suspect as
  * the ones that fail it (same producer, same window). Row-level
  * salvage is a policy the caller can implement downstream of
  * quarantine; the gate's job is containment.
  *
  * Idempotence: all sinks partition by batch_id and clear their own
  * partition before writing, even for an empty batch (the
  * [[DeltaIndex]] recipe).
  */
object StreamingExpect {

  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      expectations: Seq[Expect.Expectation], liveDir: String,
      quarantineDir: String): Unit = {
    // clear all three partitions BEFORE the empty check: an emptied
    // replay must not keep the earlier attempt's rows
    val spark = batch.sparkSession
    Seq(liveDir, quarantineDir, quarantineDir + "_reports")
      .foreach(DeltaIndex.deleteBatchPartition(spark, _, batchId))
    if (batch.isEmpty) return
    val staged = batch.localCheckpoint(eager = false) // audit and write see ONE snapshot
    val rep = Expect.report(staged, expectations).localCheckpoint(eager = false)
    val green = rep.agg(min(col("pass"))).head().getInt(0) == 1
    if (green) DeltaIndex.writeBatch(staged, batchId, liveDir)
    else {
      DeltaIndex.writeBatch(staged, batchId, quarantineDir)
      DeltaIndex.writeBatch(rep, batchId, quarantineDir + "_reports")
    }
  }

  /** Start the gate over a streaming frame. */
  def start(stream: DataFrame, expectations: Seq[Expect.Expectation],
      liveDir: String, quarantineDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(batch, id, expectations, liveDir, quarantineDir)
      }
      .start()
}
