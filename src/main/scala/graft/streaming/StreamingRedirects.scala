package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Redirects

/** Streaming redirect tracking — q158's chain resolution as fetch
  * results STREAM in: each micro-batch appends its (url, http_status,
  * location) rows to an ADDITIVE fetch index (src_batch provenance,
  * batch_id partitions deleted up front — the house recipe), and a
  * snapshot resolves every chain against the index accumulated SO FAR
  * with the same bounded walk the batch operator runs.
  *
  * Semantics under arrival order: a chain's links may arrive in any
  * order across batches — a `Location` target fetched in a LATER batch
  * than its referrer resolves identically once both are in the index,
  * because resolution reads the index, not the arrival sequence
  * (spec-pinned by feeding the same corpus in opposite orders). A
  * snapshot's `dangling` therefore means "not fetched YET" — it can
  * progress to `resolved` in a later snapshot as the crawl catches up,
  * which is exactly a frontier's view of an in-flight crawl; `resolved`
  * and `cap_exceeded` verdicts never change once reachable state is
  * complete. */
object StreamingRedirects {

  private val fetchSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("url",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("http_status",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("location",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("src_batch",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("batch_id",
      org.apache.spark.sql.types.LongType)))

  /** One micro-batch: append the batch's fetch rows to the index.
    * Package-visible for direct testing without a streaming harness. */
  private[graft] def processBatch(fetches: DataFrame, batchId: Long,
      outDir: String): Unit = {
    DeltaIndex.deleteBatchPartition(fetches.sparkSession, outDir, batchId)
    if (fetches.isEmpty) return
    DeltaIndex.writeDelta(
      fetches.select(col("url"), col("http_status").cast("int"),
        col("location").cast("string")),
      batchId, outDir)
  }

  /** The fetch index accumulated so far. Shared read contract: a
    * missing or just-bootstrapped dir is EMPTY; anything other than
    * batch_id= partitions with the fetch schema is refused. */
  def readFetches(spark: SparkSession, outDir: String): DataFrame =
    DeltaIndex.readDeltas(spark, outDir, fetchSchema, "fetch index")

  /** Resolve every chain against the index accumulated so far — the
    * batch operator over the streamed state. A URL re-fetched in a
    * later batch (a crawler revisit — routine) supersedes its earlier
    * observation: the walk assumes one row per URL, so without this
    * latest-wins dedup a revisited URL would fan every chain through
    * it into duplicate (or contradictory) rows per origin. */
  def snapshot(spark: SparkSession, outDir: String,
      maxHops: Int = Redirects.MaxHops): DataFrame = {
    // a URL revisited WITHIN one micro-batch ties on batch_id: a
    // contradictory same-batch pair is decided by (http_status, location)
    Redirects.resolveOf(DeltaIndex.latest(readFetches(spark, outDir),
      "url", "http_status", "location"), maxHops)
  }

  /** Start the fetch-index sink over a streaming (url, http_status,
    * location) frame. */
  def start(fetches: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    fetches.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), batchId, outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
}
