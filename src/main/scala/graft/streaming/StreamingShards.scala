package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.ext.Shards

/** Streaming shard append — the q143 training-shard layout as a
  * GROWING corpus: each micro-batch's documents are assigned to their
  * shard by the same deterministic DetMix-mod-N draw (assignment
  * depends only on doc_id, so a document lands in the same shard
  * whether it arrived in batch 0 or batch 40), appended under
  * `data/batch_id=N/shard_id=K/`, and accounted in an ADDITIVE
  * manifest: the batch writes its per-shard delta rows (tagged with
  * their `src_batch` provenance, the [[DeltaIndex]] recipe) and the
  * current manifest is simply the sum over deltas — exact because
  * q143's content fingerprint is an order-independent integer sum, so
  * "merge manifests" is `sum()`, never a recomputation.
  *
  * Exactly-once: both the batch's data partition and its delta rows
  * live under `batch_id=N` partitions that are deleted up front, so a
  * replay rewrites byte-identically; deltas are written AFTER the data
  * commits, so a manifest that references a batch implies its files
  * exist. Readers of one shard glob `data/<star>/shard_id=K` — the
  * batch dimension is provenance, not layout the loader must know.
  */
object StreamingShards {

  /** One micro-batch: append assigned rows + delta-manifest rows.
    * Package-visible for direct testing without a streaming harness. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      outDir: String, nShards: Int = Shards.NShards,
      seed: Long = Shards.Seed): Unit = {
    val spark = batch.sparkSession
    Seq("data", "manifest").foreach(sub =>
      DeltaIndex.deleteBatchPartition(spark, s"$outDir/$sub", batchId))
    if (batch.isEmpty) return
    Shards.shardAssignOf(batch, nShards, seed)
      .withColumn("batch_id", lit(batchId))
      .repartition(nShards, col("shard_id"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "shard_id")
      .parquet(s"$outDir/data")
    // delta AFTER data: manifest-present implies data-present
    DeltaIndex.writeDelta(
      Shards.manifestOf(Shards.shardAssignOf(batch, nShards, seed)),
      batchId, s"$outDir/manifest")
  }

  private val deltaSchema = StructType(Seq(
    StructField("shard_id", IntegerType),
    StructField("n_docs", LongType),
    StructField("n_tokens", LongType),
    StructField("min_doc_id", LongType),
    StructField("max_doc_id", LongType),
    StructField("checksum", LongType),
    StructField("src_batch", LongType),
    StructField("batch_id", LongType)))

  /** The CURRENT manifest: sum of all committed deltas — exact by the
    * additivity of every manifest column (counts, sums, min/max, the
    * order-independent checksum). Read under [[DeltaIndex.readDeltas]]:
    * a missing or only-just-bootstrapped dir is an EMPTY manifest, a
    * dir holding anything other than batch_id= partitions with the
    * delta schema is refused — never silently summed. */
  def readManifest(spark: SparkSession, outDir: String): DataFrame =
    DeltaIndex.readDeltas(spark, s"$outDir/manifest", deltaSchema,
        "StreamingShards manifest")
      .groupBy(col("shard_id"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("min_doc_id")).as("min_doc_id"),
        max(col("max_doc_id")).as("max_doc_id"),
        sum(col("checksum")).as("checksum"))

  /** Start the shard-append sink over a streaming (doc_id, text)
    * frame. */
  def start(docs: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), batchId, outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
}
