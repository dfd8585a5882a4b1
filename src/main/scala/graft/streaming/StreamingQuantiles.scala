package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.functions.{DetMix, HashSample}

/** Streaming per-group quantile monitoring — the q141 sketch as stream
  * state: every micro-batch updates a persisted SAMPLE INDEX (the
  * k-smallest-(hash, key) rows per group) and emits a quantile snapshot
  * for "what is the p95 of this column, per group, as of this batch" —
  * the drift-monitoring question over an unbounded stream.
  *
  * Why this state is exact: [[HashSample]]'s merge is associative —
  * k-smallest of a union is the k-smallest of (k-smallest of the
  * parts) — so replaying the index rows through the same aggregate
  * reproduces EXACTLY the batch q141 answer over the union of all
  * batches, spec-pinned. State is ≤ k rows × groups after compaction
  * (24 B + value per row), never the stream.
  *
  * State follows the [[DeltaIndex]] recipe:
  *   - exactly-once: index/count/output partitions for batch N are
  *     deleted up front; a replay rewrites byte-identically;
  *   - provenance: every index row carries `src_batch` as a DATA
  *     column, preserved verbatim through [[compactIndex]] (which
  *     folds partitions into `batch_id=-1` keeping only each group's
  *     k smallest) — the replay filter excludes on `src_batch`, never
  *     the partition column, so a batch replayed AFTER compaction
  *     cannot count its own folded rows as corpus state;
  *   - counts are ADDITIVE DELTAS: one (grp, n, src_batch) row per
  *     group per batch, summed at read time — a batch whose sample rows
  *     were all evicted by later compaction still counts, so `n` stays
  *     exact forever;
  *   - a foreign, corrupt or pre-provenance index fails loudly, never
  *     reads as empty.
  */
object StreamingQuantiles {

  val K: Int = graft.ext.Quantiles.K
  val Seed: Long = graft.ext.Quantiles.Seed

  private val idxSchema = StructType(Seq(
    StructField("grp", StringType),
    StructField("h", LongType),
    StructField("key", LongType),
    StructField("v", DoubleType),
    StructField("src_batch", LongType),
    StructField("batch_id", LongType)))

  private val cntSchema = StructType(Seq(
    StructField("grp", StringType),
    StructField("n", LongType),
    StructField("src_batch", LongType),
    StructField("batch_id", LongType)))

  private val what = "StreamingQuantiles sample index"

  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    DeltaIndex.readDeltas(spark, indexDir, idxSchema, what)

  def readCounts(spark: SparkSession, countDir: String): DataFrame =
    DeltaIndex.readDeltas(spark, countDir, cntSchema,
      "StreamingQuantiles count deltas")

  /** Quantile snapshot from state rows + count rows: one [[HashSample]]
    * aggregate realizes k-smallest-of-union, then the q141 ceil-rank
    * picks. */
  private def snapshotOf(state: DataFrame, counts: DataFrame,
      k: Int): DataFrame = {
    val spec = Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4),
      ("p95", 19, 20))
    // same _m = 0 guard as Quantiles.sketchQuantilesOf: an all-null
    // group's empty sample must degrade to null estimates, not throw
    val picks = spec.map { case (name, num, den) =>
      when(col("_m") > 0, element_at(col("_sample"),
        expr(s"CAST((_m * $num + ${den - 1}) div $den AS INT)")))
        .as(s"${name}_est")
    }
    val sampled = state.groupBy(col("grp"))
      .agg(array_sort(
        HashSample.hash_sample(col("h"), col("key"), col("v"), k))
        .as("_sample"))
      .withColumn("_m", size(col("_sample")))
    val totals = counts.groupBy(col("grp"))
      .agg(sum(col("n")).as("n"))
    sampled.join(totals, Seq("grp"))
      .select(col("grp") +: col("n") +: col("_m").as("m") +: picks: _*)
  }

  /** One micro-batch of (grp, key, v): update index + counts, write the
    * as-of-this-batch snapshot. Package-visible for direct testing. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      indexDir: String, countDir: String, outDir: String,
      k: Int = K): Unit = {
    val spark = batch.sparkSession
    Seq(indexDir, countDir, outDir)
      .foreach(DeltaIndex.deleteBatchPartition(spark, _, batchId))
    if (batch.isEmpty) return
    // replay safety: exclude THIS batch's prior contribution by
    // provenance (compaction may have folded it into batch_id=-1)
    val prior = readIndex(spark, indexDir)
      .filter(col("src_batch") =!= batchId)
      .select(col("grp"), col("h"), col("key"), col("v"))
      .localCheckpoint(eager = false)
    val priorCounts = readCounts(spark, countDir)
      .filter(col("src_batch") =!= batchId)
      .select(col("grp"), col("n"), col("src_batch"))
    val drawn = batch
      .withColumn("h", expr(DetMix.mixSql("key", Seed)))
      .select(col("grp"), col("h"), col("key"), col("v"))
    // persist at most k rows per group per batch (batch-local cut;
    // the cross-batch cut happens in the aggregate and in compaction)
    val batchK = drawn
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("h"), col("key"))))
      .filter(col("_rn") <= k).drop("_rn")
      .localCheckpoint(eager = false)
    DeltaIndex.writeBatch(batchK.withColumn("src_batch", lit(batchId)),
      batchId, indexDir)
    val counts = batch.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    DeltaIndex.writeDelta(counts, batchId, countDir)
    DeltaIndex.writeBatch(snapshotOf(prior.unionByName(batchK),
        priorCounts.unionByName(counts.withColumn("src_batch",
          lit(batchId))), k),
      batchId, outDir)
  }

  /** Fold every index partition into `batch_id=-1`, keeping only each
    * group's k smallest (hash, key) rows, `src_batch` preserved
    * verbatim — state is then ≤ k rows per group regardless of stream
    * age. Counts are NOT folded (per-batch delta rows are group-count
    * sized and their per-src_batch identity is what replay exclusion
    * filters on). */
  def compactIndex(spark: SparkSession, indexDir: String,
      k: Int = K): Unit =
    DeltaIndex.compact(spark, indexDir, idxSchema, what)(
      _.withColumn("_rn", row_number().over(
          Window.partitionBy(col("grp")).orderBy(col("h"), col("key"))))
        .filter(col("_rn") <= k).drop("_rn", "batch_id"))

  /** Start the quantile-monitoring sink over a streaming (grp, key, v)
    * frame. */
  def start(rows: DataFrame, indexDir: String, countDir: String,
      outDir: String, checkpointDir: String): StreamingQuery =
    rows.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        processBatch(b.toDF(), id, indexDir, countDir, outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
}
