package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.ext.UrlCurate

/** Streaming per-domain admission caps — [[UrlCurate]]'s q130 gate as a
  * stateful ingestion stage: as crawl batches arrive, each document is
  * canonicalized, blocklist-checked, and admitted only while its
  * registrable domain is still under the cumulative cap — the
  * streaming front door of a RefinedWeb-shaped pipeline, where "at
  * most N pages per site" must hold across the WHOLE stream, not per
  * micro-batch.
  *
  * State posture at 100 TB/day: the stream state is a parquet index of
  * one (domain, doc_id) row per ADMITTED document — bounded by
  * cap × distinct-domains regardless of stream volume, never URLs or
  * text. Cross-batch counts are `count_distinct(doc_id)` over the
  * index, so duplicate index rows (a compaction crash window) can only
  * count once — the cap can never be overshot, the failure direction
  * is conservative.
  *
  * Exactly-once: all three sinks are batch_id-partitioned with the
  * delete-own-partition-first recipe; every index row carries its
  * origin batch as the `src_batch` data column, preserved through
  * [[compactIndex]], and the replay filter excludes on src_batch — the
  * [[StreamingNearDup]] provenance contract, so a batch replayed AFTER
  * compaction neither double-counts its own admissions nor caps itself
  * out.
  *
  * Within a batch, lower doc_ids win the remaining quota (one
  * hash-partitioned window per batch — batch-sized, not stream-sized).
  * For monotone ingest this makes the admitted set equal the batch
  * q130 cap over the union of batches (spec-pinned); out-of-order
  * backfills keep first-arrived-wins semantics, the same divergence
  * contract as [[StreamingRepeatSpans]].
  */
object StreamingDomainCaps {

  private val indexSchema = StructType(Seq(
    StructField("domain", StringType),
    StructField("doc_id", LongType),
    StructField("src_batch", LongType),
    StructField("batch_id", LongType)))

  private val what = "StreamingDomainCaps admission index"

  /** Read the admission index — missing/bare reads empty, anything
    * unexpected fails loudly ([[DeltaIndex.readDeltas]]). */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    DeltaIndex.readDeltas(spark, indexDir, indexSchema, what)

  /** One micro-batch over (doc_id, url) rows. Package-visible for
    * direct testing without a streaming harness. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      indexDir: String, admittedDir: String, rejectedDir: String,
      cap: Int = UrlCurate.DomainCap,
      robots: Boolean = false): Unit = {
    val spark = batch.sparkSession
    Seq(admittedDir, rejectedDir, indexDir)
      .foreach(DeltaIndex.deleteBatchPartition(spark, _, batchId))
    if (batch.isEmpty) return
    val cur = UrlCurate.blocklistOf(UrlCurate.registrableDomainOf(
        UrlCurate.canonicalizeOf(batch)))
      .withColumn("domain",
        coalesce(col("registrable_domain"), col("host")))
      .localCheckpoint(eager = false)
    val curOk = cur.filter(!col("blocked") && col("host").isNotNull)
    // optional RFC 9309 policy stage BEFORE the cap window (the q150
    // frontier order): a disallowed URL is rejected with its own reason
    // and never consumes the domain's crawl budget
    val (pass, robotsRejected) =
      if (robots) {
        val verdicts = graft.ext.Robots.robotsFilterOf(
          curOk.withColumn("path",
              regexp_replace(col("canon_url"), "^[a-z]+://[^/]*", ""))
            .select(col("doc_id"), col("url"), col("canon_url"),
              col("domain"), col("path")),
          graft.ext.Robots.rulesDf(spark)).localCheckpoint(eager = false)
        (verdicts.filter(col("allowed"))
           .select(col("doc_id"), col("url"), col("canon_url"),
             col("domain")),
         verdicts.filter(!col("allowed"))
           .select(col("doc_id"), col("domain"),
             lit("robots").as("reason")))
      } else
        (curOk.select(col("doc_id"), col("url"), col("canon_url"),
           col("domain")),
         curOk.filter(lit(false)).select(col("doc_id"), col("domain"),
           lit("robots").as("reason")))
    // cumulative admitted per domain, excluding THIS batch's prior
    // attempt by provenance (compaction may have moved its rows to -1)
    val prior = readIndex(spark, indexDir)
      .filter(col("src_batch") =!= batchId)
      .groupBy(col("domain"))
      .agg(count_distinct(col("doc_id")).as("_n_prior"))
    val ranked = pass
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col("domain")).orderBy(col("doc_id"))))
      .join(prior, Seq("domain"), "left")
      .withColumn("_n", coalesce(col("_n_prior"), lit(0L)))
      .localCheckpoint(eager = false) // feeds admitted AND over-cap rejects
    val admitted = ranked.filter(col("_n") + col("_rk") <= cap)
      .select(col("doc_id"), col("url"), col("canon_url"), col("domain"))
    val rejected = cur
      .filter(col("blocked") || col("host").isNull)
      .select(col("doc_id"), col("domain"),
        when(col("blocked"), "blocked").otherwise("no_host").as("reason"))
      .unionByName(robotsRejected)
      .unionByName(ranked.filter(col("_n") + col("_rk") > cap)
        .select(col("doc_id"), col("domain"), lit("over_cap").as("reason")))
    DeltaIndex.writeBatch(admitted, batchId, admittedDir)
    DeltaIndex.writeBatch(rejected, batchId, rejectedDir)
    DeltaIndex.writeBatch(admitted.select(col("domain"), col("doc_id"))
      .withColumn("src_batch", lit(batchId)), batchId, indexDir)
  }

  /** Start the stage over a streaming (doc_id, url) frame. With
    * `robots = true` the q150 frontier composition runs as ingestion
    * does: policy verdicts BEFORE the cumulative cap. */
  def start(urls: DataFrame, indexDir: String, admittedDir: String,
      rejectedDir: String, checkpointDir: String,
      cap: Int = UrlCurate.DomainCap,
      robots: Boolean = false): StreamingQuery =
    urls.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), batchId, indexDir, admittedDir,
          rejectedDir, cap, robots)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Compact the admission index into the reserved batch_id=-1
    * partition ([[DeltaIndex.compact]]): dedup by doc_id keeping the
    * min-src_batch copy WITH its provenance. */
  def compactIndex(spark: SparkSession, indexDir: String): Unit =
    DeltaIndex.compact(spark, indexDir, indexSchema, what)(
      _.groupBy(col("doc_id"))
        .agg(min(struct(col("src_batch"), col("domain"))).as("first"))
        .select(col("first.domain").as("domain"), col("doc_id"),
          col("first.src_batch").as("src_batch")))
}
