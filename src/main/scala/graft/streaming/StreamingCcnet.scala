package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** CCNet head/middle/tail over an IN-FLIGHT crawl — the q170 mechanic
  * as streaming state. Each micro-batch scores its documents under the
  * SUPPLIED trained reference LM (a trained model is config — the
  * `startPerplexityScore` posture) plus q30's language ID, both
  * stateless per batch with the reference-sized model broadcast, and
  * appends the per-doc INTEGER sufficient statistics — (doc_id,
  * pred_lang, alp_i, toks) — to an additive [[DeltaIndex]] under the
  * house recipe (delete-own-partition, src_batch provenance,
  * refuse-foreign-state reads).
  *
  * The terciles themselves are GLOBAL order statistics: one new
  * document can shift every cutoff of its language, so they can never
  * be an additive delta. [[snapshot]] derives them from state-so-far
  * through the SAME rollup the batch query runs
  * ([[graft.ext.Warc.ccnetRollupOf]] — [[graft.ops.RankBands]]' exact
  * cutoffs, no per-language sort), the [[StreamingRedirects]] posture:
  * index additive, verdict derived. A snapshot's bucket for a document
  * may move between snapshots as its language's score distribution
  * fills in — exactly a frontier's view of per-language quality bands
  * mid-crawl.
  *
  * State is ~32 B/doc of integers — bounded by corpus size, never by
  * batch count; snapshot cost is RankBands' bounded collects plus one
  * hash aggregate. A doc_id re-scored in a later batch (a re-crawl)
  * supersedes its earlier row latest-wins at snapshot, with a
  * deterministic full-key tiebreak inside a batch so two snapshots of
  * identical state always agree (the StreamingRedirects lesson). */
object StreamingCcnet {

  private val scoredSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("pred_lang", StringType),
    StructField("alp_i", LongType),
    StructField("toks", LongType),
    StructField("src_batch", LongType),
    StructField("batch_id", LongType)))

  /** Per-doc integer statistics of one batch frame carrying (doc_id,
    * text, lang): the q170 score assembly — fix4 LM score recovered as
    * BIGINT 1e-4 units, q30 prediction, whitespace token count (the
    * quality gate's `_toks` definition). Docs under two tokens carry
    * no transition and are out of scope, exactly as in batch. */
  private def scoreOf(docs: DataFrame,
      model: graft.ext.TextAnalysis.RefLmModel): DataFrame = {
    val ppl = graft.ext.TextAnalysis.refPerplexityOf(
      docs.select(col("doc_id"), col("text")), model)
    val lang = graft.ext.TextAnalysis.langIdOf(docs)
      .select(col("doc_id"), col("pred_lang"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .join(ppl.select(col("doc_id"),
        expr("CAST(round(avg_logprob * 1e4) AS BIGINT)").as("alp_i")),
        Seq("doc_id"))
      .join(lang, Seq("doc_id"))
      .select(col("doc_id"), col("pred_lang"), col("alp_i"), col("toks"))
  }

  /** One micro-batch: score and append. Package-visible for direct
    * testing without a streaming harness. */
  private[graft] def processBatch(docs: DataFrame,
      model: graft.ext.TextAnalysis.RefLmModel, batchId: Long,
      outDir: String): Unit = {
    DeltaIndex.deleteBatchPartition(docs.sparkSession, outDir, batchId)
    if (docs.isEmpty) return
    DeltaIndex.writeDelta(scoreOf(docs, model), batchId, outDir)
  }

  /** The scored-doc index accumulated so far (shared read contract: a
    * missing or just-bootstrapped dir is EMPTY; anything other than
    * batch_id= partitions with the scored schema is refused). */
  def readScored(spark: SparkSession, outDir: String): DataFrame =
    DeltaIndex.readDeltas(spark, outDir, scoredSchema,
      "ccnet score index")

  /** Head/middle/tail per predicted language over every document
    * scored SO FAR — the batch q170 rollup applied to the streamed
    * state after latest-wins revisit dedup. */
  def snapshot(spark: SparkSession, outDir: String): DataFrame = {
    val latest = DeltaIndex.latest(readScored(spark, outDir), "doc_id",
        "alp_i", "pred_lang", "toks")
      .select(col("doc_id"), col("pred_lang"),
        col("alp_i").as("_alp_i"), col("toks").as("_toks"))
    graft.ext.Warc.ccnetRollupOf(latest)
      .orderBy(col("pred_lang"), col("bucket"))
  }

  /** Start the score-index sink over a streaming (doc_id, text, lang)
    * frame. */
  def start(docs: DataFrame,
      model: graft.ext.TextAnalysis.RefLmModel, outDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), model, batchId, outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
}
