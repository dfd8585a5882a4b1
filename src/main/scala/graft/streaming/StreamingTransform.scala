package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** Stateless streaming stages — the foreachBatch shape for per-document
  * transforms that need NO cross-batch state (unlike the indexed
  * [[StreamingNearDup]]/[[StreamingRepeatSpans]]): each micro-batch is
  * transformed and written to its own `batch_id` partition. The
  * concrete stages wrap the batch operators verbatim, so stream output
  * ≡ the batch operator over the union of batches by construction —
  * spec-pinned anyway, because "by construction" has been wrong before.
  *
  * Exactly-once: the [[DeltaIndex]] partition moves — the batch_id
  * partition is deleted up front (dynamic overwrite alone keeps a
  * failed attempt's rows when the re-run computes an empty set), and a
  * replay rewrites it byte-identically — a per-doc transform has
  * nothing to go stale. No index, so none of the compaction/provenance
  * machinery applies.
  */
object StreamingTransform {

  /** One micro-batch of any stateless per-document transform.
    * Package-visible for direct testing without a streaming harness. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      outDir: String, transform: DataFrame => DataFrame): Unit = {
    DeltaIndex.deleteBatchPartition(batch.sparkSession, outDir, batchId)
    if (batch.isEmpty) return
    DeltaIndex.writeBatch(transform(batch), batchId, outDir)
  }

  /** Start a stateless transform stage over any streaming frame. */
  def start(docs: DataFrame, outDir: String, checkpointDir: String,
      transform: DataFrame => DataFrame): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), batchId, outDir, transform)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Streaming main-content extraction (the q123 operator) over a
    * streaming (doc_id, html) frame — the crawl pipeline's extract
    * stage as ingestion runs. */
  def startExtract(html: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    start(html, outDir, checkpointDir, graft.ext.Boilerplate.extractContentOf)

  /** Streaming markup-metadata extraction (the q131 operator). */
  def startMetadata(html: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    start(html, outDir, checkpointDir, graft.ext.Boilerplate.extractMetadataOf)

  /** Streaming PII scan + redaction (the q125 operator, Luhn-validated)
    * over a streaming (doc_id, text) frame — the scrub stage every
    * release pipeline runs before data leaves the boundary. */
  def startPiiScrub(docs: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    start(docs, outDir, checkpointDir, graft.ext.Pii.piiScanOf)

  /** Streaming crawl-policy verdicts (the q139 operator: canonicalize →
    * PSL → blocklist → RFC 9309 robots match) over a streaming
    * (doc_id, url) frame — the frontier gate as fetch results arrive.
    * Stateless because the policy table is config; a rules CORPUS that
    * itself streams would need the indexed recipe instead. */
  def startRobotsPolicy(urls: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    start(urls, outDir, checkpointDir, graft.ext.Robots.policyOf)

  /** Streaming WARC ingestion (the q153 operator): archive segments
    * stream in as (blob_id, payload) — from [[graft.ext.Warc
    * .readWarcStream]]'s file source in production — and each
    * micro-batch parses to typed records in its own `batch_id`
    * partition. Stateless by nature (a record derives from its blob
    * alone, narrow mapPartitions), so the CommonCrawl front door runs
    * under the same recipe as the other per-document stages; `batch_id`
    * is the src_batch provenance — no index, nothing compacts. */
  def startWarcRecords(blobs: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    start(blobs, outDir, checkpointDir,
      b => graft.ext.Warc.recordsOf(b).toDF())

  /** Streaming model-based quality scoring (the q122 inference shape)
    * over a streaming (doc_id, text) frame: each document's hashed
    * n-gram features look their weights up in the SUPPLIED (h, wt)
    * weight table — a trained model exported in the hashed-feature
    * schema, e.g. a fastText bucket table (word-level weights like
    * q160's NB `dw` column would first be re-keyed to the md5 shingle
    * feature space) — and the margin decides `keep`. Stateless because
    * the model is config, like the robots rules; the weight side
    * broadcasts per micro-batch. */
  def startQualityScore(docs: DataFrame, weights: DataFrame,
      outDir: String, checkpointDir: String): StreamingQuery =
    start(docs, outDir, checkpointDir,
      b => graft.ext.TextAnalysis.hashedLinearScoreOf(b, weights))

  /** Streaming reference-LM perplexity scoring (the q169 operator)
    * over a streaming (doc_id, text) frame: each micro-batch scores
    * under the SUPPLIED trained [[graft.ext.TextAnalysis.RefLmModel]]
    * — a trained model is config, like the robots rules and the q122
    * weight table, so the stage is stateless; the reference-sized
    * model broadcasts per micro-batch (the KenLM-artifact posture).
    * Docs under two tokens are out of scope, exactly as in batch. */
  def startPerplexityScore(docs: DataFrame,
      model: graft.ext.TextAnalysis.RefLmModel, outDir: String,
      checkpointDir: String): StreamingQuery =
    start(docs, outDir, checkpointDir,
      b => graft.ext.TextAnalysis.refPerplexityOf(b, model))

  /** Streaming benchmark decontamination (the q54 operator with the
    * benchmark as SUPPLIED config): each micro-batch's documents are
    * scored for k-gram-hash overlap against the broadcast benchmark
    * gram set — the held-out eval suite is a fixed artifact like the
    * q122 weight table, so the stage is stateless and each doc's
    * n_shared verdict is final on arrival. Benchmark-sized state only;
    * docs sharing nothing emit no row, exactly as in batch. */
  def startDecontaminate(docs: DataFrame, benchGh: DataFrame,
      outDir: String, checkpointDir: String, k: Int = 5): StreamingQuery =
    start(docs, outDir, checkpointDir,
      b => graft.ext.Curate.contaminationOf(
        graft.ext.Curate.gramsOf(b, k), benchGh))

  /** Streaming unigram tokenization (the q186 operator) over a
    * streaming (doc_id, text) frame under the SUPPLIED trained score
    * table — a trained tokenizer is config like the q169 LM, so the
    * stage is stateless and each doc's token counts are final on
    * arrival. */
  def startUnigramEncode(docs: DataFrame, model: Map[String, Long],
      outDir: String, checkpointDir: String): StreamingQuery =
    start(docs, outDir, checkpointDir,
      b => graft.ext.Unigram.encodeOf(b, model))

  /** Streaming SEMANTIC decontamination (the q190 operator with the
    * index definition and eval artifact as SUPPLIED config): each
    * micro-batch of (vec_id, embedding) rows is micro-quantized,
    * assigned through the REAL [[graft.ext.IvfIndex.assign]] path
    * under the supplied centroids, and gated against the broadcast
    * eval-member artifact by the SAME integer-cosine rollup the batch
    * query runs. The eval artifact is a fixed held-out suite exactly
    * like [[startDecontaminate]]'s gram set — benchmark-sized,
    * stateless, each doc's flag verdict final on arrival. `centroids`
    * MUST be the index definition the artifact's postings were
    * assigned under (the StreamingIvf index_fp contract, carried here
    * as config discipline); vectors that ARE eval members emit no
    * row. */
  def startSemanticDecontaminate(vecs: DataFrame,
      centroids: Array[Array[Double]], evalSide: DataFrame,
      outDir: String, checkpointDir: String): StreamingQuery =
    start(vecs, outDir, checkpointDir,
      b => graft.ext.Similarity.semanticFlagsOfBatch(b, centroids,
        evalSide))

  /** The composed streaming front door: parse archive blobs, gate on
    * well-formed HTTP-200 fetches, and run the q139 frontier policy on
    * the admitted URLs — raw crawl segments to robots verdicts in one
    * stage, all narrow except the policy's broadcast rules join. */
  def startWarcPolicy(blobs: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    start(blobs, outDir, checkpointDir,
      b => graft.ext.Robots.policyOf(graft.ext.Warc.fetchUrlsOf(b)))
}
