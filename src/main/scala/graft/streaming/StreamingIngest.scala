package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.Ledger
import graft.pipeline.FilePipeline
import graft.pipeline.FilePipeline.Layout

/** Structured Streaming variant of the ingest pipeline (SURVEY.md §2 K2/K3,
  * B6): the file-source checkpoint replaces the reference's
  * directory-state machine — exactly-once per file with no moves needed —
  * and `cleanSource=archive` reproduces the cold-storage move as a source
  * option.
  *
  * The per-batch body is the batch pipeline's own
  * ([[FilePipeline.ingestBatch]]); `foreachBatch` gives one atomic commit
  * per micro-batch (the Spark analogue of the reference's per-file
  * transaction, K3/K6).
  */
object StreamingIngest {

  /** Start the incremental ingest stream over `incoming/ * / *.{csv,json}`
    * — BOTH fact CSVs and `metadata_<uuid>.json` dim files flow through
    * the stream, so pure-streaming mode produces dim rows too (the batch
    * pipeline's K4 stage, not just K1/K3). maxFilesPerTrigger bounds
    * micro-batch size (the scale knob the reference's 50-file index-drop
    * heuristic, D3, approximates).
    *
    * The stream tracks FILES, not parsed rows: a CSV file source needs a
    * fixed user schema, which binds columns positionally (per-file headers
    * ignored) — a file lacking the optional `Unnamed: 0` artifact would be
    * silently column-shifted. So the source is a `binaryFile` stream that
    * selects only `path`: one row per file and no content read (the
    * checkpoint still gives exactly-once per file and
    * `cleanSource=archive` still moves committed files). The batch body
    * splits the batch's file list by suffix and hands both halves to the
    * batch run's own body ([[FilePipeline.ingestBatch]]): metadata files
    * first (id/filename reconciliation, dim-keyed numbering from the
    * high-water mark) so CSVs arriving in the SAME micro-batch enrich
    * against the fresh dim rows, then fact CSVs (per-header-shape schema
    * binding, invalid-header quarantine, id-mismatch and duplicate-id
    * quarantine, write-time enrichment), then one ledger append. Each
    * micro-batch with metadata files reads the dim's keys once
    * ([[graft.ops.Ledger.readState]] without the ledger: the checkpoint,
    * not the ledger, selects the files).
    *
    * Two streaming-specific deviations: quarantined files are still
    * archived by the source (the checkpoint marks them consumed); their
    * ledger rows record the failure. And a 0-byte file never reaches the
    * batch body: the file source skips it, so it gets no ledger row, yet
    * `cleanSource=archive` still moves it. Batch mode ledgers the same
    * file as failed and keeps it in `incoming/`. */
  def start(spark: SparkSession, root: String,
      checkpoint: String, maxFilesPerTrigger: Int = 50,
      archiveSource: Boolean = true): StreamingQuery = {
    val layout = Layout(root)
    val reader = spark.readStream
      .option("pathGlobFilter", "*.{csv,json}")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
    val withArchive =
      if (archiveSource)
        reader.option("cleanSource", "archive")
          .option("sourceArchiveDir", layout.archive)
      else reader
    val paths = withArchive
      .format("binaryFile")
      // a file stream must be given its schema: binaryFile's fixed one
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .load(s"${layout.incoming}/*")
      .select("path")

    paths.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val files = batch.collect().map(r => new Path(r.getString(0)))
          .toSeq.sortBy(_.toString)
        val (jsonFiles, csvFiles) =
          files.partition(_.getName.endsWith(".json"))
        val spark = batch.sparkSession
        val state =
          if (jsonFiles.isEmpty) Ledger.RunState.Empty
          else Ledger.readState(spark, None, layout.dimTable)
        FilePipeline.ingestBatch(spark, layout, jsonFiles, csvFiles, state)
        ()
      }
      .start()
  }

  /** Event-time analytics over a stream: tumbling window + watermark —
    * the streaming twin of queries.Relational.q17 (same plan shape under
    * readStream; late rows beyond the watermark are dropped). */
  def windowedCounts(events: DataFrame,
      watermark: String = "10 minutes",
      window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("window_start_epoch"),
        col("event_type"), col("n_events"), col("sum_value"))
}
