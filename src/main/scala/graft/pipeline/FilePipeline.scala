package graft.pipeline

import java.net.URI
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType
import graft.ops.{Clean, Enrich, Ledger, Rewrite}
import graft.schema.Schemas

/** Batch-mode incremental file pipeline — the reference's whole `main()`
  * (SURVEY.md §3.1, K1-K6) re-expressed as one bookkeeping read, two
  * stages and one ledger append per run:
  *
  *   0. state read: the ledger's latest outcome per key and the dim's
  *      (simulation_id, simulation_num), in one job ([[Ledger.readState]]);
  *   1. metadata stage: new `metadata_<uuid>.json` → validated and
  *      surrogate-numbered on the driver (sequence semantics: order by
  *      date_run, simulation_id, offset by the dim's high-water mark),
  *      appended to the dim table; an id the dim already holds is not
  *      numbered again;
  *   2. fact stage: new `rxndata_<uuid>.csv` → the file that claims
  *      each id is decided from names and headers alone; the claimants
  *      are read once, through one CSV relation and projection per
  *      header shape ([[Clean.cleanedFiles]]), in scan tasks split by
  *      bytes; their rows that carry the file's id are enriched against
  *      the *current* dim via broadcast join at write time (the
  *      reference's post-hoc batched UPDATE loop disappears) and written
  *      to a staging directory, while the same pass checks each file's
  *      ids; the staged files are then moved into the day-partitioned
  *      fact table ([[graft.ops.Rewrite.staged]]). Nothing is cached;
  *   3. one ledger append holding both stages' rows, after the fact write.
  *
  * Each rule lives in one place: the file-name rule ([[fileName]]), the
  * claim rule that the first file of an id in path order claims it
  * ([[decide]]), the ledger rows of a stage ([[outcome]]) and the header
  * rule ([[Clean.shape]]).
  *
  * Every job a run launches reads or writes data. A warm run (ledger and
  * dim already written) with both kinds of files launches:
  *
  *   - state read: 1 (a union of two scans, collected; no shuffle);
  *   - metadata stage: 2 — the batch collected (1), the dim append (1);
  *   - fact stage: 2 — the dim broadcast (1), the staged fact write,
  *     which checks each file's ids as it goes (1);
  *   - ledger append: 1.
  *
  * 6 in all, 3 of them writes. Only a file that fails its id check
  * partway, or a failed claimant whose id a later file then claims, makes
  * the fact stage write again, at 2 jobs a round. The JDBC mirror and the
  * processed-CSV tree add their own writes, each re-reading the files it
  * needs. A run with nothing listed launches none.
  *
  * Incrementality (K2): the reference encodes "not yet ingested" as
  * file-presence in `processed/`. Here the ledger is the source of truth —
  * new files = listed files whose id has no ledger success — and the
  * post-commit `archive/` move is retained for cold-storage parity (B6/B7:
  * move-after-commit is the last step, exactly as main.py:29-31).
  *
  * Scale: file listing, the ledger's and dim's keys, the metadata batch
  * and per-file ledger rows are O(files) driver work; all fact-row
  * compute is distributed. The fact table is partitioned by `day`, so
  * downstream time-scoped scans prune; dim and ledger stay
  * dimension-scale.
  */
object FilePipeline {

  /** Warehouse layout; `jdbc` additionally mirrors fact/dim appends into
    * a relational database (B2/B3 literal parity — the reference's COPY
    * + INSERT terminate in PostgreSQL; see [[graft.sources.JdbcSink]]);
    * `processedParity` additionally writes the reference's cleaned-CSV
    * `processed/<day>/` tree (B1, file_manager.py:63) — off by default
    * because Parquet bronze supersedes the text hop. */
  case class Layout(root: String,
      jdbc: Option[graft.sources.JdbcSink.Target] = None,
      processedParity: Boolean = false) {
    val incoming = s"$root/incoming"
    val archive = s"$root/archive"
    val processed = s"$root/processed"
    val factTable = s"$root/warehouse/fact_sim"
    val dimTable = s"$root/warehouse/dim_rxn"
    val ledger = s"$root/warehouse/etl_run_log"
  }

  case class RunReport(
      csvFilesIngested: Int,
      factRowsInserted: Long,
      metadataFilesIngested: Int,
      dimRowsInserted: Long,
      filesArchived: Int,
      failures: Int)

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Every file under `incoming/<day>/`, in path order. */
  private def listIncoming(spark: SparkSession, layout: Layout): Seq[Path] = {
    val f = fs(spark)
    val base = new Path(layout.incoming)
    if (!f.exists(base)) Seq.empty
    else
      f.listStatus(base).filter(_.isDirectory).flatMap { day =>
        f.listStatus(day.getPath).filter(_.isFile).map(_.getPath)
      }.toSeq.sortBy(_.toString)
  }

  /** The file-name rule of both stages (FIXTURES.md §1): any
    * `<prefix>_<uuid>.csv|json` carries the simulation id its ledger rows
    * are keyed by; only `rxndata_<uuid>.csv` and `metadata_<uuid>.json`
    * are well formed. */
  private val NameRe = "(.*)_([0-9a-fA-F-]{36})\\.(csv|json)".r

  private case class FileName(id: String, wellFormed: Boolean)

  private def fileName(p: Path): Option[FileName] = p.getName match {
    case NameRe(prefix, id, ext) =>
      Some(FileName(id, prefix == (if (ext == "csv") "rxndata" else "metadata")))
    case _ => None
  }

  /** Keep only files whose name carries a simulation id with no ledger
    * success yet for `etlType`. */
  private def newFiles(files: Seq[Path], state: Ledger.RunState,
      etlType: String): Seq[Path] = {
    val ids = state.succeeded(etlType)
    files.filter(p => fileName(p).exists(n => !ids.contains(n.id)))
  }

  private def archiveFiles(spark: SparkSession, layout: Layout,
      files: Seq[Path]): Int = {
    val f = fs(spark)
    files.count { p =>
      val day = p.getParent.getName
      val destDir = new Path(s"${layout.archive}/$day")
      if (!f.exists(destDir)) f.mkdirs(destDir)
      f.rename(p, new Path(destDir, p.getName))
    }
  }

  def readDim(spark: SparkSession, layout: Layout): DataFrame =
    Ledger.readOrEmpty(spark, layout.dimTable, Schemas.dimRxnSchema)

  /** The fact table as written: [[Schemas.factSimSchema]] plus the `day`
    * partition, typed as partition inference would type it. */
  private val factTableSchema =
    Schemas.factSimSchema.add("day", DateType)

  def readFact(spark: SparkSession, layout: Layout): DataFrame =
    spark.read.schema(factTableSchema).parquet(layout.factTable)

  /** What one stage's ingest did: rows appended (fact rows, or dim rows),
    * files safe to archive once its ledger rows are appended, one ledger
    * row per file whose name carries an id. */
  case class StageIngest(rowsInserted: Long, okFiles: Seq[Path],
      ledgerRows: Seq[Ledger.Entry]) {
    def failures: Int = ledgerRows.count(_.status == "failed")
  }

  /** A file's identity on both sides of a scan: the path of its URI, so
    * a listed `file:/x` and a scanned or streamed `file:///x` are one
    * file. */
  private def fileKey(uri: URI): String = uri.getPath

  /** The claim rule of both stages, in path order: a file fails with its
    * own reason when `check` gives one; otherwise the first file of an id
    * claims it, and each later file of that id fails as a duplicate and
    * stays in `incoming/`. */
  private def decide(files: Seq[Path],
      check: Path => Option[String]): Seq[(Path, Option[String])] = {
    val claimed = scala.collection.mutable.Set.empty[String]
    files.sortBy(_.toString).map { p =>
      p -> check(p).orElse(Option.when(
        fileName(p).exists(n => !claimed.add(n.id)))(
        "duplicate simulation_id in batch"))
    }
  }

  /** A stage's result from its decided files: one final-status ledger row
    * per file whose name carries an id, with `records(file)` rows for a
    * success and none for a failure; the passing files are the ones to
    * archive. */
  private def outcome(etlType: String, t0: Timestamp,
      decided: Seq[(Path, Option[String])], records: Path => Long): StageIngest = {
    val t1 = new Timestamp(System.currentTimeMillis())
    val ok = decided.collect { case (p, None) => p }
    StageIngest(ok.map(records).sum, ok, decided.flatMap { case (p, failure) =>
      fileName(p).map(n => Ledger.Entry(n.id, etlType, t0, t1,
        if (failure.isEmpty) records(p) else 0L,
        if (failure.isEmpty) "success" else "failed", failure))
    })
  }

  /** The uuid in a scanned file's name, from its `_metadata.file_path`
    * column: the 36 characters after the last `_`, which [[fileName]]
    * puts right before the uuid. Only well-formed names are scanned. One
    * string split per row, no regex. */
  private def nameId(path: Column): Column =
    substring(substring_index(path, "_", -1), 1, 36)

  private val BadHeader = "header missing required columns or file unreadable"
  private val IdMismatch = "in-file SimulationID disagrees with filename"

  /** Fact-stage ingest of a concrete file list (K1+K3+K6) — shared by the
    * batch [[run]] and the streaming foreachBatch body so both get the
    * same hardening:
    *
    *   - files are read grouped by exact header shape, each shape through
    *     one projection ([[Clean.cleanedFiles]]), so artifact and
    *     artifact-less files of one batch bind by name;
    *   - a file whose header fails [[Clean.shape]] (a required column
    *     missing after rename), that is empty or that is gone since it
    *     was listed, is quarantined whole — ledger 'failed', zero rows
    *     written — instead of failing the batch;
    *   - a file not named `rxndata_<uuid>.csv`, or with any row whose
    *     SimulationID disagrees with that uuid (FIXTURES.md contract), is
    *     quarantined whole, header-only or not;
    *   - an id carried by two files of the batch is ingested once, from
    *     the first file in path order that passes ([[decide]]);
    *   - surviving rows are enriched against the current dim at write
    *     time and appended to the day-partitioned fact table;
    *   - one final-status ledger row per file, returned for the caller
    *     to append ([[ingestBatch]]).
    *
    * One pass over the files, nothing cached. The header and name rules
    * decide, before any read, which file claims each id; only claimants
    * are read, in scan tasks split by bytes. One staged write
    * ([[Rewrite.staged]]) takes the rows that carry their file's id and,
    * in the same pass, folds each file's row counts ([[Clean.agreeing]]).
    * A claimant with a disagreeing row fails. Usually that leaves the
    * stage holding exactly the passing files' rows, and it is committed.
    * Two cases take another round: a failing file wrote some rows, or a
    * later file of a failed id now claims it. Then the stage is discarded
    * and the next round writes the files that claim now; each round fails
    * at least one more file, so the rounds end.
    *
    * Driver work is O(files) (header peek, per-file decisions and ledger
    * rows); all row-level compute is distributed. */
  def ingestCsvFiles(spark: SparkSession, layout: Layout,
      csvFiles: Seq[Path]): StageIngest = {
    val t0 = new Timestamp(System.currentTimeMillis())
    // files absent here are empty, gone or miss a required column
    val headerOf = Clean.groupByHeader(spark, csvFiles)
      .filter { case (h, _) => Clean.shape(h).isRight }
      .flatMap { case (h, ps) => ps.map(_ -> h) }
    def claims(failed: Map[Path, String]) = decide(csvFiles, p =>
      if (!headerOf.contains(p)) Some(BadHeader)
      else if (!fileName(p).exists(_.wellFormed)) Some(IdMismatch)
      else failed.get(p))
    def idOf(p: Path) = fileName(p).get.id
    // cleaned rows enriched against the current dim, as the table holds them
    def factRows(rows: DataFrame) = Enrich.enrichFact(
      rows.withColumns(Map(
        "row_id" -> monotonically_increasing_id(),
        "simulation_num" -> lit(null).cast("int"))),
      readDim(spark, layout))
      .select((Schemas.factSimSchema.fieldNames.map(col) :+ col("day")): _*)

    val (decided, ids) = Rewrite.staged(spark, layout.factTable, "day") { stage =>
      // the decided files and each claimant's counts
      @scala.annotation.tailrec
      def round(failed: Map[Path, String])
          : (Seq[(Path, Option[String])], Map[String, Clean.FileIds]) = {
        val claimed = claims(failed).collect { case (p, None) => p }
        val ids =
          if (claimed.isEmpty) Map.empty[String, Clean.FileIds]
          else {
            val (agreeing, obs) = Clean.agreeing(
              Clean.cleanedFiles(spark, claimed.groupBy(headerOf)),
              nameId(col(Clean.FilePath)))
            stage(factRows(agreeing.drop(Clean.FilePath)))
            Clean.idsOf(obs)
          }
        // a file with no data row has no in-file id to disagree with its name
        val disagreeing = claimed.filter(p => ids.get(idOf(p)).exists(!_.allAgree))
        val nowFailed = failed ++ disagreeing.map(_ -> IdMismatch)
        val decided = claims(nowFailed)
        if (disagreeing.exists(p => ids(idOf(p)).agreeing > 0) ||
            decided.exists { case (p, f) => f.isEmpty && !claimed.contains(p) })
          round(nowFailed)
        else (decided, ids)
      }
      round(Map.empty)
    }
    // the passing files with a data row, each row carrying the file's id
    val toWrite = decided.collect { case (p, None) if ids.contains(idOf(p)) => p }
    if (toWrite.nonEmpty) {
      lazy val passing = Clean.readCleaned(spark, toWrite.groupBy(headerOf))
      // B2 parity: mirror the bulk load into the relational sink (the
      // reference's fact_sim has no day column — it's our partition key).
      // Opt-in, and it re-reads the files: nothing is cached between the
      // writes
      layout.jdbc.foreach(t =>
        graft.sources.JdbcSink.append(factRows(passing).drop("day"), t, "fact_sim"))
      // B1 parity: the reference's cleaned-CSV processed/<day>/ tree
      // (header kept, no index column, like df.to_csv(index=False) at
      // file_manager.py:63), appended so successive runs accumulate. Its
      // file names are Spark task parts: provenance lives in the ledger.
      // Each day's write filters the same frame to that day, which
      // prunes the other days' files; the loop is bounded by the batch's
      // day count
      if (layout.processedParity)
        toWrite.map(_.getParent.getName).distinct.sorted.foreach { day =>
          passing.filter(col("day") === day)
            .select(Schemas.requiredCols.map(col): _*)
            .write.option("header", "true").mode("append")
            .csv(s"${layout.processed}/$day")
        }
    }
    // dim ids are unique, so the enrichment's left join writes exactly
    // the fold's counts
    outcome(Ledger.EtlTypeCsv, t0, decided,
      p => ids.get(idOf(p)).fold(0L)(_.rows))
  }

  /** Metadata-stage ingest of a concrete file list (K4, fixed:
    * validate-then-skip, real row count; per-file reconciliation BEFORE
    * the dim append so a failed file contributes zero dim rows). Shared by
    * the batch [[run]] and the streaming foreachBatch body so both modes
    * produce dim rows from `metadata_<uuid>.json`.
    *
    * The batch is one row per file, as large as the file list the driver
    * already holds, so its rows come to the driver in one job (bounded by
    * [[Enrich.DimRowCap]]) and are validated and numbered there
    * ([[Enrich.numberDim]]). A file passes only when it is named
    * `metadata_<uuid>.json` and parses to exactly one row whose id is
    * that uuid; a JSON array of objects fails whole. An id carried by two
    * passing files of the batch is numbered once, from the first file in
    * path order ([[decide]]).
    *
    * Keyed by the dim, so idempotent: an id `state` says the dim already
    * holds is ledgered success with zero rows and archived, not numbered
    * again. That is what lets a run append its ledger rows only after
    * the fact write: a run that fails after its dim append ledgers
    * nothing, and the next run reconciles the dim rows it left. New ids
    * are numbered from `state`'s high-water mark. The ledger rows are
    * returned for the caller to append ([[ingestBatch]]). */
  def ingestMetadataFiles(spark: SparkSession, layout: Layout,
      metaFiles: Seq[Path], state: Ledger.RunState): StageIngest = {
    if (metaFiles.isEmpty) return StageIngest(0L, Seq.empty, Seq.empty)
    val t0 = new Timestamp(System.currentTimeMillis())
    // one JSON object per file (not JSONL) — multiLine, like json.load
    val batch = spark.read.schema(Schemas.metadataJsonSchema)
      .option("multiLine", "true")
      .json(metaFiles.map(_.toString): _*)
      .withColumn("_file", col("_metadata.file_path"))
      .withColumnsRenamed(Schemas.metadataRenameMap)
      .withColumn("date_run", to_date(col("date_run")))
    // generic rows, not a typed record with primitive fields: null
    // measurements pass through to the dim. One partition, so the
    // bounded collect is one job
    val rows = batch.coalesce(1)
      .limit((Enrich.DimRowCap + 1).toInt)
      .collect().toSeq
    Enrich.requireDimRows(rows.size.toLong, Enrich.DimRowCap,
      "ingestMetadataFiles")
    def idOf(r: Row) = r.getAs[String]("simulation_id")
    val byFile = rows.groupBy(r => fileKey(new URI(r.getAs[String]("_file"))))
    val rowsOf = metaFiles.map(p => p -> byFile.getOrElse(fileKey(p.toUri), Nil)).toMap
    val decided = decide(metaFiles, p =>
      rowsOf(p) match {
        case Seq(r) if fileName(p).exists(n => n.wellFormed && n.id == idOf(r)) =>
          None
        case _ => Some("metadata validation failed or id/filename mismatch")
      })
    val fresh = decided.collect { case (p, None) => p -> rowsOf(p).head }
      .filterNot { case (_, r) => state.dimNums.contains(idOf(r)) }
    if (fresh.nonEmpty) {
      val numbered = spark.createDataFrame(
        Enrich.numberDim(fresh.map(_._2), state.highWaterMark).asJava,
        Schemas.dimRxnSchema)
      numbered.coalesce(1).write.mode("append").parquet(layout.dimTable)
      // B3 parity: mirror the dim insert into the relational sink
      layout.jdbc.foreach(t =>
        graft.sources.JdbcSink.append(numbered, t, "dim_rxn"))
    }
    val numberedFiles = fresh.map(_._1).toSet
    outcome(Ledger.EtlTypeMetadata, t0, decided,
      p => if (numberedFiles(p)) 1L else 0L)
  }

  /** Both stages over one batch of files, then one ledger append holding
    * both stages' rows — the body the batch [[run]] and the streaming
    * foreachBatch share. Metadata first, so the batch's CSVs enrich
    * against its fresh dim rows. The append comes after the fact write:
    * a failure in either stage ledgers nothing, so the next attempt
    * selects the same files again and the metadata stage reconciles any
    * dim rows this one left. `state` supplies the dim's keys. */
  def ingestBatch(spark: SparkSession, layout: Layout, metaFiles: Seq[Path],
      csvFiles: Seq[Path], state: Ledger.RunState): (StageIngest, StageIngest) = {
    val meta = ingestMetadataFiles(spark, layout, metaFiles, state)
    val csv = ingestCsvFiles(spark, layout, csvFiles)
    Ledger.append(spark, layout.ledger, meta.ledgerRows ++ csv.ledgerRows)
    (meta, csv)
  }

  /** Both stages, then the archive move, for one batch run. Returns what
    * happened. */
  def run(spark: SparkSession, root: String): RunReport =
    run(spark, Layout(root))

  def run(spark: SparkSession, layout: Layout): RunReport = {
    val (listedMeta, listedCsv) = listIncoming(spark, layout)
      .filter(fileName(_).isDefined).partition(_.getName.endsWith(".json"))
    // one read of ledger and dim keys serves both stages. Nothing listed,
    // nothing read — an idle run launches no job
    val state =
      if (listedMeta.isEmpty && listedCsv.isEmpty) Ledger.RunState.Empty
      else Ledger.readState(spark, Some(layout.ledger), layout.dimTable)
    val metaFiles = newFiles(listedMeta, state, Ledger.EtlTypeMetadata)
    val csvFiles = newFiles(listedCsv, state, Ledger.EtlTypeCsv)

    // --- metadata stage (K4), fact stage (K1+K3: clean + load +
    //     write-time enrichment), one ledger append -------------------
    val (meta, ingest) =
      ingestBatch(spark, layout, metaFiles, csvFiles, state)

    // --- archive (B6/B7: move-after-commit last; failed files stay in
    //     incoming for retry, like main.py:29-31) ------------------------
    val archived = archiveFiles(spark, layout, ingest.okFiles ++ meta.okFiles)

    RunReport(csvFiles.size, ingest.rowsInserted, metaFiles.size,
      meta.rowsInserted, archived, meta.failures + ingest.failures)
  }

  /** K5 backfill — enrich fact rows whose metadata arrived in a later run:
    * the reference's batched join-UPDATE as a partition-scoped
    * [[graft.ops.Rewrite.partitions]]. Only day partitions that contain
    * null-key rows are rewritten, so a one-day backfill pays one day's
    * rewrite, not a full-table one, and untouched day directories are
    * left byte-identical. (A Delta MERGE is the managed-format
    * equivalent.) */
  def backfillEnrichment(spark: SparkSession, root: String): Long = {
    val layout = Layout(root)
    val fact = readFact(spark, layout)
    val perDay = fact.filter(col("simulation_num").isNull)
      .groupBy(Rewrite.value("day")).count().collect()
    val nullRows = perDay.map(_.getLong(1)).sum
    if (nullRows == 0) return 0L
    val days = perDay.map(_.getString(0)).toSeq
    Rewrite.partitions(spark, layout.factTable, "day", days,
      Enrich.enrichFact(Rewrite.slice(fact, "day", days), readDim(spark, layout))
        .select((Schemas.factSimSchema.fieldNames.map(col) :+ col("day")): _*))
    nullRows
  }
}
