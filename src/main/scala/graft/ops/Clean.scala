package graft.ops

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.schema.Schemas

/** Clean-stage operators (SURVEY.md §2 C1/C2/F1/F2, A1): bulk rename, index
  * artifact drop, presence-only schema validation.
  *
  * Unlike the reference — which reads each CSV three times (clean,
  * validate, COPY; file_manager.py:47, database_manager.py:46-47, 89) and
  * round-trips through text between stages — the clean stage here is one
  * distributed scan with the validation done against the DataFrame
  * schema (a driver-side metadata check, zero data read). The pipeline
  * adds one column-pruned pre-scan of the id column ([[scanFileIds]]) so
  * that it can decide each file before writing any row.
  */
object Clean {

  /** C1 — bulk column rename; unmapped columns pass through
    * (file_manager.py:53). */
  def rename(df: DataFrame): DataFrame =
    df.withColumnsRenamed(Schemas.columnMap)

  /** C2 — drop the pandas index artifact if present; no-op otherwise
    * (guarded semantics of file_manager.py:61-62). */
  def dropIndexArtifact(df: DataFrame): DataFrame =
    df.drop(Schemas.indexArtifactCol)

  /** F1/F2 — presence-only required-column check, the set-difference test
    * of file_manager.py:55-58 / database_manager.py:47-54. Returns the
    * missing column names (empty = valid). Pure schema arithmetic: no job
    * is launched. */
  def missingColumns(df: DataFrame,
      required: Seq[String] = Schemas.requiredCols): Seq[String] =
    required.filterNot(df.columns.toSet)

  /** Strict variant — raises like the reference's ValueError
    * (file_manager.py:58) when required columns are absent. */
  def validated(df: DataFrame,
      required: Seq[String] = Schemas.requiredCols): DataFrame = {
    val missing = missingColumns(df, required)
    require(missing.isEmpty,
      s"schema validation failed; missing columns: ${missing.mkString(", ")}")
    df
  }

  /** First line of a file — the CSV header. Bounded metadata-scale I/O
    * (one buffered line per file), the same cost class as the directory
    * listing that produced the path. */
  private def firstLine(conf: org.apache.hadoop.conf.Configuration,
      p: Path): Option[String] = {
    val in = p.getFileSystem(conf).open(p)
    try {
      val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      Option(r.readLine()).filter(_.nonEmpty)
    } finally in.close()
  }

  /** Group files by their exact header line. A Spark CSV read given a
    * user schema binds columns POSITIONALLY (per-file headers ignored
    * under the default enforceSchema), and a schemaless multi-file read
    * takes its header from the FIRST file only — either way, one read
    * over files of mixed shape (with/without the `Unnamed: 0` artifact)
    * silently column-shifts the minority shape. Per-header groups make
    * each read's schema exactly its files' shape. Empty/unreadable files
    * are absent from the result (callers quarantine them).
    * Header lines contain no quoted commas (FIXTURES.md §1.1), so a
    * comma split is exact. */
  def groupByHeader(spark: SparkSession,
      paths: Seq[String]): Map[String, Seq[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = paths.flatMap { s => // expand globs; literal paths pass through
      val p = new Path(s)
      Option(p.getFileSystem(conf).globStatus(p)).toSeq.flatten
        .filter(_.isFile).map(_.getPath)
    }
    files.flatMap(p => firstLine(conf, p).map(_ -> p.toString))
      .groupBy(_._1).map { case (h, ps) => h -> ps.map(_._2) }
  }

  def headerColumns(header: String): Seq[String] =
    header.split(",", -1).map(_.trim).toSeq

  /** Can a file with this header ever pass the required-column check?
    * (Presence-only, post-rename — the F1/F2 semantics, decided from the
    * header alone so invalid files can be quarantined per-file instead of
    * failing the whole batch.) */
  def headerIsValid(header: String,
      required: Seq[String] = Schemas.requiredCols): Boolean = {
    val renamed = headerColumns(header)
      .map(c => Schemas.columnMap.getOrElse(c, c)).toSet
    required.forall(renamed.contains)
  }

  /** The simulation id a fact CSV's file name carries
    * (`rxndata_<uuid>.csv`, FIXTURES.md §1). */
  val CsvNameIdPattern = "rxndata_([0-9a-fA-F-]{36})\\.csv"
  private val CsvNameIdRe = CsvNameIdPattern.r.unanchored

  /** [[CsvNameIdPattern]] applied once to a file name (the pipeline's
    * per-file check, on the driver). */
  def csvNameId(name: String): Option[String] = name match {
    case CsvNameIdRe(id) => Some(id)
    case _ => None
  }

  /** The directory a scanned file sits in, from the file's own metadata:
    * the second-to-last segment of `_metadata.file_path` (the same
    * URL-encoded URI `input_file_name` gives). One string split per row,
    * no regex. */
  private val dayOfFile: Column =
    substring_index(
      substring_index(col("_metadata.file_path"), "/", -2), "/", 1)

  /** One schema-bound scan per header shape (header line → paths): each
    * file's columns bind BY HEADER NAME under an all-strings schema that
    * matches its own shape. */
  private def scans(spark: SparkSession,
      byHeader: Map[String, Seq[String]]): Seq[(String, DataFrame)] = {
    require(byHeader.nonEmpty, "no readable CSV files to ingest")
    byHeader.toSeq.sortBy(_._1).map { case (header, ps) =>
      val schema = StructType(headerColumns(header)
        .map(c => StructField(c, StringType, nullable = true)))
      header -> spark.read.option("header", "true").schema(schema).csv(ps: _*)
    }
  }

  /** A1 + C5 — read raw incoming CSVs and recover `day` (and
    * `file_simulation_id`) from each file's metadata, replacing the
    * reference's positional filename slicing (main.py:23). One
    * distributed scan per header shape (usually one or two) — the
    * reference's own "combine CSVs into one large COPY" wish
    * (README.md:29) is Spark's default.
    *
    * Columns bind BY HEADER NAME: files are grouped by exact header line
    * ([[groupByHeader]]) and each group is read under an all-strings
    * schema matching its own shape, then unioned by name and cast — no
    * positional mis-binding, no inference, one data scan. */
  def readIncomingCsvs(spark: SparkSession, paths: Seq[String]): DataFrame =
    readGroupedCsvs(spark, groupByHeader(spark, paths))

  /** Read pre-grouped CSV files (header line → paths), one schema-bound
    * scan per shape, unioned by name. `day` and `file_simulation_id` are
    * selected from `_metadata` per scan, before the union; the pipeline
    * checks ids per file ([[scanFileIds]]) and never selects
    * `file_simulation_id`, so column pruning drops it and its regex from
    * the plan. */
  def readGroupedCsvs(spark: SparkSession,
      byHeader: Map[String, Seq[String]]): DataFrame = {
    val raw = scans(spark, byHeader).map { case (_, df) =>
      df.select(col("*"), dayOfFile.as("day"),
        regexp_extract(col("_metadata.file_name"), CsvNameIdPattern, 1)
          .as("file_simulation_id"))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val types = Schemas.rawCsvSchema.fields.map(f => f.name -> f.dataType).toMap
    raw.select(raw.columns.toSeq.map(c =>
      types.get(c).fold(col(c))(t => col(c).cast(t).as(c))): _*)
  }

  /** What one file's in-file ids are: its row count, how many rows have
    * no id, and the least and greatest id (null when every id is). */
  case class FileIds(path: String, rows: Long, nullIds: Long,
      minId: String, maxId: String) {
    /** Every row of the file carries `id`. */
    def allAre(id: String): Boolean =
      nullIds == 0 && minId == id && maxId == id

    /** The same file's ids over both parts' rows. */
    def merge(o: FileIds): FileIds = {
      // a null id is absent, not least
      def pick(a: String, b: String)(keepA: (String, String) => Boolean) =
        if (a == null) b else if (b == null || keepA(a, b)) a else b
      FileIds(path, rows + o.rows, nullIds + o.nullIds,
        pick(minId, o.minId)(_ <= _), pick(maxId, o.maxId)(_ >= _))
    }
  }

  /** One partition's rows of (id, path), folded into one partial
    * [[FileIds]] per file. */
  private def filePartials(rows: Iterator[(String, String)]): Iterator[FileIds] = {
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, FileIds]
    rows.foreach { case (id, path) =>
      val one = FileIds(path, 1L, if (id == null) 1L else 0L, id, id)
      acc.updateWith(path)(prior => Some(prior.fold(one)(_.merge(one))))
    }
    acc.valuesIterator
  }

  /** The id pre-scan: each group's scan parses only the column that
    * renames to `simulation_id`, keyed by `_metadata.file_path`
    * (URL-encoded URI). Each partition folds its rows into one partial
    * per file and the driver merges the partials (a file split across
    * partitions has several): one job, no exchange. Files without a data
    * row are absent from the result. */
  def scanFileIds(spark: SparkSession,
      byHeader: Map[String, Seq[String]]): Seq[FileIds] = {
    import spark.implicits._
    val ids = scans(spark, byHeader).map { case (header, df) =>
      val idCol = headerColumns(header)
        .find(c => Schemas.columnMap.getOrElse(c, c) == "simulation_id")
        .getOrElse(sys.error(s"no simulation id column in header: $header"))
      df.select(col(idCol).as("id"), col("_metadata.file_path").as("path"))
    }.reduce(_.union(_))
    ids.as[(String, String)].mapPartitions(filePartials).collect().toSeq
      .groupMapReduce(_.path)(identity)(_.merge(_)).values.toSeq
  }

  /** Full clean stage: rename → validate → drop artifact. */
  def clean(df: DataFrame): DataFrame =
    dropIndexArtifact(validated(rename(df)))

  /** B1 — cleaned-CSV write for literal `processed/` parity (header kept,
    * no index column, like df.to_csv(index=False) at file_manager.py:63).
    * The batch pipeline itself skips this text hop and writes Parquet
    * bronze — this is the opt-in reference-compatible output
    * (`Layout.processedParity`), appended per run so successive batches
    * accumulate like the reference's per-file writes. Documented
    * deviation: file names are Spark task parts, not `rxndata_<uuid>.csv`
    * — provenance lives in the ledger, not filenames. */
  def writeProcessedCsv(df: DataFrame, dest: String,
      mode: String = "append"): Unit =
    df.write.option("header", "true").mode(mode).csv(dest)
}
