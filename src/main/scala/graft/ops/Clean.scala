package graft.ops

import java.io.{BufferedReader, FileNotFoundException, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.schema.Schemas

/** Clean-stage operators (SURVEY.md §2 C1/C2/F1/F2, A1).
  *
  * The reference cleans a CSV in three steps: rename, check the required
  * columns, drop the pandas index artifact (file_manager.py:53-62). All
  * three follow from the header line alone, so here they are one rule,
  * [[shape]], and one projection per header shape, [[cleanedFiles]]. The
  * reference reads each CSV three times (clean, validate, COPY;
  * file_manager.py:47, database_manager.py:46-47, 89); here one CSV
  * relation per header shape serves both reads of the fact stage: a
  * column-pruned pre-scan of the id column ([[scanFileIds]]), so that
  * the pipeline can decide each file before writing any row, and the
  * write of the files that passed.
  */
object Clean {

  /** First line of a file — the CSV header. Bounded metadata-scale I/O
    * (one buffered line per file), the same cost class as the directory
    * listing that produced the path. A file gone since it was listed has
    * none. */
  private def firstLine(conf: org.apache.hadoop.conf.Configuration,
      p: Path): Option[String] = {
    val in =
      try p.getFileSystem(conf).open(p)
      catch { case _: FileNotFoundException => return None }
    try {
      val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      Option(r.readLine()).filter(_.nonEmpty)
    } finally in.close()
  }

  /** Group listed files by their exact header line. A Spark CSV read given a
    * user schema binds columns POSITIONALLY (per-file headers ignored
    * under the default enforceSchema), and a schemaless multi-file read
    * takes its header from the FIRST file only — either way, one read
    * over files of mixed shape (with/without the `Unnamed: 0` artifact)
    * silently column-shifts the minority shape. Per-header groups make
    * each read's schema exactly its files' shape. Empty files and files
    * gone before the header peek are absent from the result (callers
    * quarantine them). */
  def groupByHeader(spark: SparkSession,
      files: Seq[Path]): Map[String, Seq[Path]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap(p => firstLine(conf, p).map(_ -> p)).groupMap(_._1)(_._2)
  }

  /** Header lines contain no quoted commas (FIXTURES.md §1.1), so a comma
    * split is exact. */
  private def headerColumns(header: String): Seq[String] =
    header.split(",", -1).map(_.trim).toSeq

  /** The clean rule of one header: rename (C1), required-column check
    * (F1/F2, presence-only, after the rename) and artifact drop (C2).
    * Left: the required columns the header lacks. Right: each required
    * column paired with the header column it is read from, in
    * [[Schemas.requiredCols]] order; any other column, the `Unnamed: 0`
    * artifact among them, is not read. */
  def shape(header: String): Either[Seq[String], Seq[(String, String)]] = {
    val source = headerColumns(header)
      .map(c => Schemas.columnMap.getOrElse(c, c) -> c).toMap
    val missing = Schemas.requiredCols.filterNot(source.contains)
    if (missing.nonEmpty) Left(missing)
    else Right(Schemas.requiredCols.map(t => t -> source(t)))
  }

  /** [[shape]] of a header that must pass — raises like the reference's
    * ValueError (file_manager.py:58) when required columns are absent. */
  private def validShape(header: String): Seq[(String, String)] =
    shape(header).fold(missing => throw new IllegalArgumentException(
      s"schema validation failed; missing columns: ${missing.mkString(", ")}"),
      identity)

  /** The directory a scanned file sits in, from the file's own metadata:
    * the second-to-last segment of `_metadata.file_path` (the same
    * URL-encoded URI `input_file_name` gives). One string split per row,
    * no regex. */
  private val dayOfFile: Column =
    substring_index(
      substring_index(col("_metadata.file_path"), "/", -2), "/", 1)

  /** The cleaned frame's column holding each row's `_metadata.file_path`:
    * the URL-encoded URI its relation lists the file under. */
  val FilePath = "file_path"

  /** A1 + C1/C2/F1/F2 + C5 — the cleaned rows of pre-grouped CSV files
    * (header line → paths, [[groupByHeader]]), each with its file. Each
    * shape is one CSV relation, its columns bound BY HEADER NAME under an
    * all-strings schema of its own shape, and one `select`: the required
    * columns, renamed and cast to [[Schemas.factSimSchema]]'s types,
    * `day` from the file's directory (replacing the reference's
    * positional filename slicing, main.py:23), then [[FilePath]]. The
    * selects share one column order, so the shapes combine with a plain
    * `union`. A filter on [[FilePath]] prunes files before any is read.
    * Throws naming the missing columns when a header fails [[shape]]. */
  def cleanedFiles(spark: SparkSession,
      byHeader: Map[String, Seq[Path]]): DataFrame = {
    require(byHeader.nonEmpty, "no readable CSV files to ingest")
    val types = Schemas.factSimSchema.fields.map(f => f.name -> f.dataType).toMap
    byHeader.toSeq.sortBy(_._1).map { case (header, ps) =>
      val schema = StructType(headerColumns(header)
        .map(c => StructField(c, StringType, nullable = true)))
      spark.read.option("header", "true").schema(schema)
        .csv(ps.map(_.toString): _*)
        .select(validShape(header).map { case (t, s) =>
          col(s).cast(types(t)).as(t) } :+ dayOfFile.as("day") :+
          col("_metadata.file_path").as(FilePath): _*)
    }.reduce(_.union(_))
  }

  /** [[cleanedFiles]] without the file column. */
  def readCleaned(spark: SparkSession,
      byHeader: Map[String, Seq[Path]]): DataFrame =
    cleanedFiles(spark, byHeader).drop(FilePath)

  /** What one file's in-file ids are: its row count, how many rows have
    * no id, and the least and greatest id (null when every id is).
    * `path` is the file's [[FilePath]] as its relation spells it. */
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

  /** The id pre-scan of a [[cleanedFiles]] frame: its (simulation_id,
    * [[FilePath]]) projection, so each shape's scan parses only the
    * column that [[shape]] reads `simulation_id` from. Each partition
    * folds its rows into one partial per file and the driver merges the
    * partials (a file split across partitions has several): one job, no
    * exchange. Files without a data row are absent from the result. */
  def scanFileIds(cleaned: DataFrame): Seq[FileIds] = {
    import cleaned.sparkSession.implicits._
    cleaned.select(col("simulation_id"), col(FilePath)).as[(String, String)]
      .mapPartitions(filePartials).collect().toSeq
      .groupMapReduce(_.path)(identity)(_.merge(_)).values.toSeq
  }
}
