package graft.ops

import java.io.{BufferedReader, FileNotFoundException, InputStreamReader}
import java.nio.charset.StandardCharsets

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.{HashMap => JHashMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.schema.Schemas

/** Clean-stage operators (SURVEY.md §2 C1/C2/F1/F2, A1).
  *
  * The reference cleans a CSV in three steps: rename, check the required
  * columns, drop the pandas index artifact (file_manager.py:53-62). All
  * three follow from the header line alone, so here they are one rule,
  * [[shape]], and one projection per header shape, [[cleanedFiles]]. The
  * reference reads each CSV three times (clean, validate, COPY;
  * file_manager.py:47, database_manager.py:46-47, 89); here the fact
  * stage parses each CSV once: the write consumes the rows that carry
  * their file's id ([[agreeing]]), and the same pass folds each file's
  * id check into an observation, which the pipeline reads before it
  * commits the write.
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

  /** Open cost charged per file when the fact CSVs are split into scan
    * tasks. Spark's default, 4 MB, lets two ~5 MB files share one split
    * on four cores; that two-file task runs alone in a second wave while
    * the other cores idle. At 1 MB no two files of a few MB share a task,
    * while tiny files still pack together. */
  private val SplitOpenCostBytes = 1L << 20

  /** A session that differs from `spark` only in the open cost per file
    * ([[SplitOpenCostBytes]]): the runtime confs `spark` has set are
    * copied over. A file scan plans its splits from the session of its
    * relation, not of the query that runs it, so a relation built here
    * is split by bytes while its query, and every other scan, keeps the
    * caller's settings. */
  private def splitSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    val fresh = s.conf.getAll
    spark.conf.getAll.foreach { case (k, v) =>
      if (!fresh.get(k).contains(v)) s.conf.set(k, v)
    }
    s.conf.set(SQLConf.FILES_OPEN_COST_IN_BYTES.key, SplitOpenCostBytes)
    s
  }

  /** A1 + C1/C2/F1/F2 + C5 — the cleaned rows of pre-grouped CSV files
    * (header line → paths, [[groupByHeader]]), each with its file. Each
    * shape is one CSV relation, its columns bound BY HEADER NAME under an
    * all-strings schema of its own shape and split by bytes
    * ([[splitSession]]), and one `select` in the caller's session: the
    * required columns, renamed and cast to [[Schemas.factSimSchema]]'s
    * types, `day` from the file's directory (replacing the reference's
    * positional filename slicing, main.py:23), then [[FilePath]]. The
    * selects share one column order, so the shapes combine with a plain
    * `union`. Throws naming the missing columns when a header fails
    * [[shape]]. */
  def cleanedFiles(spark: SparkSession,
      byHeader: Map[String, Seq[Path]]): DataFrame = {
    require(byHeader.nonEmpty, "no readable CSV files to ingest")
    val types = Schemas.factSimSchema.fields.map(f => f.name -> f.dataType).toMap
    val split = splitSession(spark)
    byHeader.toSeq.sortBy(_._1).map { case (header, ps) =>
      val schema = StructType(headerColumns(header)
        .map(c => StructField(c, StringType, nullable = true)))
      val relation = split.read.option("header", "true").schema(schema)
        .csv(ps.map(_.toString): _*)
        .queryExecution.analyzed.collectFirst { case r: LogicalRelation => r.relation }.get
      spark.baseRelationToDataFrame(relation)
        .select(validShape(header).map { case (t, s) =>
          col(s).cast(types(t)).as(t) } :+ dayOfFile.as("day") :+
          col("_metadata.file_path").as(FilePath): _*)
    }.reduce(_.union(_))
  }

  /** [[cleanedFiles]] without the file column. */
  def readCleaned(spark: SparkSession,
      byHeader: Map[String, Seq[Path]]): DataFrame =
    cleanedFiles(spark, byHeader).drop(FilePath)

  /** How one file's rows stand against the id its name gives: its row
    * count, and how many of those rows carry that id. */
  case class FileIds(rows: Long, agreeing: Long) {
    /** Every row of the file carries its name's id. */
    def allAgree: Boolean = agreeing == rows
  }

  private val FileId = "_file_id"
  private val Agrees = "_agrees"

  /** The rows of a [[cleanedFiles]] frame whose `simulation_id` is
    * `fileId`, the id each row's file must carry, and the check of every
    * file against that id: an [[Observation]] of one [[FileIds]] per file
    * id ([[idsOf]]), folded over all of the frame's rows before the
    * filter. The fold rides the action that consumes the rows, so the
    * check launches no job of its own and each file is parsed once; the
    * observation is ready once that action has run. `fileId` must tell
    * the frame's files apart; a file without a data row is absent from
    * the fold. */
  def agreeing(cleaned: DataFrame, fileId: Column): (DataFrame, Observation) = {
    val obs = Observation()
    val rows = cleaned
      .withColumns(Map(FileId -> fileId,
        Agrees -> coalesce(col("simulation_id") === fileId, lit(false))))
      .observe(obs, ColumnBridge.column(FileIdFold(
        ColumnBridge.expression(col(FileId)), ColumnBridge.expression(col(Agrees)))
        .toAggregateExpression()).as(FileId))
      .filter(col(Agrees))
      .drop(FileId, Agrees)
    (rows, obs)
  }

  /** The per-file counts an [[agreeing]] observation folded. */
  def idsOf(obs: Observation): Map[String, FileIds] =
    obs.get(FileId).asInstanceOf[scala.collection.Map[String, Row]]
      .map { case (id, r) => id -> FileIds(r.getLong(0), r.getLong(1)) }.toMap
}

/** The fold behind [[Clean.agreeing]]: (file id, row agrees) rows into
  * one (rows, agreeing) count pair per file id, a map of [[Clean.FileIds]]
  * fields. It reads each row's file id in place, as the scan's own
  * UTF8String, and copies it only when a file is first seen. A typed
  * `Aggregator` decodes every row into a Scala tuple and `String` first;
  * on the bulk benchmark tree that added about 12% to the fact write's
  * executor CPU, and this fold adds none measurable (NOTES.md, "The fact
  * stage in one pass"). */
private[ops] case class FileIdFold(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[JHashMap[UTF8String, Array[Long]]]
  with BinaryLike[Expression] {

  private type Counts = JHashMap[UTF8String, Array[Long]]

  override def dataType: DataType = MapType(StringType,
    StructType(Seq(StructField("rows", LongType, nullable = false),
      StructField("agreeing", LongType, nullable = false))),
    valueContainsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "file_id_fold"

  override def createAggregationBuffer(): Counts = new JHashMap

  override def update(buf: Counts, input: InternalRow): Counts = {
    val id = left.eval(input).asInstanceOf[UTF8String]
    var c = buf.get(id)
    if (c == null) { c = new Array[Long](2); buf.put(id.clone(), c) }
    c(0) += 1
    if (right.eval(input).asInstanceOf[Boolean]) c(1) += 1
    buf
  }

  override def merge(a: Counts, b: Counts): Counts = {
    b.forEach { (id, n) =>
      val c = a.get(id)
      if (c == null) a.put(id, n) else { c(0) += n(0); c(1) += n(1) }
    }
    a
  }

  override def eval(buf: Counts): Any = {
    val ids = new Array[Any](buf.size)
    val counts = new Array[Any](buf.size)
    var i = 0
    buf.forEach { (id, c) =>
      ids(i) = id; counts(i) = InternalRow(c(0), c(1)); i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(ids), new GenericArrayData(counts))
  }

  override def serialize(buf: Counts): Array[Byte] = {
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.forEach { (id, c) =>
      val b = id.getBytes
      out.writeInt(b.length); out.write(b); out.writeLong(c(0)); out.writeLong(c(1))
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Counts = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    (0 until in.readInt()).foreach { _ =>
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      buf.put(UTF8String.fromBytes(b), Array(in.readLong(), in.readLong()))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): FileIdFold =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): FileIdFold =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FileIdFold =
    copy(left = newLeft, right = newRight)
}
