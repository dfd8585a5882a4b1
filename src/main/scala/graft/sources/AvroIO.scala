package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericRecord}
import org.apache.avro.file.DataFileStream
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
import org.apache.avro.util.Utf8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.NullWritable
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro container-file source/sink over the PUBLIC Avro core +
  * avro-mapred APIs — the spark-avro module is not on this classpath,
  * but the container format itself ships with Spark's own Avro
  * dependency, and the MapReduce input/output formats are the
  * scale-correct way in: `AvroKeyInputFormat` splits on the
  * container's sync markers, so a 100 TB Avro drop reads as one task
  * per HDFS block (NOT one task per file — the failure mode of a
  * naive whole-file parse), and the writer emits one container per
  * partition task with the schema embedded in every file header.
  *
  * Type bound, stated not hidden: primitives (long/int/double/float/
  * boolean/string/binary) plus arrays of them, each nullable via the
  * standard [null, T] union. TimestampType is REFUSED loudly — the
  * house rule exports epoch micros, never raw timestamps (events.ts
  * has flipped physical type across testdata drops, and an engine that
  * round-trips it silently inherits each flip), and the
  * refusal keeps this source inside the exactly-round-trippable
  * domain. Schemas travel between driver and executors as Avro JSON
  * (org.apache.avro.Schema is not serializable), re-parsed once per
  * partition.
  */
object AvroIO {

  // ---------------------------------------------------------- schemas

  /** Spark → Avro schema (field order preserved; nullable → union). */
  private[graft] def toAvroSchema(schema: StructType,
      name: String): Schema = {
    val fields = schema.fields.map { f =>
      val base = toAvroType(f.dataType, s"${name}_${f.name}")
      val t =
        if (f.nullable)
          Schema.createUnion(Schema.create(Schema.Type.NULL), base)
        else base
      new Schema.Field(f.name, t, null, null)
    }
    val rec = Schema.createRecord(name, null, "graft", false)
    rec.setFields(java.util.Arrays.asList(fields: _*))
    rec
  }

  private def toAvroType(dt: DataType, name: String): Schema = dt match {
    case LongType => Schema.create(Schema.Type.LONG)
    case IntegerType => Schema.create(Schema.Type.INT)
    case DoubleType => Schema.create(Schema.Type.DOUBLE)
    case FloatType => Schema.create(Schema.Type.FLOAT)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case StringType => Schema.create(Schema.Type.STRING)
    case BinaryType => Schema.create(Schema.Type.BYTES)
    case ArrayType(el, containsNull) =>
      val e = toAvroType(el, name + "_el")
      Schema.createArray(
        if (containsNull)
          Schema.createUnion(Schema.create(Schema.Type.NULL), e)
        else e)
    case other => throw new IllegalArgumentException(
      s"AvroIO: unsupported Spark type $other (timestamps: export " +
        "epoch micros — the house rule; nested structs/maps: out of " +
        "this source's stated domain)")
  }

  /** Avro → Spark schema (unions [null, T] → nullable T). */
  private[graft] def toSparkSchema(schema: Schema): StructType =
    StructType(schema.getFields.asScala.map { f =>
      val (t, nullable) = toSparkType(f.schema())
      StructField(f.name(), t, nullable)
    }.toArray)

  private def toSparkType(s: Schema): (DataType, Boolean) =
    s.getType match {
      case Schema.Type.UNION =>
        val branches = s.getTypes.asScala
        val nonNull = branches.filter(_.getType != Schema.Type.NULL)
        require(nonNull.size == 1,
          s"AvroIO: only [null, T] unions are supported, got $s")
        (toSparkType(nonNull.head)._1, true)
      case Schema.Type.LONG => (LongType, false)
      case Schema.Type.INT => (IntegerType, false)
      case Schema.Type.DOUBLE => (DoubleType, false)
      case Schema.Type.FLOAT => (FloatType, false)
      case Schema.Type.BOOLEAN => (BooleanType, false)
      case Schema.Type.STRING => (StringType, false)
      case Schema.Type.BYTES => (BinaryType, false)
      case Schema.Type.ARRAY =>
        val (el, elNull) = toSparkType(s.getElementType)
        (ArrayType(el, elNull), false)
      case other => throw new IllegalArgumentException(
        s"AvroIO: unsupported Avro type $other")
    }

  // ----------------------------------------------------------- values

  private def toAvroValue(v: Any, s: Schema): Any = {
    val target =
      if (s.getType == Schema.Type.UNION)
        s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
      else s
    v match {
      case null => null
      case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
      case seq: scala.collection.Seq[_] =>
        val el = target.getElementType
        seq.map(x => toAvroValue(x, el)).asJava
      case other => other
    }
  }

  private def toSparkValue(v: Any): Any = v match {
    case null => null
    case u: Utf8 => u.toString
    case s: CharSequence => s.toString
    case bb: java.nio.ByteBuffer =>
      val a = new Array[Byte](bb.remaining()); bb.get(a); a
    case l: java.util.List[_] => l.asScala.map(toSparkValue).toSeq
    case other => other
  }

  // -------------------------------------------------------------- io

  /** Write `df` as Avro container files under `path` — one container
    * per partition task, writer schema embedded in each header. */
  def write(df: DataFrame, path: String): Unit = {
    val avroSchema = toAvroSchema(df.schema, "graft_row")
    val schemaJson = avroSchema.toString
    val nFields = df.schema.length
    val job = Job.getInstance(
      df.sparkSession.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job, avroSchema)
    df.rdd.mapPartitions { it =>
      // Schema is not serializable: re-parse the JSON once per task
      val schema = new Schema.Parser().parse(schemaJson)
      val fields = schema.getFields.asScala.toArray
      it.map { row =>
        val rec: GenericRecord = new GenericData.Record(schema)
        var i = 0
        while (i < nFields) {
          rec.put(i, toAvroValue(row.get(i), fields(i).schema()))
          i += 1
        }
        (new AvroKey[GenericRecord](rec), NullWritable.get())
      }
    }.saveAsNewAPIHadoopFile(path,
      classOf[AvroKey[GenericRecord]], classOf[NullWritable],
      classOf[AvroKeyOutputFormat[GenericRecord]], job.getConfiguration)
  }

  /** Read the Avro container files under `path`. Every container
    * embeds its writer schema; the driver reads ALL headers (a
    * bounded pass — headers, not data) and REFUSES a mixed-schema
    * directory loudly, instead of letting Avro's resolution silently
    * drop an evolved column or crash mid-scan in a task. The scan
    * itself splits on sync markers, so parallelism follows blocks,
    * not files. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, conf)
    val containers = fs.listStatus(p).map(_.getPath)
      .filter(f => f.getName.endsWith(".avro"))
      .sortBy(_.getName)
    require(containers.nonEmpty,
      s"AvroIO: no .avro container files under $path")
    def headerSchema(f: Path): Schema = {
      val in = fs.open(f)
      try {
        val r = new DataFileStream[GenericRecord](in,
          new GenericDatumReader[GenericRecord]())
        try r.getSchema finally r.close()
      } finally in.close()
    }
    val avroSchema = headerSchema(containers.head)
    val stray = containers.tail
      .find(f => headerSchema(f) != avroSchema)
    require(stray.isEmpty,
      s"AvroIO: mixed writer schemas under $path — ${stray.get} " +
        s"disagrees with ${containers.head}; read the drops separately")
    val sparkSchema = toSparkSchema(avroSchema)
    val nFields = sparkSchema.length
    val job = Job.getInstance(conf)
    AvroJob.setInputKeySchema(job, avroSchema)
    val rows = spark.sparkContext.newAPIHadoopFile(path,
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]], classOf[NullWritable],
        job.getConfiguration)
      .mapPartitions { it =>
        // convert IN PLACE: the record reader reuses its AvroKey, so
        // the datum must be consumed before the iterator advances
        it.map { case (k, _) =>
          val rec = k.datum()
          val vals = new Array[Any](nFields)
          var i = 0
          while (i < nFields) {
            vals(i) = toSparkValue(rec.get(i))
            i += 1
          }
          Row.fromSeq(vals.toIndexedSeq)
        }
      }
    spark.createDataFrame(rows, sparkSchema)
  }
}
