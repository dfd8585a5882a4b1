package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** The analytic and curation query surface, driven through
  * `SparkEntry.queries` and materialized through the `noop` sink. The
  * frozen list, its data set and the expected result of every query live
  * in `query_mix.json` next to the benchmark. */
object QueryMix {

  /** One frozen query: expected row count and, where a DuckDB oracle
    * confirmed the result, its order-insensitive digest. */
  case class Expected(name: String, rows: Long, digest: Option[String])

  case class Mix(dataDir: Path, queries: Seq[Expected])

  def load(benchDir: Path): Mix = {
    val root = new ObjectMapper().readTree(benchDir.resolve("query_mix.json").toFile)
    val qs = root.get("queries").elements().asScala.map { q =>
      Expected(q.get("name").asText(), q.get("rows").asLong(-1L),
        Option(q.get("digest")).filterNot(_.isNull).map(_.asText()))
    }.toSeq
    Mix(benchDir.resolve(root.get("data").asText()), qs)
  }

  def build(spark: SparkSession, mix: Mix, name: String): DataFrame =
    SparkEntry.queries(name)(spark, mix.dataDir.toString)

  def exec(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Canonical text of one cell: stable across runs and JVMs. */
  private def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", "\u0001", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .mkString("<", "\u0001", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  /** Row count and an order-insensitive digest of `df`'s result: columns
    * taken in name order, each row hashed, the hashes summed. */
  def digest(df: DataFrame): (Long, String) = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect()
    val md = MessageDigest.getInstance("MD5")
    var acc = 0L
    rows.foreach { r =>
      val text = order.map(i => canon(r.get(i))).mkString("\u0002")
      val h = md.digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      acc += java.nio.ByteBuffer.wrap(h).getLong
    }
    (rows.length.toLong, f"$acc%016x")
  }

  /** Checks one query's collected result against the frozen expectation. */
  def check(e: Expected, got: (Long, String)): Boolean =
    got._1 == e.rows && e.digest.forall(_ == got._2)

  /** Layer each query's own code lives in, read from the object its
    * `SparkEntry.queries` entry calls; charged with the jobs of its
    * `noop` write, which carry no `graft.*` frame. */
  def modules(names: Seq[String]): Map[String, String] = {
    val src = java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")
    val text = if (Files.exists(src)) Files.readString(src) else ""
    val ref = """(?:graft\.(\w+)\.)?([A-Z]\w*)\.[a-z]\w*""".r
    names.map { n =>
      val at = text.indexOf("\"" + n + "\" ->")
      val layer = if (at < 0) "other" else {
        ref.findAllMatchIn(text.substring(at, math.min(text.length, at + 600)))
          .map(m => (Option(m.group(1)), m.group(2)))
          .find { case (_, o) => o != "SparkSession" && o != "String" }
          .map {
            case (Some(pkg), _) => Trace.layerOfPackage(pkg)
            case (None, obj) => packageOf(obj)
          }.getOrElse("other")
      }
      n -> layer
    }.toMap
  }

  private def packageOf(obj: String): String =
    (Trace.Layers ++ Seq("functions")).find { p =>
      try { Class.forName(s"graft.$p.$obj$$"); true }
      catch { case _: ClassNotFoundException => false }
    }.map(Trace.layerOfPackage).getOrElse("other")

  /** Runs every query once, writes its result as Parquet under
    * `out/results/<name>` and its digest and oracle SQL to
    * `out/digests.json`, for the one-off cross-check against DuckDB. */
  def dumpDigests(spark: SparkSession, mix: Mix, out: Path): Unit = {
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    mix.queries.foreach { e =>
      val df = build(spark, mix, e.name)
      df.write.mode("overwrite").parquet(out.resolve(s"results/${e.name}").toString)
      val (rows, d) = digest(df)
      val q = node.putObject(e.name)
      q.put("rows", rows)
      q.put("digest", d)
      SparkEntry.oracleSql.get(e.name).foreach(q.put("oracle_sql", _))
    }
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(out.resolve("digests.json").toFile, node)
  }
}
