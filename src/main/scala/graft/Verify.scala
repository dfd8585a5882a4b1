package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json and errors.json, for the DuckDB compare
  * (tools/check_oracle.py). Usage: `Verify <sfDir> <outDir> [q...]` —
  * query names restrict the run to that subset; an unknown name fails
  * the run before any work, since a dropped name would otherwise read
  * as a clean (empty) compare. */
object Verify {
  /** The names not registered in SparkEntry.queries. */
  def unknownNames(names: Seq[String]): Seq[String] =
    names.filterNot(SparkEntry.queries.contains)

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: Verify <sfDir> <outDir> [query...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    val names = args.drop(2).toSet
    val unknown = unknownNames(names.toSeq.sorted)
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    def selected(name: String): Boolean = names.isEmpty || names(name)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A query that throws must leave an explicit, machine-readable trace:
    // otherwise it leaves no parquet dir, and the correctness artifact
    // simply has one fewer row and reads as 100% pass on its own
    // (OPTIMIZATION_r17, history). Collect failures and dump them to
    // errors.json so no registered query can ever vanish from the
    // artifacts without a recorded cause.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: {${q("err")}: ${q(v)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // Exit 0 even on per-query failure: the driver must still run the
    // DuckDB compare over the queries that DID produce results (a
    // nonzero exit could zero the whole round). errors.json + the stderr
    // banner are the explicit record.
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} queries FAILED: "
          + errors.keys.mkString(", "))
    spark.stop()
  }
}
