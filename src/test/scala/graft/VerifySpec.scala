package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `Verify <sf> <out> [q...]` must refuse a query name it does not
  * know: a silently dropped name leaves an empty compare that reads as
  * zero failures. `SparkEntry.queries` is the one query registry: a
  * hand-copied second one drifts from it. */
class VerifySpec extends AnyFunSuite {
  test("unknown query names are reported, registered ones pass") {
    assert(Verify.unknownNames(Seq("q01_pricing_summary",
      "q48_dedup_clusters")).isEmpty)
    assert(Verify.unknownNames(Seq("q01_pricing_summary", "q48_dedup",
      "q999_nope")) == Seq("q48_dedup", "q999_nope"))
  }

  test("no src/main file but SparkEntry.scala holds more than 8 " +
      "query-name literals") {
    val name = "\"q\\d+_[A-Za-z0-9_]*\"".r
    val counts = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => f.getFileName.toString -> name.findAllIn(Files.readString(f)).size)
      .toSeq
    assert(counts.exists { case (f, n) => f == "SparkEntry.scala" && n > 8 })
    val copies = counts.filter { case (f, n) =>
      f != "SparkEntry.scala" && n > 8 }
    assert(copies.isEmpty,
      s"${copies.mkString(", ")} carry a copy of the query registry")
  }
}
