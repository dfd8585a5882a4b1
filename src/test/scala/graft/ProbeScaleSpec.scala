package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.functions.col

/** `Probe scale` compares 1x against a synthesized 10x tree. The ratios
  * only mean scaling if the tree is whole and each replica joins only
  * itself: every table present, the fact-like tables 10x, the
  * dimensions once, each key join matching exactly 10x its 1x rows,
  * and 10x the distinct texts and vectors, so dedup and similarity
  * queries do not see each document nine more times. */
class ProbeScaleSpec extends SparkSpecBase {

  private val Replicated = Seq("customer", "documents", "embeddings",
    "events", "lineitem", "orders", "part")
  private val Dims = Seq("nation", "region", "supplier")

  private def tables(dir: String): Set[String] =
    new File(dir).list().filter(_.endsWith(".parquet")).toSet

  test("the 10x tree holds every table, 10x rows per replicated table, " +
      "and every key join matches 10x") {
    val out = Files.createTempDirectory("graft-scale")
    try {
      tools.Probe.synthesize(spark, sf0001, out.toString)
      val big = out.toString
      assert(tables(big) == tables(sf0001))
      assert(tables(sf0001).map(_.stripSuffix(".parquet")) ==
        (Replicated ++ Dims).toSet)
      def rows(dir: String, t: String): Long = Tables(spark, dir, t).count()
      Replicated.foreach { t =>
        assert(rows(big, t) == 10 * rows(sf0001, t), t)
      }
      Dims.foreach(t => assert(rows(big, t) == rows(sf0001, t), t))
      // no replica copies another's text or vector verbatim
      Seq("documents" -> "text", "embeddings" -> "embedding").foreach {
        case (t, c) =>
          def distinct(dir: String): Long =
            Tables(spark, dir, t).select(col(c)).distinct().count()
          assert(distinct(big) == 10 * distinct(sf0001), s"$t.$c")
      }
      Seq(("lineitem", "l_orderkey", "orders", "o_orderkey"),
          ("orders", "o_custkey", "customer", "c_custkey"),
          ("lineitem", "l_partkey", "part", "p_partkey"),
          ("lineitem", "l_suppkey", "supplier", "s_suppkey")).foreach {
        case (l, lk, r, rk) =>
          def matches(dir: String): Long = Tables(spark, dir, l)
            .join(Tables(spark, dir, r), col(lk) === col(rk)).count()
          val one = matches(sf0001)
          assert(one > 0, s"$lk = $rk")
          assert(matches(big) == 10 * one, s"$lk = $rk")
      }
    } finally Files.walk(out).sorted(Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }
}
