package graft

import java.sql.Date

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.StructType
import graft.ops.Enrich
import graft.schema.Schemas

class EnrichSpec extends SparkSpecBase {
  import spark.implicits._

  private def dim = Seq(
    ("s1", 1), ("s2", 2)
  ).toDF("simulation_id", "simulation_num")

  private def fact = Seq(
    ("s1", None: Option[Int]), ("s2", Some(99)), ("s3", None)
  ).toDF("simulation_id", "simulation_num")

  test("enrichment assigns only null keys (D5 guard) and leaves unmatched null") {
    val out = Enrich.enrichFact(fact, dim)
      .orderBy("simulation_id")
      .select("simulation_id", "simulation_num")
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
    assert(out.toSeq == Seq(("s1", 1), ("s2", 99), ("s3", -1)))
  }

  test("enrichment is idempotent") {
    val once = Enrich.enrichFact(fact, dim)
    val twice = Enrich.enrichFact(once, dim)
    assert(once.orderBy("simulation_id").collect()
      .sameElements(twice.orderBy("simulation_id").collect()))
  }

  private val metaSchema = StructType(
    Schemas.dimRxnSchema.filterNot(_.name == "simulation_num"))

  private def meta(id: String, dateRun: Option[String]): Row =
    new GenericRowWithSchema(Array(id, "r", 1.0, 1.0, 2.0, 300.0,
      dateRun.map(Date.valueOf).orNull, "ok", 1.0), metaSchema)

  private def numbers(rows: Seq[Row]): Map[String, Int] =
    rows.map(r => r.getString(0) -> r.getInt(1)).toMap

  test("dim numbering continues from the high-water mark, ordered by (date_run, id)") {
    val rows = Seq(meta("b", Some("2024-03-02")), meta("a", Some("2024-03-01")),
      meta("c", Some("2024-03-01")))
    val numbered = Enrich.numberDim(rows, startFrom = 10)
    assert(numbers(numbered) == Map("a" -> 11, "c" -> 12, "b" -> 13))
    // dim column order, every other value carried through
    assert(numbered.head.toSeq == Seq("a", 11, "r", 1.0, 1.0, 2.0, 300.0,
      Date.valueOf("2024-03-01"), "ok", 1.0))
  }

  test("dim numbering puts a null date_run first, as the Spark window did") {
    val rows = Seq(meta("a", Some("2024-03-01")), meta("z", None),
      meta("b", None))
    assert(numbers(Enrich.numberDim(rows, startFrom = 0)) ==
      Map("b" -> 1, "z" -> 2, "a" -> 3))
  }

  test("numberDim fails fast on fact-sized input instead of numbering it " +
      "on the driver") {
    val rows = (1 to 4).map(i => meta(s"s$i", Some("2024-03-01")))
    val e = intercept[IllegalArgumentException] {
      Enrich.numberDim(rows, startFrom = 0, maxDimRows = 3)
    }
    assert(e.getMessage.contains("dim-only"))
    // at the cap is still fine
    assert(Enrich.numberDim(rows, startFrom = 0, maxDimRows = 4).size == 4)
  }
}
