package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{DoubleType, StringType}
import graft.ops.Clean
import graft.schema.Schemas

class CleanSpec extends SparkSpecBase {

  private def cleaned(glob: String) = {
    val p = new Path(glob)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .globStatus(p).map(_.getPath).toSeq
    Clean.readCleaned(spark, Clean.groupByHeader(spark, files))
  }

  test("rename maps every unit-annotated header to snake_case") {
    val root = TestFixtures.tempRoot("clean-rename")
    TestFixtures.writeCsv(root, "2024-03-01", 1, 5)
    val pairs = Clean.shape(TestFixtures.csvHeader).toOption.get
    assert(pairs.map(_._1) == Schemas.requiredCols)
    assert(pairs.forall { case (t, s) => Schemas.columnMap(s) == t })
    val df = cleaned(s"$root/incoming/*/*.csv")
    assert(df.columns.toSeq == Schemas.requiredCols :+ "day")
    // typed as the fact table's columns
    assert(df.schema("simulation_id").dataType == StringType)
    assert(Schemas.requiredCols.tail.forall(c => df.schema(c).dataType == DoubleType))
    assert(df.count() == 5)
  }

  test("the index artifact is not read; both header shapes bind by name") {
    val root = TestFixtures.tempRoot("clean-drop")
    TestFixtures.writeCsv(root, "2024-03-01", 1, 3, withArtifact = false)
    TestFixtures.writeCsv(root, "2024-03-01", 2, 3, withArtifact = true)
    val withArtifact = Clean.shape(TestFixtures.csvHeader)
    val without = Clean.shape(TestFixtures.csvHeader.split(",").drop(1).mkString(","))
    // the artifact is no source of any required column: both shapes read
    // the same columns
    assert(withArtifact == without)
    assert(!withArtifact.toOption.get.exists(_._2 == "Unnamed: 0"))
    val df = cleaned(s"$root/incoming/*/*.csv")
    assert(!df.columns.contains("Unnamed: 0"))
    // columns bind BY NAME in each shape: nothing shifts — simulation_id
    // is the uuid, rxn_time starts at 0.0 and temperature is its own
    val rows = df.groupBy("simulation_id")
      .agg(org.apache.spark.sql.functions.min("rxn_time"),
        org.apache.spark.sql.functions.min("temperature"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(rows == Map(
      TestFixtures.simUuid(1) -> (0.0, 310.0),
      TestFixtures.simUuid(2) -> (0.0, 320.0)))
  }

  test("missing required column fails validation with its name") {
    val root = TestFixtures.tempRoot("clean-miss")
    TestFixtures.writeCsv(root, "2024-03-01", 2, 3,
      dropColumn = Some("CB (mol/m^3)"))
    val header = TestFixtures.csvHeader.split(",")
      .filterNot(_ == "CB (mol/m^3)").mkString(",")
    assert(Clean.shape(header) == Left(Seq("cb")))
    val e = intercept[IllegalArgumentException] {
      cleaned(s"$root/incoming/2024-03-01/*.csv")
    }
    assert(e.getMessage.contains("cb"))
  }

  test("simulation_id and day recovered from path") {
    val root = TestFixtures.tempRoot("clean-path")
    TestFixtures.writeCsv(root, "2024-03-02", 7, 4)
    val rows = cleaned(s"$root/incoming/*/*.csv")
      .select("day", "simulation_id").distinct().collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "2024-03-02")
    // the in-file id agrees with the file name (FIXTURES.md contract)
    assert(rows(0).getString(1) == TestFixtures.simUuid(7))
  }
}
