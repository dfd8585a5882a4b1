package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ops.{Forget, Merge, Rewrite, Scd}
import graft.pipeline.FilePipeline
import graft.streaming.StreamingCdc

/** The copy-on-write partition rewrite ([[Rewrite.partitions]]) is the
  * one place that normalizes null partition values and runs a dynamic
  * partition overwrite, and each of its callers is pinned at the Spark
  * jobs it runs on a small fixture. The rewrite finds emptied partitions
  * from file listings, so no caller runs a job to collect the
  * partitions it wrote. */
class RewriteSpec extends SparkSpecBase {

  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def pin(what: String, expected: Int)(body: => Unit): Unit = {
    val jobs = countJobs(body)
    info(s"$what: $jobs jobs")
    assert(jobs == expected, what)
  }

  test("only Rewrite names the Hive default partition; only Rewrite and " +
      "the two batch_id sinks run a dynamic partition overwrite") {
    val root = Paths.get("src/main/scala/graft")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString -> Files.readString(f)).toSeq
    assert(sources.exists(_._1 == "ops/Rewrite.scala"))
    def outside(token: String, owners: Set[String]): Seq[String] =
      sources.collect {
        case (f, src) if !owners(f) && src.contains(token) => f
      }.sorted
    assert(outside("__HIVE_DEFAULT_PARTITION__", Set("ops/Rewrite.scala"))
      .isEmpty)
    // the streaming sinks delete their own batch_id= partition first
    assert(outside("partitionOverwriteMode", Set("ops/Rewrite.scala",
      "streaming/DeltaIndex.scala", "streaming/StreamingShards.scala"))
      .isEmpty)
  }

  test("rewrite replaces written partitions, removes emptied ones under " +
      "their escaped or Hive default names, and leaves the rest alone") {
    val dir = tmp("graft-rewrite")
    Seq((1L, Option("a:b")), (2L, Option("c")), (3L, None), (4L, Option("d")))
      .toDF("k", "p").write.partitionBy("p").parquet(dir)
    def listing(part: String): Set[(String, Long)] =
      new java.io.File(s"$dir/$part").listFiles()
        .map(f => (f.getName, f.lastModified)).toSet
    val escaped = s"$dir/p=a%3Ab"
    assert(new java.io.File(escaped).exists())
    val untouched = listing("p=d")
    val parts = Seq("a:b", "c", Rewrite.HiveDefaultPartition)
    val t = spark.read.parquet(dir)
    Rewrite.partitions(spark, dir, "p", parts,
      Rewrite.slice(t, "p", parts).filter(col("k") === 2L))
    assert(!new java.io.File(escaped).exists())
    assert(!new java.io.File(s"$dir/p=${Rewrite.HiveDefaultPartition}").exists())
    assert(listing("p=d") == untouched)
    assert(spark.read.parquet(dir).orderBy("k").as[(Long, String)].collect()
      .toSeq == Seq((2L, "c"), (4L, "d")))
  }

  test("a staged append commits only what the last write staged, " +
      "and a failed body commits nothing") {
    val dir = tmp("graft-staged")
    Seq((1L, "a")).toDF("k", "p").write.partitionBy("p").parquet(dir)
    val staging = Paths.get(dir).resolveSibling("_staging")
    def read = spark.read.parquet(dir).orderBy("k").as[(Long, String)]
      .collect().toSeq
    // the first write is discarded by the second
    val n = Rewrite.staged(spark, dir, "p") { stage =>
      stage(Seq((2L, "a"), (3L, "b")).toDF("k", "p"))
      stage(Seq((4L, "b"), (5L, "c")).toDF("k", "p"))
      2
    }
    assert(n == 2)
    assert(read == Seq((1L, "a"), (4L, "b"), (5L, "c")))
    assert(Files.list(staging).count() == 0)
    intercept[IllegalStateException](Rewrite.staged(spark, dir, "p") { stage =>
      stage(Seq((6L, "a")).toDF("k", "p"))
      throw new IllegalStateException("rejected")
    })
    assert(read == Seq((1L, "a"), (4L, "b"), (5L, "c")))
    assert(Files.list(staging).count() == 0)
  }

  test("jobs of MERGE: update, delete emptying a partition, insert") {
    val dir = tmp("graft-jobs-merge")
    Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"), (4L, "d", "p3"))
      .toDF("k", "v", "part").write.partitionBy("part").parquet(dir)
    val src = Seq((2L, "B", "p1"), (3L, "C", "p2"), (9L, "i", "p9"))
      .toDF("k", "v", "part")
    pin("mergeIntoParquet", 9) {
      Merge.mergeIntoParquet(spark, dir, src, Seq("k"), "part",
        deleteWhen = Some(col("t.k") === 3L))
    }
    assert(!new java.io.File(s"$dir/part=p2").exists())
  }

  test("jobs of forget: one partition emptied, one partly deleted") {
    val dir = tmp("graft-jobs-forget")
    Seq((1L, "p1"), (2L, "p1"), (3L, "p2"), (4L, "p3"))
      .toDF("k", "part").write.partitionBy("part").parquet(dir)
    pin("forgetFromParquet", 8) {
      Forget.forgetFromParquet(spark, dir, "k", Seq(1L, 3L).toDF("k"), "part")
    }
    assert(!new java.io.File(s"$dir/part=p2").exists())
  }

  test("jobs of CDC vacuum: a partition held only by an expired tombstone") {
    val dir = tmp("graft-jobs-vacuum")
    Seq((1L, "a", 1L, false, "p1"), (2L, "b", 2L, true, "p1"),
        (3L, "c", 3L, true, "p2"))
      .toDF("k", "x", "last_version", "_deleted", "part")
      .write.partitionBy("part").parquet(dir)
    pin("vacuumTombstones", 4) {
      StreamingCdc.vacuumTombstones(spark, dir, "part", 5L)
    }
    assert(!new java.io.File(s"$dir/part=p2").exists())
  }

  test("jobs of an SCD2 increment into a stored history") {
    val dir = tmp("graft-jobs-scd2")
    def batch(rows: (Long, Long, Long, String)*) =
      rows.toDF("k", "ts", "seq", "status")
    def apply(b: org.apache.spark.sql.DataFrame): Unit =
      Scd.applyScd2Increment(spark, dir, b, "k", "ts", "seq",
        Seq("status"), 8)
    apply(batch((1L, 10L, 1L, "a"), (2L, 10L, 2L, "x")))
    pin("applyScd2Increment", 7) {
      apply(batch((1L, 20L, 3L, "b"), (3L, 15L, 4L, "z")))
    }
  }

  test("jobs of the enrichment backfill of one late-metadata day") {
    val root = TestFixtures.tempRoot("graft-jobs-backfill")
    TestFixtures.writeCsv(root, "2024-03-01", 61, 6)
    TestFixtures.writeMetadata(root, "2024-03-01", 61)
    TestFixtures.writeCsv(root, "2024-03-02", 62, 4)
    FilePipeline.run(spark, root.toString)
    TestFixtures.writeMetadata(root, "2024-03-02", 62, dateRun = "2024-03-02")
    FilePipeline.run(spark, root.toString)
    pin("backfillEnrichment", 4) {
      assert(FilePipeline.backfillEnrichment(spark, root.toString) == 4)
    }
  }
}
