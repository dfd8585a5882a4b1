package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.ops.Ledger
import graft.pipeline.FilePipeline

class PipelineSpec extends SparkSpecBase {

  /** Every `rxn_data` success's `records_inserted` equals the fact rows
    * written for its simulation. For a root that has seen one ingesting
    * run, the fact table holds exactly that run's rows. */
  private def assertLedgerCountsMatchFact(layout: FilePipeline.Layout): Unit = {
    val ledgered = Ledger.read(spark, layout.ledger)
      .filter(col("etl_type") === Ledger.EtlTypeCsv &&
        col("status") === "success")
      .select("simulation_id", "records_inserted").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val written = spark.read.parquet(layout.factTable)
      .groupBy("simulation_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ledgered.nonEmpty && ledgered == written)
  }

  /** Each failed `rxn_data` ledger row's message, by simulation id. */
  private def failedMessages(layout: FilePipeline.Layout): Map[String, String] =
    Ledger.read(spark, layout.ledger)
      .filter(col("etl_type") === Ledger.EtlTypeCsv &&
        col("status") === "failed")
      .select("simulation_id", "error_message").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** Each `rxn_data` ledger row as (id, status, records, message). */
  private def csvLedger(layout: FilePipeline.Layout)
      : Seq[(String, String, Long, String)] =
    Ledger.read(spark, layout.ledger)
      .filter(col("etl_type") === Ledger.EtlTypeCsv)
      .select("simulation_id", "status", "records_inserted", "error_message")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSeq.sorted

  test("end-to-end: ingest, enrich at write, ledger, archive; second run is a no-op") {
    val root = TestFixtures.tempRoot("pipe-e2e")
    // day 1: two complete sims (csv + metadata)
    TestFixtures.writeCsv(root, "2024-03-01", 1, 10)
    TestFixtures.writeMetadata(root, "2024-03-01", 1)
    TestFixtures.writeCsv(root, "2024-03-01", 2, 20)
    TestFixtures.writeMetadata(root, "2024-03-01", 2, dateRun = "2024-03-02")
    // day 2: csv arrives before its metadata (enriched later via backfill)
    TestFixtures.writeCsv(root, "2024-03-02", 3, 5)

    val r1 = FilePipeline.run(spark, root.toString)
    assert(r1.csvFilesIngested == 3)
    assert(r1.factRowsInserted == 35)
    assert(r1.metadataFilesIngested == 2)
    assert(r1.dimRowsInserted == 2)
    assert(r1.failures == 0)
    assert(r1.filesArchived == 5)

    val layout = FilePipeline.Layout(root.toString)
    val fact = spark.read.parquet(layout.factTable)
    val dim = spark.read.parquet(layout.dimTable)
    // dim numbering ordered by (date_run, simulation_id): sim1 then sim2
    val nums = dim.select("simulation_id", "simulation_num").collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    assert(nums == Map(
      TestFixtures.simUuid(1) -> 1, TestFixtures.simUuid(2) -> 2))
    // facts for sims 1/2 enriched at write; sim 3 still null
    assert(fact.filter(col("simulation_num").isNotNull).count() == 30)
    assert(fact.filter(col("simulation_num").isNull).count() == 5)
    // day partitioning materialized
    assert(fact.select("day").distinct().count() == 2)
    // originals moved to archive, incoming drained
    assert(Files.list(root.resolve("incoming")).count() > 0) // day dirs remain
    assert(!Files.exists(root.resolve(
      s"incoming/2024-03-01/rxndata_${TestFixtures.simUuid(1)}.csv")))
    assert(Files.exists(root.resolve(
      s"archive/2024-03-01/rxndata_${TestFixtures.simUuid(1)}.csv")))

    // second run: nothing new
    val r2 = FilePipeline.run(spark, root.toString)
    assert(r2.csvFilesIngested == 0 && r2.metadataFilesIngested == 0)
    assert(spark.read.parquet(layout.factTable).count() == 35)

    // late metadata for sim 3 arrives; numbering continues at 3
    TestFixtures.writeMetadata(root, "2024-03-02", 3, dateRun = "2024-03-03")
    val r3 = FilePipeline.run(spark, root.toString)
    assert(r3.dimRowsInserted == 1 && r3.csvFilesIngested == 0)
    val backfilled = FilePipeline.backfillEnrichment(spark, root.toString)
    assert(backfilled == 5)
    val fact2 = spark.read.parquet(layout.factTable)
    assert(fact2.filter(col("simulation_num").isNull).count() == 0)
    assert(fact2.count() == 35)
    // backfill is idempotent
    assert(FilePipeline.backfillEnrichment(spark, root.toString) == 0)

    // ledger: latest state per key is success, with real row counts
    val ledger = graft.ops.Ledger.read(spark, layout.ledger)
    val byKey = graft.ops.Ledger.latestState(ledger)
      .select("simulation_id", "etl_type", "records_inserted", "status")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getString(3)))
      .toMap
    assert(byKey(TestFixtures.simUuid(1) -> "rxn_data") == (10L, "success"))
    assert(byKey(TestFixtures.simUuid(2) -> "rxn_data") == (20L, "success"))
    assert(byKey(TestFixtures.simUuid(3) -> "metadata") == (1L, "success"))
  }

  test("CSV whose in-file SimulationID disagrees with its filename is quarantined") {
    val root = TestFixtures.tempRoot("pipe-mismatch")
    TestFixtures.writeCsv(root, "2024-03-01", 5, 4)
    TestFixtures.writeCsv(root, "2024-03-01", 6, 4,
      inFileIdOverride = Some(TestFixtures.simUuid(99)))
    val r = FilePipeline.run(spark, root.toString)
    assert(r.factRowsInserted == 4) // only the consistent file's rows
    assert(r.failures == 1)
    assert(r.filesArchived == 1) // mismatched file retained in incoming
    assert(Files.exists(root.resolve(
      s"incoming/2024-03-01/rxndata_${TestFixtures.simUuid(6)}.csv")))
    val layout = FilePipeline.Layout(root.toString)
    val states = graft.ops.Ledger.latestState(
      graft.ops.Ledger.read(spark, layout.ledger))
      .select("simulation_id", "status").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(states(TestFixtures.simUuid(5)) == "success")
    assert(states(TestFixtures.simUuid(6)) == "failed")
    assert(failedMessages(layout) == Map(TestFixtures.simUuid(6) ->
      "in-file SimulationID disagrees with filename"))
    assertLedgerCountsMatchFact(layout)
  }

  test("one batch mixing artifact and artifact-less CSVs binds by header per shape") {
    val root = TestFixtures.tempRoot("pipe-shapes")
    // artifact-less file FIRST in listing order: a schemaless multi-file
    // read would take its 8-col header and shift the 9-col file's values
    TestFixtures.writeCsv(root, "2024-03-01", 1, 3, withArtifact = false)
    TestFixtures.writeCsv(root, "2024-03-01", 2, 3, withArtifact = true)
    val r = FilePipeline.run(spark, root.toString)
    assert(r.factRowsInserted == 6 && r.failures == 0)
    val layout = FilePipeline.Layout(root.toString)
    val fact = spark.read.parquet(layout.factTable)
    assert(fact.filter(col("simulation_id").isNull).count() == 0)
    // value-level: temperature column holds temperature, not a shift
    val temps = fact.groupBy("simulation_id")
      .agg(org.apache.spark.sql.functions.min("temperature")).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(temps(TestFixtures.simUuid(1)) == 310.0)
    assert(temps(TestFixtures.simUuid(2)) == 320.0)
    assertLedgerCountsMatchFact(layout)
  }

  test("CSV whose header lacks a required column is quarantined per-file, not batch-fatal") {
    val root = TestFixtures.tempRoot("pipe-badheader")
    TestFixtures.writeCsv(root, "2024-03-01", 7, 4)
    TestFixtures.writeCsv(root, "2024-03-01", 8, 4,
      dropColumn = Some("CB (mol/m^3)"))
    val r = FilePipeline.run(spark, root.toString)
    assert(r.factRowsInserted == 4) // good file still lands
    assert(r.failures == 1)
    assert(Files.exists(root.resolve( // bad file retained for retry
      s"incoming/2024-03-01/rxndata_${TestFixtures.simUuid(8)}.csv")))
    val layout = FilePipeline.Layout(root.toString)
    val states = graft.ops.Ledger.latestState(
      graft.ops.Ledger.read(spark, layout.ledger))
      .select("simulation_id", "status", "error_message").collect()
      .map(x => x.getString(0) -> (x.getString(1), x.getString(2))).toMap
    assert(states(TestFixtures.simUuid(7))._1 == "success")
    assert(states(TestFixtures.simUuid(8))._1 == "failed")
    assert(states(TestFixtures.simUuid(8))._2.contains("required"))
    assert(failedMessages(layout) == Map(TestFixtures.simUuid(8) ->
      "header missing required columns or file unreadable"))
    assertLedgerCountsMatchFact(layout)
  }

  test("invalid metadata (missing simulation_id) gets a failed ledger row, not inserted") {
    val root = TestFixtures.tempRoot("pipe-badmeta")
    TestFixtures.writeMetadata(root, "2024-03-01", 9, omitId = true)
    val r = FilePipeline.run(spark, root.toString)
    assert(r.metadataFilesIngested == 1 && r.dimRowsInserted == 0)
    assert(r.failures == 1)
    val layout = FilePipeline.Layout(root.toString)
    val failed = graft.ops.Ledger.read(spark, layout.ledger)
      .filter(col("status") === "failed")
    assert(failed.count() == 1)
    assert(failed.select("error_message").head().getString(0) != null)
  }

  test("backfill rewrites only affected day partitions; untouched days byte-identical") {
    val root = TestFixtures.tempRoot("pipe-backfill")
    // day1 fully enriched at write time; day2's metadata arrives late
    TestFixtures.writeCsv(root, "2024-03-01", 21, 6)
    TestFixtures.writeMetadata(root, "2024-03-01", 21)
    TestFixtures.writeCsv(root, "2024-03-02", 22, 4)
    FilePipeline.run(spark, root.toString)
    val day1 = root.resolve("warehouse/fact_sim/day=2024-03-01")
    def snapshot(p: java.nio.file.Path): Set[(String, Long, Long)] = {
      val s = Files.list(p).iterator()
      var out = Set.empty[(String, Long, Long)]
      while (s.hasNext) {
        val f = s.next()
        if (!f.getFileName.toString.startsWith("."))
          out += ((f.getFileName.toString, Files.size(f),
            Files.getLastModifiedTime(f).toMillis))
      }
      out
    }
    val before = snapshot(day1)
    TestFixtures.writeMetadata(root, "2024-03-02", 22, dateRun = "2024-03-02")
    FilePipeline.run(spark, root.toString)
    assert(FilePipeline.backfillEnrichment(spark, root.toString) == 4)
    // untouched day: same files, same sizes, same mtimes
    assert(snapshot(day1) == before)
    // affected day now enriched
    val layout = FilePipeline.Layout(root.toString)
    val fact = spark.read.parquet(layout.factTable)
    assert(fact.filter(col("simulation_num").isNull).count() == 0)
    assert(fact.count() == 10)
  }

  test("JDBC sink parity (B2/B3): fact and dim round-trip through embedded Derby") {
    val root = TestFixtures.tempRoot("pipe-jdbc")
    val target = graft.sources.JdbcSink.Target(
      s"jdbc:derby:${root.resolve("db")};create=true", numPartitions = 2)
    TestFixtures.writeCsv(root, "2024-03-01", 31, 5)
    TestFixtures.writeMetadata(root, "2024-03-01", 31)
    val layout = FilePipeline.Layout(root.toString, jdbc = Some(target))
    val r = FilePipeline.run(spark, layout)
    assert(r.factRowsInserted == 5 && r.dimRowsInserted == 1)
    // read back THROUGH JDBC: the relational sink holds the same rows
    val fact = graft.sources.JdbcSink.read(spark, target, "fact_sim")
    assert(fact.count() == 5)
    assert(fact.columns.toSet ==
      graft.schema.Schemas.factSimSchema.fieldNames.toSet)
    assert(fact.filter(col("simulation_id") === TestFixtures.simUuid(31))
      .count() == 5)
    val dim = graft.sources.JdbcSink.read(spark, target, "dim_rxn")
    assert(dim.count() == 1)
    val d = dim.head()
    assert(d.getAs[String]("simulation_id") == TestFixtures.simUuid(31))
    assert(d.getAs[Int]("simulation_num") == 1)
    // parquet warehouse and JDBC mirror agree
    assert(spark.read.parquet(layout.factTable).count() == fact.count())
  }

  test("processedParity writes the reference's cleaned processed/<day>/ CSV tree") {
    val root = TestFixtures.tempRoot("pipe-processed")
    TestFixtures.writeCsv(root, "2024-03-01", 41, 5)
    val layout = FilePipeline.Layout(root.toString, processedParity = true)
    FilePipeline.run(spark, layout)
    val dir = root.resolve("processed/2024-03-01")
    assert(Files.exists(dir))
    val cleaned = spark.read.option("header", "true").csv(dir.toString)
    assert(cleaned.count() == 5)
    assert(cleaned.columns.toSet == graft.schema.Schemas.requiredCols.toSet)
    // accumulates across runs, like the reference's per-file writes
    TestFixtures.writeCsv(root, "2024-03-01", 42, 3)
    FilePipeline.run(spark, layout)
    assert(spark.read.option("header", "true").csv(dir.toString).count() == 8)
  }

  test("metadata whose in-file id differs from its filename contributes zero dim rows") {
    val root = TestFixtures.tempRoot("pipe-metamismatch")
    // file named metadata_<uuid(11)>.json but carrying uuid(12) inside:
    // without the per-file gate its row lands in dim while the ledger
    // marks uuid(11) failed — re-ingest then duplicates uuid(12)
    val good = TestFixtures.writeMetadata(root, "2024-03-01", 12)
    java.nio.file.Files.move(good, good.resolveSibling(
      s"metadata_${TestFixtures.simUuid(11)}.json"))
    TestFixtures.writeMetadata(root, "2024-03-01", 13)
    val r = FilePipeline.run(spark, root.toString)
    assert(r.dimRowsInserted == 1 && r.failures == 1)
    val layout = FilePipeline.Layout(root.toString)
    val dim = spark.read.parquet(layout.dimTable)
    // neither the in-file id nor the filename id of the bad file landed
    assert(dim.count() == 1)
    assert(dim.select("simulation_id").head().getString(0)
      == TestFixtures.simUuid(13))
    // second run: the failed file is retried, still contributes nothing
    val r2 = FilePipeline.run(spark, root.toString)
    assert(spark.read.parquet(layout.dimTable).count() == 1)
  }

  test("a simulation id repeated in one metadata batch is numbered once") {
    val root = TestFixtures.tempRoot("pipe-dupmeta")
    val id = TestFixtures.simUuid(61)
    TestFixtures.writeMetadata(root, "2024-03-01", 61)
    TestFixtures.writeCsv(root, "2024-03-01", 61, 7)
    TestFixtures.writeMetadata(root, "2024-03-02", 61, dateRun = "2024-03-02")
    val r = FilePipeline.run(spark, root.toString)
    assert(r.dimRowsInserted == 1 && r.failures == 1)
    assert(r.factRowsInserted == 7)
    val layout = FilePipeline.Layout(root.toString)
    // the first file in path order is the one numbered
    val dim = spark.read.parquet(layout.dimTable)
      .select("simulation_id", "simulation_num", "date_run").collect()
    assert(dim.map(x => (x.getString(0), x.getInt(1), x.getDate(2).toString))
      .toSeq == Seq((id, 1, "2024-03-01")))
    // enrichment joins one dim row: each fact row is written once
    assert(spark.read.parquet(layout.factTable).count() == 7)
    assertLedgerCountsMatchFact(layout)
    // the later file is ledgered failed and stays in incoming/
    val failed = Ledger.read(spark, layout.ledger)
      .filter(col("status") === "failed")
      .select("simulation_id", "etl_type", "error_message").collect()
      .map(x => (x.getString(0), x.getString(1), x.getString(2))).toSeq
    assert(failed == Seq(
      (id, Ledger.EtlTypeMetadata, "duplicate simulation_id in batch")))
    assert(Files.exists(root.resolve(s"incoming/2024-03-02/metadata_$id.json")))
    assert(Files.exists(root.resolve(s"archive/2024-03-01/metadata_$id.json")))
    // the id's latest state is the success, so no later run numbers it
    val r2 = FilePipeline.run(spark, root.toString)
    assert(r2.metadataFilesIngested == 0 && r2.dimRowsInserted == 0)
    assert(spark.read.parquet(layout.dimTable).count() == 1)
  }

  test("a failed fact write leaves no cached frame behind") {
    val root = TestFixtures.tempRoot("pipe-cacheleak")
    TestFixtures.writeCsv(root, "2024-03-01", 71, 5)
    // a regular file where the fact table's directory belongs
    Files.createDirectories(root.resolve("warehouse"))
    Files.writeString(root.resolve("warehouse/fact_sim"), "not a table")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    intercept[Exception](FilePipeline.run(spark, root.toString))
    assert(sc.getPersistentRDDs.size <= before)
    assert(Files.exists(root.resolve(
      s"incoming/2024-03-01/rxndata_${TestFixtures.simUuid(71)}.csv")))
  }

  test("job count: an idle run launches none, a warm daily run a fixed few") {
    val root = TestFixtures.tempRoot("pipe-jobs")
    (1 to 2).foreach { i =>
      TestFixtures.writeCsv(root, "2024-03-01", 80 + i, 10)
      TestFixtures.writeMetadata(root, "2024-03-01", 80 + i)
    }
    FilePipeline.run(spark, root.toString)
    // incoming/ holds only the drained day directory: no ledger read
    assert(countJobs(FilePipeline.run(spark, root.toString)) == 0)
    (3 to 5).foreach { i =>
      TestFixtures.writeCsv(root, "2024-03-02", 80 + i, 10)
      TestFixtures.writeMetadata(root, "2024-03-02", 80 + i,
        dateRun = "2024-03-02")
    }
    var r: FilePipeline.RunReport = null
    val jobs = countJobs { r = FilePipeline.run(spark, root.toString) }
    assert(r == FilePipeline.RunReport(3, 30L, 3, 3L, 6, 0))
    // state read 1 (ledger and dim keys, one union, no shuffle);
    // metadata stage 2: collect, dim append; fact stage 2: dim broadcast,
    // the staged fact write, which checks ids as it goes; one ledger
    // append for both stages
    assert(jobs == 6)
  }

  test("a simulation id repeated in one CSV batch is written once") {
    val root = TestFixtures.tempRoot("pipe-dupcsv")
    val id = TestFixtures.simUuid(91)
    TestFixtures.writeMetadata(root, "2024-03-01", 91)
    TestFixtures.writeCsv(root, "2024-03-01", 91, 110)
    TestFixtures.writeCsv(root, "2024-03-02", 91, 110)
    val r = FilePipeline.run(spark, root.toString)
    assert(r.csvFilesIngested == 2 && r.factRowsInserted == 110)
    assert(r.failures == 1 && r.filesArchived == 2)
    val layout = FilePipeline.Layout(root.toString)
    // the first file in path order is the one written, under its own day
    val perDay = spark.read.parquet(layout.factTable)
      .groupBy(col("day").cast("string")).count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(perDay == Map("2024-03-01" -> 110L))
    assertLedgerCountsMatchFact(layout)
    assert(csvLedger(layout) == Seq(
      (id, "failed", 0L, "duplicate simulation_id in batch"),
      (id, "success", 110L, null)))
    // the later file stays in incoming/; the id is not selected again
    assert(Files.exists(root.resolve(s"incoming/2024-03-02/rxndata_$id.csv")))
    assert(Files.exists(root.resolve(s"archive/2024-03-01/rxndata_$id.csv")))
    val r2 = FilePipeline.run(spark, root.toString)
    assert(r2.csvFilesIngested == 0)
    assert(spark.read.parquet(layout.factTable).count() == 110)
  }

  test("a header-only CSV is ledgered success with zero rows") {
    val root = TestFixtures.tempRoot("pipe-headeronly")
    TestFixtures.writeCsv(root, "2024-03-01", 92, 0)
    TestFixtures.writeCsv(root, "2024-03-01", 93, 4)
    val r = FilePipeline.run(spark, root.toString)
    assert(r == FilePipeline.RunReport(2, 4L, 0, 0L, 2, 0))
    val layout = FilePipeline.Layout(root.toString)
    assert(csvLedger(layout) == Seq(
      (TestFixtures.simUuid(92), "success", 0L, null),
      (TestFixtures.simUuid(93), "success", 4L, null)))
    assert(spark.read.parquet(layout.factTable).count() == 4)
  }

  test("a listed CSV not named rxndata_<uuid>.csv is quarantined") {
    val root = TestFixtures.tempRoot("pipe-foo")
    val id = TestFixtures.simUuid(94)
    val f = TestFixtures.writeCsv(root, "2024-03-01", 94, 3)
    Files.move(f, f.resolveSibling(s"foo_$id.csv"))
    TestFixtures.writeCsv(root, "2024-03-01", 95, 3)
    // the name check does not depend on the file having a data row
    val headerOnlyId = TestFixtures.simUuid(100)
    val h = TestFixtures.writeCsv(root, "2024-03-01", 100, 0)
    Files.move(h, h.resolveSibling(s"foo_$headerOnlyId.csv"))
    // nor on the stage: a misnamed metadata file fails too
    val metaId = TestFixtures.simUuid(101)
    val m = TestFixtures.writeMetadata(root, "2024-03-01", 101)
    Files.move(m, m.resolveSibling(s"foo_$metaId.json"))
    val r = FilePipeline.run(spark, root.toString)
    assert(r.csvFilesIngested == 3 && r.factRowsInserted == 3)
    assert(r.metadataFilesIngested == 1 && r.dimRowsInserted == 0)
    assert(r.failures == 3 && r.filesArchived == 1)
    val layout = FilePipeline.Layout(root.toString)
    assert(failedMessages(layout) == Map(
      id -> "in-file SimulationID disagrees with filename",
      headerOnlyId -> "in-file SimulationID disagrees with filename"))
    assert(Ledger.read(spark, layout.ledger)
      .filter(col("etl_type") === Ledger.EtlTypeMetadata)
      .select("simulation_id", "status").collect()
      .map(x => (x.getString(0), x.getString(1))).toSeq ==
      Seq((metaId, "failed")))
    Seq(s"foo_$id.csv", s"foo_$headerOnlyId.csv", s"foo_$metaId.json")
      .foreach(n => assert(Files.exists(root.resolve(s"incoming/2024-03-01/$n"))))
    assertLedgerCountsMatchFact(layout)
    // no success was ledgered for the misnamed ids: their real files
    // are still selected and ingested
    TestFixtures.writeCsv(root, "2024-03-02", 100, 2)
    TestFixtures.writeMetadata(root, "2024-03-02", 101)
    val r2 = FilePipeline.run(spark, root.toString)
    assert(r2.factRowsInserted == 2 && r2.dimRowsInserted == 1)
    assert(Files.exists(root.resolve(s"archive/2024-03-02/rxndata_$headerOnlyId.csv")))
    assert(Files.exists(root.resolve(s"archive/2024-03-02/metadata_$metaId.json")))
  }

  test("a metadata file holding a JSON array of objects is quarantined") {
    val root = TestFixtures.tempRoot("pipe-metaarray")
    val id = TestFixtures.simUuid(102)
    val f = TestFixtures.writeMetadata(root, "2024-03-01", 102)
    val one = Files.readString(f)
    // two objects, both carrying the file's own id
    Files.writeString(f, s"[$one,\n${one.replace("converged", "timeout")}]")
    TestFixtures.writeMetadata(root, "2024-03-01", 103)
    val r = FilePipeline.run(spark, root.toString)
    assert(r.metadataFilesIngested == 2 && r.dimRowsInserted == 1)
    assert(r.failures == 1 && r.filesArchived == 1)
    val layout = FilePipeline.Layout(root.toString)
    assert(FilePipeline.readDim(spark, layout).select("simulation_id")
      .collect().map(_.getString(0)).toSeq == Seq(TestFixtures.simUuid(103)))
    assert(Ledger.read(spark, layout.ledger)
      .filter(col("status") === "failed")
      .select("simulation_id", "error_message").collect()
      .map(x => (x.getString(0), x.getString(1))).toSeq ==
      Seq((id, "metadata validation failed or id/filename mismatch")))
    assert(Files.exists(f))
  }

  test("a non-numeric measurement fails the run before anything commits") {
    val root = TestFixtures.tempRoot("pipe-nonnumeric")
    TestFixtures.writeMetadata(root, "2024-03-01", 96)
    val good = TestFixtures.writeCsv(root, "2024-03-01", 96, 3)
    val bad = TestFixtures.writeCsv(root, "2024-03-01", 97, 3)
    val lines = Files.readAllLines(bad)
    val row = lines.get(1)
    // the first data row's CA (the third column) is not a number
    val cells = row.split(",")
    cells(2) = "not-a-number"
    lines.set(1, cells.mkString(","))
    Files.write(bad, lines)
    intercept[Exception](FilePipeline.run(spark, root.toString))
    val layout = FilePipeline.Layout(root.toString)
    val committed = {
      val dir = root.resolve("warehouse/fact_sim")
      if (!Files.exists(dir)) 0L
      else Files.walk(dir).filter(_.toString.endsWith(".parquet")).count()
    }
    assert(committed == 0)
    // the one ledger append comes after the fact write: no row of either
    // type, so every file is selected again
    assert(Ledger.read(spark, layout.ledger).count() == 0)
    assert(Files.exists(good) && Files.exists(bad))
    val id = TestFixtures.simUuid(96)
    val meta = root.resolve(s"incoming/2024-03-01/metadata_$id.json")
    assert(Files.exists(meta))
    def dimRows = FilePipeline.readDim(spark, layout)
      .select("simulation_id", "simulation_num").collect()
      .map(x => (x.getString(0), x.getInt(1))).toSeq
    // the dim append committed before the fact stage failed
    assert(dimRows == Seq((id, 1)))

    // mend the CSV and run again: the dim row is reconciled, not
    // numbered again, and the metadata file is archived
    lines.set(1, row)
    Files.write(bad, lines)
    val r = FilePipeline.run(spark, root.toString)
    assert(r == FilePipeline.RunReport(2, 6L, 1, 0L, 3, 0))
    assert(dimRows == Seq((id, 1)))
    val metaLedger = Ledger.read(spark, layout.ledger)
      .filter(col("etl_type") === Ledger.EtlTypeMetadata)
      .select("simulation_id", "status").collect()
      .map(x => (x.getString(0), x.getString(1))).toSeq
    assert(metaLedger == Seq((id, "success")))
    assert(Files.walk(root.resolve("incoming"))
      .filter(Files.isRegularFile(_)).count() == 0)
    assert(FilePipeline.readFact(spark, layout)
      .filter(col("simulation_id") === id && col("simulation_num") === 1)
      .count() == 3)
    assertLedgerCountsMatchFact(layout)
  }

  test("an empty dim numbers from 1 (high-water mark 0 on first run)") {
    val root = TestFixtures.tempRoot("pipe-firstnum")
    val layout = FilePipeline.Layout(root.toString)
    def state = Ledger.readState(spark, Some(layout.ledger), layout.dimTable)
    // a first run with CSVs only writes the ledger and no dim
    TestFixtures.writeCsv(root, "2024-03-01", 51, 3)
    FilePipeline.run(spark, root.toString)
    assert(state.dimNums.isEmpty && state.highWaterMark == 0L)
    // a dim directory with no file reads as empty too
    Files.createDirectories(root.resolve("warehouse/dim_rxn"))
    assert(state.dimNums.isEmpty && state.highWaterMark == 0L)
    TestFixtures.writeMetadata(root, "2024-03-02", 53)
    TestFixtures.writeMetadata(root, "2024-03-02", 52)
    val r = FilePipeline.run(spark, root.toString)
    assert(r.dimRowsInserted == 2 && r.failures == 0)
    assert(state.dimNums == Map(
      TestFixtures.simUuid(52) -> 1, TestFixtures.simUuid(53) -> 2))
    assert(state.highWaterMark == 2L)
  }

  /** `body`'s result and the executed plan of every query it ran in
    * this session, failed ones included when they got that far. */
  private def withPlans[A](body: => A)
      : (A, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    import scala.collection.mutable
    import org.apache.spark.GraftBus
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = mutable.Buffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      // a read of a table not yet written fails analysis: no plan
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit =
        scala.util.Try(qe.executedPlan).foreach(p =>
          plans.synchronized(plans += p))
    }
    val sc = spark.sparkContext
    GraftBus.drain(sc)
    spark.listenerManager.register(listener)
    val a = try {
      val a = body
      GraftBus.drain(sc)
      a
    } finally spark.listenerManager.unregister(listener)
    (a, plans.toSeq)
  }

  /** Every CSV scan of each plan that has one. */
  private def csvScans(plans: Seq[org.apache.spark.sql.execution.SparkPlan])
      : Seq[Seq[org.apache.spark.sql.execution.FileSourceScanExec]] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
    plans.map(p => PlanNodes.all(p).collect {
      case s: FileSourceScanExec
          if s.relation.fileFormat.isInstanceOf[CSVFileFormat] => s
    }).filter(_.nonEmpty)
  }

  test("the fact stage caches nothing and evaluates no per-row regex") {
    import org.apache.spark.sql.catalyst.expressions.RegExpExtract
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val root = TestFixtures.tempRoot("pipe-planshape")
    // two header shapes, one CSV scan each
    TestFixtures.writeCsv(root, "2024-03-01", 98, 5)
    TestFixtures.writeCsv(root, "2024-03-02", 99, 5, withArtifact = false)
    TestFixtures.writeMetadata(root, "2024-03-01", 98)
    // the first file's shape, quarantined by the write's own id check
    TestFixtures.writeCsv(root, "2024-03-01", 97, 5,
      inFileIdOverride = Some(TestFixtures.simUuid(77)))
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.size
    val (r, plans) = withPlans(FilePipeline.run(spark, root.toString))
    assert(r.factRowsInserted == 10 && r.failures == 1)
    assert(sc.getPersistentRDDs.size <= cachedBefore)
    // one query reads CSVs: the fact write, one scan per header shape,
    // each reading all eight source columns
    val Seq(writeScans) = csvScans(plans)
    assert(writeScans.map(_.requiredSchema.size) == Seq(8, 8))
    assert(writeScans.map(_.relation.location).distinct.size == 2)
    // all three claimants are read once; the mismatched file writes no row
    assert(writeScans.map(_.metrics("numFiles").value).sum == 3)
    val layout = FilePipeline.Layout(root.toString)
    assert(FilePipeline.readFact(spark, layout).select("simulation_id")
      .distinct().collect().map(_.getString(0)).toSet ==
      Set(TestFixtures.simUuid(98), TestFixtures.simUuid(99)))
    assert(failedMessages(layout) == Map(TestFixtures.simUuid(97) ->
      "in-file SimulationID disagrees with filename"))
    val all = plans.flatMap(PlanNodes.all)
    assert(!all.exists(_.isInstanceOf[InMemoryTableScanExec]))
    assert(!all.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[RegExpExtract]))))
  }

  test("a CSV with one disagreeing row is quarantined whole; the others are written once") {
    val root = TestFixtures.tempRoot("pipe-partway")
    TestFixtures.writeCsv(root, "2024-03-01", 120, 10)
    val bad = TestFixtures.writeCsv(root, "2024-03-01", 121, 10)
    TestFixtures.writeCsv(root, "2024-03-02", 122, 7)
    // one row of the middle file carries another id: its other nine rows
    // reach the first round's stage, which is then discarded
    val lines = Files.readAllLines(bad)
    lines.set(4, lines.get(4).replace(TestFixtures.simUuid(121),
      TestFixtures.simUuid(99)))
    Files.write(bad, lines)
    val r = FilePipeline.run(spark, root.toString)
    assert(r == FilePipeline.RunReport(3, 17L, 0, 0L, 2, 1))
    val layout = FilePipeline.Layout(root.toString)
    assert(FilePipeline.readFact(spark, layout).count() == 17)
    assert(csvLedger(layout) == Seq(
      (TestFixtures.simUuid(120), "success", 10L, null),
      (TestFixtures.simUuid(121), "failed", 0L,
        "in-file SimulationID disagrees with filename"),
      (TestFixtures.simUuid(122), "success", 7L, null)).sorted)
    assertLedgerCountsMatchFact(layout)
    assert(Files.exists(bad))
  }

  test("a later file of an id is ingested when the id's first claimant fails its id check") {
    val root = TestFixtures.tempRoot("pipe-reclaim")
    val id = TestFixtures.simUuid(130)
    TestFixtures.writeCsv(root, "2024-03-01", 130, 6,
      inFileIdOverride = Some(TestFixtures.simUuid(99)))
    TestFixtures.writeCsv(root, "2024-03-02", 130, 4)
    TestFixtures.writeCsv(root, "2024-03-03", 130, 3)
    val r = FilePipeline.run(spark, root.toString)
    assert(r == FilePipeline.RunReport(3, 4L, 0, 0L, 1, 2))
    val layout = FilePipeline.Layout(root.toString)
    val perDay = FilePipeline.readFact(spark, layout)
      .groupBy(col("day").cast("string")).count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(perDay == Map("2024-03-02" -> 4L))
    assert(csvLedger(layout) == Seq(
      (id, "failed", 0L, "duplicate simulation_id in batch"),
      (id, "failed", 0L, "in-file SimulationID disagrees with filename"),
      (id, "success", 4L, null)))
    assert(Files.exists(root.resolve(s"incoming/2024-03-01/rxndata_$id.csv")))
    assert(Files.exists(root.resolve(s"archive/2024-03-02/rxndata_$id.csv")))
    assert(Files.exists(root.resolve(s"incoming/2024-03-03/rxndata_$id.csv")))
  }

  test("the fact write is staged: warehouse/_staging is empty after a run, failed or not") {
    val root = TestFixtures.tempRoot("pipe-staging")
    val staging = root.resolve("warehouse/_staging")
    def staged: Long =
      if (!Files.exists(staging)) 0L else Files.list(staging).count()
    TestFixtures.writeCsv(root, "2024-03-01", 140, 5)
    assert(FilePipeline.run(spark, root.toString).factRowsInserted == 5)
    assert(Files.isDirectory(staging) && staged == 0)
    // a write that fails in its tasks: a measurement that is not a number
    val bad = TestFixtures.writeCsv(root, "2024-03-02", 141, 3)
    Files.writeString(bad, Files.readString(bad)
      .replaceFirst("\n([^,\n]*,[^,\n]*,)[^,\n]*", "\n$1not-a-number"))
    intercept[Exception](FilePipeline.run(spark, root.toString))
    assert(staged == 0)
    val layout = FilePipeline.Layout(root.toString)
    assert(FilePipeline.readFact(spark, layout).count() == 5)
    assert(!Files.exists(root.resolve("warehouse/fact_sim/day=2024-03-02")))
  }

  test("fact CSVs split by bytes: six ~1.5 MB files plan six one-file write tasks") {
    import org.apache.spark.sql.execution.datasources.FilePartition
    val root = TestFixtures.tempRoot("pipe-splits")
    val files = (1 to 6).map(i => TestFixtures.writeCsv(root, "2024-03-01", 150 + i, 15000))
    assert(files.forall(f => Files.size(f) > 1200000L && Files.size(f) < 1800000L))
    val openCost = "spark.sql.files.openCostInBytes"
    val minParts = "spark.sql.files.minPartitionNum"
    val openCostBefore = spark.conf.get(openCost)
    // split as on four cores
    spark.conf.set(minParts, "4")
    val (r, plans) = try {
      // the caller's own split rule packs the files two to a task
      val packed = spark.read.option("header", "true")
        .csv(files.map(_.toString): _*).rdd.getNumPartitions
      assert(packed < 6)
      withPlans(FilePipeline.run(spark, root.toString))
    } finally spark.conf.unset(minParts)
    assert(r.factRowsInserted == 90000L && r.failures == 0)
    val Seq(Seq(scan)) = csvScans(plans)
    assert(scan.inputRDD.partitions.toSeq
      .map(_.asInstanceOf[FilePartition].files.length) == Seq.fill(6)(1))
    // the split rule is the fact scan's own: the caller's is unchanged
    assert(spark.conf.get(openCost) == openCostBefore)
  }

  test("a CSV gone between the listing and the header peek is ledgered failed") {
    val root = TestFixtures.tempRoot("pipe-vanished")
    val kept = TestFixtures.writeCsv(root, "2024-03-01", 111, 4)
    val gone = TestFixtures.writeCsv(root, "2024-03-01", 112, 4)
    Files.delete(gone)
    // java.nio spells these file:///…, a Hadoop listing file:/…
    val files = Seq(kept, gone).map(f => new Path(f.toUri))
    val layout = FilePipeline.Layout(root.toString)
    val ingest = FilePipeline.ingestCsvFiles(spark, layout, files)
    assert(ingest.rowsInserted == 4 && ingest.okFiles == files.take(1))
    assert(FilePipeline.readFact(spark, layout).count() == 4)
    assert(ingest.ledgerRows.map(e =>
      (e.simulation_id, e.status, e.records_inserted, e.error_message)) == Seq(
      (TestFixtures.simUuid(111), "success", 4L, None),
      (TestFixtures.simUuid(112), "failed", 0L,
        Some("header missing required columns or file unreadable"))))
  }
}

/** Every node of an executed plan, through adaptive query stages and
  * subqueries. */
private object PlanNodes
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def all(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    collectWithSubqueries(p) { case n => n }
}
