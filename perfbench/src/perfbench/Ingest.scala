package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.FilePipeline
import graft.pipeline.FilePipeline.RunReport
import graft.ops.Ledger

/** The two ingest workloads: generated reaction-simulation files driven
  * through `FilePipeline.run` (and, for the daily feed,
  * `FilePipeline.backfillEnrichment`), with every run's report and the
  * final warehouse checked against the generator's manifest. */
object Ingest {
  import Gen._

  /** Big files, a few days, all delivered at once: row work dominates. */
  val BulkSpec = Spec(days = 3, simsPerDay = 2, rowsPerSim = 50000,
    oneArrival = true)
  /** Many small files, one day per run, with planted defects and late
    * metadata: per-run fixed cost dominates. */
  val DailySpec = Spec(days = 3, simsPerDay = 20, rowsPerSim = 1000,
    noArtifactShare = 0.2, missingColumnShare = 0.03, idMismatchShare = 0.03,
    lateMetaShare = 0.1, maxLateDays = 2)
  /** The throwaway ingest of the daily feed's set-up. */
  val WarmupSpec = Spec(days = 1, simsPerDay = 4, rowsPerSim = 2000,
    oneArrival = true)

  val SmokeBulk = Spec(days = 2, simsPerDay = 2, rowsPerSim = 5000,
    oneArrival = true)
  val SmokeDaily = Spec(days = 4, simsPerDay = 5, rowsPerSim = 200,
    noArtifactShare = 0.2, missingColumnShare = 0.1, idMismatchShare = 0.1,
    lateMetaShare = 0.3, maxLateDays = 2)
  val SmokeWarmup = Spec(days = 1, simsPerDay = 2, rowsPerSim = 200,
    oneArrival = true)

  def spec(workload: String, smoke: Boolean): Spec = (workload, smoke) match {
    case ("ingest_bulk", false) => BulkSpec
    case ("ingest_bulk", true) => SmokeBulk
    case ("ingest_daily", false) => DailySpec
    case ("ingest_daily", true) => SmokeDaily
    case _ => throw new IllegalArgumentException(s"no generator for $workload")
  }

  /** Hard-link (or copy, where links are refused) every file of arrival
    * `k` into `root`, keeping the `incoming/<day>/` layout. */
  def stage(gen: Path, k: Int, root: Path): Unit = {
    val src = arrivalDir(gen, k)
    if (Files.exists(src)) {
      val files = Files.walk(src).iterator().asScala
        .filter(Files.isRegularFile(_)).toList
      files.foreach { f =>
        val dst = root.resolve(src.relativize(f).toString)
        Files.createDirectories(dst.getParent)
        try Files.createLink(dst, f)
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(f, dst) }
      }
    }
  }

  /** What `FilePipeline.run` must report after arrival `k` is staged:
    * quarantined CSVs stay in `incoming/` and are retried by every later
    * run. */
  def expectedReport(t: Tree, k: Int): RunReport = {
    val csv = t.sims.filter(s => s.arrival == k || (s.outcome != Ok && s.arrival < k))
    val meta = t.sims.filter(_.metaArrival == k)
    val good = t.good.filter(_.arrival == k)
    RunReport(csv.size, good.map(_.rows.toLong).sum, meta.size,
      meta.size.toLong, good.size + meta.size, csv.count(_.outcome != Ok))
  }

  def filesUnder(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toList

  def bytesUnder(p: Path): Long = filesUnder(p).map(Files.size).sum

  /** Data files (not checksums or markers) of the warehouse. */
  def warehouseFiles(root: Path): Int =
    filesUnder(root.resolve("warehouse")).count { f =>
      val n = f.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_")
    }

  /** The final warehouse as read back: every check against the manifest,
    * as (name, passed, detail), and the fact and dimension row counts. */
  case class Warehouse(checks: Seq[(String, Boolean, String)], factRows: Long,
      dimRows: Long)

  def checkWarehouse(spark: SparkSession, root: Path, t: Tree,
      backfilled: Boolean): Warehouse = {
    val layout = FilePipeline.Layout(root.toString)
    val fact = FilePipeline.readFact(spark, layout)
    val sums = fact.groupBy(col("day").cast("string").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("simulation_num").isNull, 1).otherwise(0)).as("nulls") +:
        FactCols.map(c => sum(round(col(c) * 1e6).cast("long")).as(c)): _*)
      .collect()
    val gotRows = sums.map(_.getAs[Long]("n")).sum
    val gotNulls = sums.map(_.getAs[Long]("nulls")).sum
    val gotSums = sums.map(r =>
      r.getAs[String]("day") -> FactCols.map(c => r.getAs[Long](c)).toIndexedSeq).toMap
    val wantSums = t.dayChecksums.filter { case (d, _) =>
      t.good.exists(_.day == d) }
    val dim = FilePipeline.readDim(spark, layout)
    val dimCounts = dim.agg(count(lit(1)), countDistinct("simulation_id")).head()
    val (dimRows, dimIds) = (dimCounts.getLong(0), dimCounts.getLong(1))
    val ledger = Ledger.read(spark, layout.ledger)
      .groupBy("etl_type", "status").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val runs = t.arrivals
    val wantLedger = Map(
      (Ledger.EtlTypeCsv, "success") -> t.good.size.toLong,
      (Ledger.EtlTypeMetadata, "success") -> t.sims.size.toLong) ++
      (if (t.quarantined.isEmpty) Map.empty
       else Map((Ledger.EtlTypeCsv, "failed") ->
         t.quarantined.map(s => (runs - s.arrival).toLong).sum))
    val archived = filesUnder(root.resolve("archive")).map(_.getFileName.toString).toSet
    val wantArchived = t.good.map(s => s"rxndata_${s.id}.csv").toSet ++
      t.sims.map(s => s"metadata_${s.id}.json")
    val left = filesUnder(root.resolve("incoming")).map(_.getFileName.toString).toSet
    val wantLeft = t.quarantined.map(s => s"rxndata_${s.id}.csv").toSet
    Warehouse(Seq(
      ("fact_rows", gotRows == t.factRows, s"$gotRows vs ${t.factRows}"),
      ("day_checksums", gotSums == wantSums, s"${gotSums.size} days vs ${wantSums.size}"),
      ("null_simulation_num", gotNulls == (if (backfilled) 0L else t.lateRows),
        s"$gotNulls null keys"),
      ("dim_rows", dimRows == t.sims.size && dimIds == t.sims.size,
        s"$dimRows rows, $dimIds ids vs ${t.sims.size}"),
      ("ledger", ledger == wantLedger, s"$ledger vs $wantLedger"),
      ("archived", archived == wantArchived,
        s"${archived.size} vs ${wantArchived.size}"),
      ("quarantine_left_in_incoming", left == wantLeft,
        s"${left.size} vs ${wantLeft.size}")
    ), gotRows, dimRows)
  }
}
