package graft.ops

import java.sql.Timestamp
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.schema.Schemas

/** Run-ledger operators (SURVEY.md §2 B4/B5, H1-H3, K6/K7).
  *
  * The reference opens a ledger row (`status='running'`), then UPDATEs it
  * on completion (database_manager.py:143-198). An append-only Parquet
  * ledger can't UPDATE, and doesn't need to: each attempt appends one
  * *final-status* row carrying both timestamps — the open/close pair
  * collapses because the whole batch either commits or doesn't
  * (foreachBatch/batch-job atomicity replaces PG transactions). The
  * current state of a (simulation_id, etl_type) is the latest row, read
  * via [[latestState]]; a pipeline run reads it, with the dim's keys, in
  * one job ([[readState]]).
  *
  * The reference's dead `errored` flag, never-written error_message slot,
  * and wrong metadata row count (SURVEY.md §2 K4/K6) are all fixed here,
  * not replicated.
  */
object Ledger {

  val EtlTypeCsv = "rxn_data"
  val EtlTypeMetadata = "metadata"

  /** One final-status ledger row per ingestion attempt. etl_id is
    * generated client-side (the Spark answer to `returning etl_id`);
    * duration via epoch arithmetic (H3). */
  case class Entry(
      simulation_id: String,
      etl_type: String,
      started_at: Timestamp,
      finished_at: Timestamp,
      records_inserted: Long,
      status: String,
      error_message: Option[String])

  /** The ledger rows of `rows` in [[Schemas.etlRunLogSchema]], built on
    * the driver: a local relation, no per-row expression to plan. The
    * duration is whole epoch seconds apart, as `unix_timestamp` counts. */
  def entries(spark: SparkSession, rows: Seq[Entry]): DataFrame = {
    def epochS(t: Timestamp) = Math.floorDiv(t.getTime, 1000L)
    spark.createDataFrame(rows.map(e => Row(UUID.randomUUID().toString,
      e.simulation_id, e.etl_type, e.started_at, e.finished_at,
      e.records_inserted, e.status, e.error_message.orNull,
      (epochS(e.finished_at) - epochS(e.started_at)).toDouble)).asJava,
      Schemas.etlRunLogSchema)
  }

  /** Append rows to the ledger sink. */
  def append(spark: SparkSession, ledgerPath: String, rows: Seq[Entry]): Unit =
    if (rows.nonEmpty)
      entries(spark, rows).coalesce(1)
        .write.mode("append").parquet(ledgerPath)

  /** A table read with its declared schema, or None when it is absent. */
  private def present(spark: SparkSession, path: String,
      schema: StructType): Option[DataFrame] =
    try Some(spark.read.schema(schema).parquet(path))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** A table read with its declared schema; empty but typed when absent
    * (a first run). */
  def readOrEmpty(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    present(spark, path, schema).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

  /** Read the ledger; empty when absent. */
  def read(spark: SparkSession, ledgerPath: String): DataFrame =
    readOrEmpty(spark, ledgerPath, Schemas.etlRunLogSchema)

  /** Latest status per (simulation_id, etl_type) — the UPDATE-free read of
    * the reference's mutable row. Two rows of one key share a
    * `finished_at` only when one batch carried the key twice (a
    * duplicate file); the success wins that tie, so the key is not
    * selected again. [[latestOf]] is its driver twin. */
  def latestState(ledger: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("simulation_id"), col("etl_type"))
      .orderBy(col("finished_at").desc, (col("status") === "success").desc)
    ledger.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** One ledger row as the run-state fold reads it. */
  case class Outcome(simulation_id: String, etl_type: String,
      finished_at: Timestamp, status: String)

  /** [[latestState]]'s order as a rank: a later `finished_at` (to the
    * microsecond), then a success; a null sorts below every value, as
    * Spark's descending order puts it last. */
  private val latestRank: Ordering[Outcome] = {
    implicit val ts: Ordering[Timestamp] =
      Ordering.fromLessThan[Timestamp](_ before _)
    Ordering.by((o: Outcome) => (Option(o.finished_at),
      Option(o.status).fold(0)(s => if (s == "success") 2 else 1)))
  }

  /** The latest outcome per (simulation_id, etl_type) of rows already on
    * the driver, under [[latestState]]'s order. */
  def latestOf(rows: Seq[Outcome]): Map[(String, String), Outcome] =
    rows.groupMapReduce(o => (o.simulation_id, o.etl_type))(identity)(
      (a, b) => latestRank.max(a, b))

  /** What a run knows before it reads a data file: the latest ledger
    * outcome per (simulation_id, etl_type), and the number the dim holds
    * for each simulation id. */
  case class RunState(latest: Map[(String, String), Outcome],
      dimNums: Map[String, Int]) {

    /** The ids whose latest `etlType` outcome is a success — drives K2
      * incremental selection as a set filter instead of directory state. */
    def succeeded(etlType: String): Set[String] =
      latest.collect { case ((id, t), o) if t == etlType &&
        o.status == "success" => id }.toSet

    /** G1/G2 — the dim's high-water mark, 0 on an empty dim (the
      * reference crashes on an empty table, SURVEY.md §3.3). */
    def highWaterMark: Long = dimNums.values.maxOption.fold(0L)(_.toLong)
  }

  object RunState {
    val Empty: RunState = RunState(Map.empty, Map.empty)
  }

  /** The run's bookkeeping in one job: the ledger's key columns and the
    * dim's (simulation_id, simulation_num), unioned and collected with no
    * shuffle; the latest state per key is folded on the driver
    * ([[latestOf]]). Both tables are dimension-scale. An absent table
    * reads as empty; with both absent no job runs. `ledgerPath` None
    * reads the dim alone (the streaming body, whose checkpoint selects
    * the files). */
  def readState(spark: SparkSession, ledgerPath: Option[String],
      dimPath: String): RunState = {
    // one positional shape: (is a ledger row, simulation_id, etl_type,
    // finished_at, status, simulation_num)
    val ledger = ledgerPath.flatMap(present(spark, _, Schemas.etlRunLogSchema))
      .map(_.select(lit(true), col("simulation_id"), col("etl_type"),
        col("finished_at"), col("status"), lit(null).cast("int")))
    val dim = present(spark, dimPath, Schemas.dimRxnSchema)
      .map(_.select(lit(false), col("simulation_id"), lit(null).cast("string"),
        lit(null).cast("timestamp"), lit(null).cast("string"),
        col("simulation_num")))
    val rows = (ledger ++ dim).reduceOption(_.union(_))
      .fold(Seq.empty[Row])(_.collect().toSeq)
    val (outcomes, dimKeys) = rows.partition(_.getBoolean(0))
    RunState(
      latestOf(outcomes.map(r => Outcome(r.getString(1), r.getString(2),
        r.getTimestamp(3), r.getString(4)))),
      dimKeys.map(r => r.getString(1) -> r.getInt(5)).toMap)
  }
}
