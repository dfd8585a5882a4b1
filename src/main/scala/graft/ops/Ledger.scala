package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  * via [[latestState]].
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
      started_at: java.sql.Timestamp,
      finished_at: java.sql.Timestamp,
      records_inserted: Long,
      status: String,
      error_message: Option[String])

  def entries(spark: SparkSession, rows: Seq[Entry]): DataFrame = {
    import spark.implicits._
    rows.toDF()
      .withColumn("etl_id", uuid())
      .withColumn("duration_seconds",
        (unix_timestamp(col("finished_at")) -
          unix_timestamp(col("started_at"))).cast("double"))
      .select(Schemas.etlRunLogSchema.fieldNames.map(col): _*)
  }

  /** Append rows to the ledger sink. */
  def append(spark: SparkSession, ledgerPath: String, rows: Seq[Entry]): Unit =
    if (rows.nonEmpty)
      entries(spark, rows).coalesce(1)
        .write.mode("append").parquet(ledgerPath)

  /** Read the ledger; empty-but-typed DataFrame when absent (first run). */
  def read(spark: SparkSession, ledgerPath: String): DataFrame =
    try spark.read.schema(Schemas.etlRunLogSchema).parquet(ledgerPath)
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          Schemas.etlRunLogSchema)
    }

  /** Latest status per (simulation_id, etl_type) — the UPDATE-free read of
    * the reference's mutable row. Two rows of one key share a
    * `finished_at` only when one batch carried the key twice (a
    * duplicate file); the success wins that tie, so the key is not
    * selected again. */
  def latestState(ledger: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("simulation_id"), col("etl_type"))
      .orderBy(col("finished_at").desc, (col("status") === "success").desc)
    ledger.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** The keys already successfully ingested, per etl_type — drives K2
    * incremental selection as a set filter instead of directory state.
    * One read and one collect serve every stage of a run. */
  def succeeded(spark: SparkSession,
      ledgerPath: String): Map[String, Set[String]] =
    latestState(read(spark, ledgerPath))
      .filter(col("status") === "success")
      .select(col("etl_type"), col("simulation_id"))
      .collect().toSeq
      .groupMapReduce(_.getString(0))(r => Set(r.getString(1)))(_ ++ _)
}
