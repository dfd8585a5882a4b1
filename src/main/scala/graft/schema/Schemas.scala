package graft.schema

import org.apache.spark.sql.types._

/** Schema declarations for the reference pipeline, declared once at compile
  * time instead of runtime JSON config reads.
  *
  * Reference: /root/reference/column_map.json:2-9 (rename map),
  * /root/reference/required_cols.json:2-9 (required columns — byte-identical
  * to the column_map values), /root/reference/create_tables.sql:2-51 (target
  * DDL), /root/reference/database_manager.py:13-22 (metadata pydantic model).
  *
  * Scale note: at 100 TB we never `inferSchema`; every read is bound to one
  * of these StructTypes so the vectorized Parquet/CSV readers can prune and
  * push down from the first byte.
  */
object Schemas {

  /** CSV header → snake_case rename map (column_map.json:2-9). */
  val columnMap: Map[String, String] = Map(
    "SimulationID" -> "simulation_id",
    "CA (mol/m^3)" -> "ca",
    "CB (mol/m^3)" -> "cb",
    "CC (mol/m^3)" -> "cc",
    "CD (mol/m^3)" -> "cd",
    "T (K)" -> "temperature",
    "Tsensor (K)" -> "t_sensor",
    "t (sec)" -> "rxn_time"
  )

  /** Required post-rename columns (required_cols.json:2-9). */
  val requiredCols: Seq[String] = Seq(
    "simulation_id", "ca", "cb", "cc", "cd",
    "temperature", "t_sensor", "rxn_time")

  /** fact_sim target schema (create_tables.sql:2-14). `row_id` and
    * `simulation_num` are engine-generated, not in the CSV. */
  val factSimSchema: StructType = StructType(Seq(
    StructField("row_id", LongType, nullable = false),
    StructField("simulation_id", StringType, nullable = false),
    StructField("simulation_num", IntegerType, nullable = true),
    StructField("ca", DoubleType, nullable = true),
    StructField("cb", DoubleType, nullable = true),
    StructField("cc", DoubleType, nullable = true),
    StructField("cd", DoubleType, nullable = true),
    StructField("temperature", DoubleType, nullable = true),
    StructField("t_sensor", DoubleType, nullable = true),
    StructField("rxn_time", DoubleType, nullable = true)
  ))

  /** dim_rxn target schema (create_tables.sql:18-30). */
  val dimRxnSchema: StructType = StructType(Seq(
    StructField("simulation_id", StringType, nullable = false),
    StructField("simulation_num", IntegerType, nullable = true),
    StructField("reaction_name", StringType, nullable = true),
    StructField("activation_energy", DoubleType, nullable = true),
    StructField("ca0", DoubleType, nullable = true),
    StructField("cb0", DoubleType, nullable = true),
    StructField("t0", DoubleType, nullable = true),
    StructField("date_run", DateType, nullable = true),
    StructField("stop_reason", StringType, nullable = true),
    StructField("stop_time_s", DoubleType, nullable = true)
  ))

  /** Metadata JSON on-disk schema with the pydantic alias names
    * (database_manager.py:14-22). */
  val metadataJsonSchema: StructType = StructType(Seq(
    StructField("simulation_id", StringType, nullable = true),
    StructField("reaction_name", StringType, nullable = true),
    StructField("activation_energy (J/mol)", DoubleType, nullable = true),
    StructField("CA0_(mol/m^3)", DoubleType, nullable = true),
    StructField("CB0_(mol/m^3)", DoubleType, nullable = true),
    StructField("T0_(K)", DoubleType, nullable = true),
    StructField("date_run", StringType, nullable = true),
    StructField("stop_reason", StringType, nullable = true),
    StructField("stop_time_(s)", DoubleType, nullable = true)
  ))

  /** Metadata JSON alias → dim_rxn column rename map. */
  val metadataRenameMap: Map[String, String] = Map(
    "activation_energy (J/mol)" -> "activation_energy",
    "CA0_(mol/m^3)" -> "ca0",
    "CB0_(mol/m^3)" -> "cb0",
    "T0_(K)" -> "t0",
    "stop_time_(s)" -> "stop_time_s"
  )

  /** etl_run_log ledger schema (create_tables.sql:39-51). */
  val etlRunLogSchema: StructType = StructType(Seq(
    StructField("etl_id", StringType, nullable = false),
    StructField("simulation_id", StringType, nullable = true),
    StructField("etl_type", StringType, nullable = true),
    StructField("started_at", TimestampType, nullable = true),
    StructField("finished_at", TimestampType, nullable = true),
    StructField("records_inserted", LongType, nullable = true),
    StructField("status", StringType, nullable = true),
    StructField("error_message", StringType, nullable = true),
    StructField("duration_seconds", DoubleType, nullable = true)
  ))
}
