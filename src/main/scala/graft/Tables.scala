package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Parquet table loader for the driver's test tables (TESTDATA.md).
  *
  * Explicit-path reads; schema comes from the Parquet footer (already
  * typed), so column pruning and predicate pushdown reach the scan
  * unimpeded.
  *
  * The `events` table carries TIMESTAMP(NANOS) — a Parquet logical type
  * Spark's vectorized reader rejects outright. We read it via
  * `spark.sql.legacy.parquet.nanosAsLong` (epoch-nanos as LongType) and
  * truncate to microseconds with integer division, which matches Spark's
  * own ns→µs semantics (floor) and keeps full precision — dividing by 1e9
  * in double would already lose microseconds at 2024-epoch magnitudes.
  */
object Tables {

  /** A resolved relation, memoized per session ([[SessionMemo]]).
    * `spark.read.parquet` costs ~80-100 ms per call on this box (file
    * listing + footer schema read + relation resolution), and the bench
    * executes 157 queries × 3 runs × 1-3 table reads each — re-reading
    * an immutable footer thousands of times was ~0.1-0.25 s of pure
    * fixed overhead per query. The test tables are static, so the
    * resolved DataFrame (schema + file index) is safely reusable for
    * the lifetime of its session. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    SessionMemo(spark, s"table:$dir/$name")(load(spark, dir, name))

  /** Per-table spread key — the table's hot join/aggregation key, so
    * the repartition that buys scan parallelism ALSO seeds a reusable
    * hash partitioning (per-order pair generation, per-doc aggregates,
    * per-user sessions join/aggregate exchange-free downstream). */
  private val SpreadKeys = Map(
    "documents" -> "doc_id", "embeddings" -> "vec_id",
    "lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
    "events" -> "user_id", "customer" -> "c_custkey",
    "part" -> "p_partkey", "supplier" -> "s_suppkey")

  /** OPT-IN scale-adaptive scan spread (optimization guide §2.5 "input
    * skew: one huge unsplittable file … repartition immediately after
    * the read"). The driver's test tables are single-file, SINGLE
    * ROW-GROUP parquet, so every scan plans exactly one task no matter
    * how it is split — a narrow segment above it (tokenize, regex
    * scan, BPE encode, markup parse) runs on one core of local[32].
    * When the scan's planned parallelism is below the session default,
    * hash-repartition on the table's natural key; the partition COUNT
    * is the session's core count (scale-adaptive, not a constant), and
    * at production scale — where scans already plan at least
    * `defaultParallelism` splits — the branch is the identity.
    *
    * Opt-in, NOT applied inside [[apply]]: a forced exchange stage
    * costs ~0.05-0.15 s, more than most queries' narrow compute, so
    * only call sites whose narrow compute measurably exceeds the stage
    * price use this (the A/B evidence is in OPTIMIZATION_r16.md).
    * Results are partitioning-invariant (ParallelismSpec pins it; the
    * oracle gate re-checks every query). */
  def spreadScan(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = apply(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, col(SpreadKeys(name)))
  }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    val normalized = df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        // `ts div 1000` (integer division) — a double divide would round
        // the ~1.7e18 ns value (ulp 256 ns) and mis-truncate ~1.6% of
        // rows by 1 µs, flipping epoch seconds at boundaries
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        // parquet timestamp[us] WITHOUT timezone reads as TIMESTAMP_NTZ
        // in Spark 4 — normalize to TIMESTAMP here so every consumer
        // (unix_micros, streaming watermarks) sees one type; under the
        // UTC session the cast is a bit-identical relabel that matches
        // DuckDB's epoch functions
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
    normalized
  }
}
