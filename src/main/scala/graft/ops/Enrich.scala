package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.schema.Schemas

/** Enrichment operators (SURVEY.md §2 E1/G1/G2/D5, H4/J3).
  *
  * The reference mutates fact rows post-hoc in 50-key transaction batches
  * (database_manager.py:200-241) because PostgreSQL row-locks the fact
  * table. Spark needs neither the mutation nor the batching: the dim side
  * is one row per simulation (KB–MB scale even when the fact side is
  * 100 TB), so enrichment is a broadcast hash join — zero shuffle of the
  * fact table — applied either at write time (preferred) or as a backfill
  * over the null-key slice.
  */
object Enrich {

  /** Hard cap for the dim-only numbering paths: a dimension table (one
    * row per simulation) is orders of magnitude below this; a fact table
    * is orders of magnitude above. */
  val DimRowCap: Long = 1000000L

  private def dimOnlyMessage(what: String, how: String, cap: Long): String =
    s"$what is a dim-only operator ($how) and its input exceeds $cap " +
      "rows; number fact-scale data with monotonically_increasing_id or " +
      "a partitioned window instead"

  /** Misuse guard for the single-partition row_number paths: fail fast
    * when the input is not dimension-sized, BEFORE shipping it into a
    * global window. Bounded probe — `limit(cap+1).count()` stops reading
    * once cap+1 rows are found, so the check costs O(cap) even when the
    * caller mistakenly feeds a 100 TB fact table. */
  private[graft] def requireDimSized(df: DataFrame, cap: Long,
      what: String): Unit = {
    // Long-safe probe bound: a cap at/above Int.MaxValue clamps (limit
    // takes an Int) — the guard then only fires past ~2^31 rows, which
    // is already far beyond any dim contract
    val n = df.limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).count()
    require(n <= cap,
      dimOnlyMessage(what, "global single-partition window", cap))
  }

  /** The same guard for rows already on the driver. */
  private[graft] def requireDimRows(n: Long, cap: Long, what: String): Unit =
    require(n <= cap, dimOnlyMessage(what, "numbered on the driver", cap))

  /** H4/J3 — dim surrogate numbering: PG-sequence semantics over
    * (date_run, simulation_id), offset by the existing high-water mark so
    * re-runs continue the sequence (the pipeline takes the mark from its
    * state read, [[Ledger.RunState.highWaterMark]]). `rows` carry the dim
    * columns by name (`simulation_num` excluded); the result is in
    * [[Schemas.dimRxnSchema]] column order, sorted by its number.
    *
    * Driver-side contract: the input is one batch of dim rows, already
    * collected, so it is bounded by `maxDimRows` (throws above it rather
    * than number a fact table on the driver). The order is exactly
    * Spark's `row_number() OVER (ORDER BY date_run, simulation_id)`:
    * ascending, null `date_run` first, and `String` order on the ids,
    * which equals Spark's binary order for the ASCII uuids. */
  def numberDim(rows: Seq[Row], startFrom: Long,
      maxDimRows: Long = DimRowCap): Seq[Row] = {
    requireDimRows(rows.size.toLong, maxDimRows, "numberDim")
    rows.sortBy(r => (
      Option(r.getAs[java.sql.Date]("date_run")).map(_.toLocalDate.toEpochDay),
      r.getAs[String]("simulation_id")))
      .zipWithIndex.map { case (r, i) =>
        Row.fromSeq(Schemas.dimRxnSchema.fieldNames.toSeq.map {
          case "simulation_num" => Math.toIntExact(startFrom + i + 1)
          case f => r.getAs[Any](f)
        })
      }
  }

  /** E1/D5 — the enrichment join: assign dim's simulation_num to fact rows
    * whose key is still null. Broadcast hash join on the tiny dim side;
    * the D5 null-guard keeps already-enriched rows untouched (idempotent:
    * enrich∘enrich ≡ enrich). */
  def enrichFact(fact: DataFrame, dim: DataFrame): DataFrame = {
    val dimKeys = dim.select(
      col("simulation_id").as("_dim_sid"),
      col("simulation_num").as("_dim_num"))
    fact
      .join(broadcast(dimKeys), fact("simulation_id") === col("_dim_sid"), "left")
      .withColumn("simulation_num",
        when(col("simulation_num").isNull, col("_dim_num"))
          .otherwise(col("simulation_num")))
      .drop("_dim_sid", "_dim_num")
  }
}
