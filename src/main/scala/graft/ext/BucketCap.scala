package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

/** Hot-bucket guard for LSH candidate generation.
  *
  * Every banded-LSH candidate join (MinHash bands, SimHash bands,
  * sign-random-projection buckets) does pairwise work INSIDE buckets, so
  * one pathological bucket of m members emits m²/2 candidates. At 100 TB
  * that bucket exists: boilerplate pages, empty-ish documents, and
  * template text all collapse onto one band hash, and a single 10⁶-member
  * bucket (10¹² pairs) stalls the whole join even though every other
  * bucket is fine. Production dedup pipelines therefore cap bucket
  * membership and skip the overflow — near-dup detection inside a bucket
  * that large is better served by the EXACT digest pass (q21) anyway,
  * since giant buckets are overwhelmingly exact duplicates.
  *
  * The cap is never silent: dropped bucket and row counts are logged at
  * WARN, and [[hotBuckets]] returns the dropped buckets as data so a
  * pipeline can route them to exact dedup instead.
  *
  * Scale shape: the size pass is one map-side-combinable groupBy on the
  * band key; only OVERSIZED buckets materialize (bounded by corpus /
  * cap), so the anti-join's right side is small enough to broadcast.
  */
object BucketCap {

  private val log = LoggerFactory.getLogger(getClass)

  /** Buckets of `banded` (grouped by `bucketCols`) with more than `cap`
    * members: (bucketCols…, _bsz). Bounded output — at most n/cap rows. */
  def hotBuckets(banded: DataFrame, bucketCols: Seq[String],
      cap: Int): DataFrame =
    banded.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") > cap)

  /** Per-partition WARN for the hot frame — factored out so the
    * never-silent contract is directly unit-testable. Returns the
    * message that was (or would be) logged. */
  private[graft] def partitionWarning(nHot: Long, nRows: Long, cap: Int,
      context: String): Option[String] =
    if (nHot <= 0) None
    else Some(s"$context: dropping $nHot hot bucket(s) (> $cap members, " +
      s"$nRows banded rows) from candidate generation; route them to " +
      "exact dedup")

  /** `banded` restricted to buckets with ≤ cap members. Logs what was
    * dropped (count of buckets and of member rows) — a cap must never
    * look like full coverage. cap ≤ 0 disables the guard entirely (no
    * extra pass).
    *
    * The WARN rides the hot frame's OWN materialization (a
    * per-partition summary inside a mapPartitions over the bounded
    * ≤ n/cap hot rows): the earlier eager `head()` probe was one extra
    * driver round-trip job — re-evaluating the banded derivation — per
    * capBuckets call per run, two per incremental-near-dup query
    * (guide §1.2). Logging from inside the dataflow (not a
    * QueryExecutionListener reading `observe` metrics) keeps the
    * contract through EVERY consumption path: a capped frame that
    * materializes via localCheckpoint / a session-memo build / a
    * streaming micro-batch still logs, composed queries can reuse one
    * call-site context without metric-name collisions, and local-mode
    * executor logs are the driver log. */
  def capBuckets(banded: DataFrame, bucketCols: Seq[String], cap: Int,
      context: String): DataFrame = {
    if (cap <= 0) return banded
    val hot0 = hotBuckets(banded, bucketCols, cap)
    val nKey = bucketCols.size
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(hot0.schema)
    val hot = hot0.mapPartitions { it =>
      // bounded buffer (≤ n/cap rows corpus-wide): summarize, warn, pass through
      val rows = it.toArray
      val nRows = rows.iterator.map(_.getLong(nKey)).sum
      // logger re-acquired by name inside the task (the object's own
      // logger field would drag the module into the serialized closure)
      partitionWarning(rows.length.toLong, nRows, cap, context)
        .foreach(m => LoggerFactory.getLogger("graft.ext.BucketCap").warn(m))
      rows.iterator
    }.localCheckpoint(eager = false)
    // re-select in the caller's column order: a USING join moves the key
    // columns first, which would silently break positional renames
    banded.join(broadcast(hot.select(bucketCols.map(col): _*)),
        bucketCols, "left_anti")
      .select(banded.columns.map(col).toSeq: _*)
  }
}
