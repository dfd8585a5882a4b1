package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten delete over partitioned Parquet — the
  * GDPR/CCPA erasure pass every stored training corpus eventually needs:
  * given a (small) set of keys to forget, physically remove every
  * matching row, touch nothing else, and leave an audit trail proving
  * what was removed and when.
  *
  * This is deliberately NOT `mergeIntoParquet` with a delete predicate:
  * a forget set carries only keys (no payload columns, so mergeView's
  * full-column source contract would be artificial), and erasure wants
  * its own audit artifact.
  *
  * Scale posture, same as the MERGE writer:
  *   - the forget set is dimension-sized (requests, not corpus) —
  *     broadcast semi/anti joins, the corpus never shuffles;
  *   - only partitions that actually contain a matching key are
  *     rewritten ([[Rewrite.partitions]]); untouched directories stay
  *     byte-identical — a handful of erasure requests against a
  *     100 TB corpus rewrites a handful of day/source partitions, and
  *     partitions left empty by the delete are removed outright;
  *   - idempotent: re-running with the same forget set finds no
  *     matching partitions and writes nothing.
  */
object Forget {

  /** Directory name Spark/Hive use for a null partition value. */
  val HiveDefaultPartition: String = Rewrite.HiveDefaultPartition

  /** Delete every row of the parquet dataset at `dir` whose `keyCol`
    * appears in `forgetKeys`, rewriting only affected `partitionCol`
    * partitions. Returns the audit DataFrame (partition, n_deleted) —
    * also appended to `auditDir` when given, stamped with `requestId`.
    */
  def forgetFromParquet(spark: SparkSession, dir: String, keyCol: String,
      forgetKeys: DataFrame, partitionCol: String,
      auditDir: Option[String] = None,
      requestId: String = "unstamped"): DataFrame = {
    import spark.implicits._
    val keys = forgetKeys.select(col(keyCol)).distinct()
    val target = spark.read.parquet(dir)
    // partitions that actually hold a to-be-forgotten row (bounded:
    // one string per affected partition)
    val affected = target.join(broadcast(keys), Seq(keyCol), "left_semi")
      .groupBy(Rewrite.value(partitionCol).as("partition"))
      .agg(count(lit(1)).as("n_deleted"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (affected.nonEmpty) {
      val parts = affected.keys.toSeq
      Rewrite.partitions(spark, dir, partitionCol, parts,
        Rewrite.slice(target, partitionCol, parts)
          .join(broadcast(keys), Seq(keyCol), "left_anti"))
    }
    val audit = affected.toSeq.sortBy(_._1)
      .toDF("partition", "n_deleted")
      .withColumn("request_id", lit(requestId))
    auditDir.foreach(d => audit.write.mode("append").parquet(d))
    audit
  }
}
