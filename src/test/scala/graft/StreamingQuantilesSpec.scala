package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.Quantiles
import graft.functions.DetMix
import graft.streaming.StreamingQuantiles

/** Streaming quantile monitoring: the snapshot equals batch q141 over
  * the union of batches (exactly — the sample merge is associative),
  * replay is idempotent including AFTER compaction, compaction bounds
  * the index at k rows per group without changing answers, and corrupt
  * state fails loudly. */
class StreamingQuantilesSpec extends SparkSpecBase {

  private def tmp(): String =
    Files.createTempDirectory("graft-squant").toString

  private def rows(r: Seq[(String, Long, Double)]): DataFrame = {
    import spark.implicits._
    r.toDF("grp", "key", "v")
  }

  private val b0 = (1L to 300L).map(i =>
    (if (i % 2 == 0) "a" else "b", i, (i * 37 % 101).toDouble))
  private val b1 = (301L to 700L).map(i =>
    (if (i % 2 == 0) "a" else "b", i, (i * 53 % 211).toDouble))
  private val b2 = (701L to 900L).map(i =>
    (if (i % 2 == 0) "a" else "b", i, (i * 29 % 97).toDouble))

  private def wantOver(rs: Seq[(String, Long, Double)]): Set[String] =
    Quantiles.sketchQuantilesOf(rows(rs), "grp",
        expr(DetMix.mixSql("key", StreamingQuantiles.Seed)), "v", "key")
      .collect().map(_.toString).toSet

  private def snapshot(out: String, batchId: Long): Set[String] =
    spark.read.parquet(out).filter(col("batch_id") === batchId)
      .select("grp", "n", "m", "p25_est", "p50_est", "p75_est", "p95_est")
      .collect().map(_.toString).toSet

  test("snapshot == batch q141 over the union; replay idempotent; " +
      "compaction bounds state and changes nothing; replay AFTER " +
      "compaction still idempotent") {
    val (idx, cnt, out) = (tmp(), tmp(), tmp())
    StreamingQuantiles.processBatch(rows(b0), 0L, idx, cnt, out)
    assert(snapshot(out, 0L) == wantOver(b0))
    StreamingQuantiles.processBatch(rows(b1), 1L, idx, cnt, out)
    assert(snapshot(out, 1L) == wantOver(b0 ++ b1))
    // plain replay
    StreamingQuantiles.processBatch(rows(b1), 1L, idx, cnt, out)
    assert(snapshot(out, 1L) == wantOver(b0 ++ b1))
    // compact: ≤ k rows per group, one folded partition, src_batch kept
    StreamingQuantiles.compactIndex(spark, idx)
    val folded = StreamingQuantiles.readIndex(spark, idx)
    val perGroup = folded.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perGroup.values.forall(_ <= StreamingQuantiles.K))
    assert(folded.select("batch_id").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(-1L))
    assert(folded.select("src_batch").distinct().count() > 1,
      "compaction must preserve per-batch provenance")
    // the r11 gate: batch 1 replayed AFTER its rows were folded
    StreamingQuantiles.processBatch(rows(b1), 1L, idx, cnt, out)
    assert(snapshot(out, 1L) == wantOver(b0 ++ b1))
    // and the stream continues correctly off the folded state
    StreamingQuantiles.processBatch(rows(b2), 2L, idx, cnt, out)
    assert(snapshot(out, 2L) == wantOver(b0 ++ b1 ++ b2))
  }

  test("groups smaller than k: the snapshot IS the exact quantile " +
      "(m == n) across batches") {
    val (idx, cnt, out) = (tmp(), tmp(), tmp())
    val small0 = (1L to 40L).map(i => ("g", i, i.toDouble))
    val small1 = (41L to 90L).map(i => ("g", i, i.toDouble))
    StreamingQuantiles.processBatch(rows(small0), 0L, idx, cnt, out)
    StreamingQuantiles.processBatch(rows(small1), 1L, idx, cnt, out)
    val r = spark.read.parquet(out).filter(col("batch_id") === 1L).head()
    assert(r.getAs[Long]("n") == 90L && r.getAs[Int]("m") == 90)
    // exact discrete quantiles of 1..90
    assert(r.getAs[Double]("p50_est") == 45.0)
    assert(r.getAs[Double]("p95_est") == 86.0)
  }

  test("corrupt or pre-provenance state fails loudly") {
    val idx = tmp()
    // stray file, no batch partitions
    Files.writeString(java.nio.file.Paths.get(idx, "junk.parquet"), "x")
    val e = intercept[IllegalArgumentException] {
      StreamingQuantiles.readIndex(spark, idx)
    }
    assert(e.getMessage.contains("refusing"))
    // a parquet dir missing src_batch must not silently read as empty
    val idx2 = tmp()
    rows(b0).withColumn("h", col("key")).withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").mode("overwrite").parquet(idx2)
    val e2 = intercept[IllegalArgumentException] {
      StreamingQuantiles.readIndex(spark, idx2)
    }
    assert(e2.getMessage.contains("src_batch"))
    // a stray file next to real batch_id= partitions is refused too
    val (idx3, cnt3, out3) = (tmp(), tmp(), tmp())
    StreamingQuantiles.processBatch(rows(b0), 0L, idx3, cnt3, out3)
    Files.writeString(java.nio.file.Paths.get(idx3, "stray.parquet"), "x")
    val e3 = intercept[IllegalArgumentException] {
      StreamingQuantiles.readIndex(spark, idx3)
    }
    assert(e3.getMessage.contains("refusing"))
  }

  test("end-to-end through writeStream across real micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (idx, cnt, out) = (tmp(), tmp(), tmp())
    val input = MemoryStream[(String, Long, Double)]
    val q = StreamingQuantiles.start(
      input.toDF().toDF("grp", "key", "v"), idx, cnt, out,
      checkpointDir = tmp())
    input.addData(b0: _*)
    q.processAllAvailable()
    input.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    assert(snapshot(out, 1L) == wantOver(b0 ++ b1))
  }
}
