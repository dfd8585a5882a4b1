package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.StreamingNearDup
import graft.ext.Dedup

/** Batch-level contract of the streaming near-dup admission stage —
  * exercises [[StreamingNearDup.processBatch]] directly (the foreachBatch
  * body), which is where all the semantics live. */
class StreamingNearDupSpec extends SparkSpecBase {

  private def tmp(): String =
    Files.createTempDirectory("graft-snd").toString

  private val docA =
    "the quick brown fox jumps over the lazy dog every single day"
  private val docA2 =
    "the quick brown fox jumps over the lazy dog every single night"
  private val docB =
    "completely different content about databases and indexes here"
  private val docC =
    "unrelated fresh material with nothing shared at all whatsoever"

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def readIds(dir: String): Set[Long] =
    try spark.read.parquet(dir).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    catch { case _: org.apache.spark.sql.AnalysisException => Set.empty }

  test("batch N's near-dups of batch N-1 are flagged; index holds " +
      "signatures, never text") {
    val (idx, adm, flg) = (tmp(), tmp(), tmp())
    StreamingNearDup.processBatch(df(1L -> docA, 2L -> docB), 0L,
      idx, adm, flg, tau = 0.5)
    assert(readIds(adm) == Set(1L, 2L) && readIds(flg).isEmpty)
    StreamingNearDup.processBatch(df(11L -> docA2, 13L -> docC), 1L,
      idx, adm, flg, tau = 0.5)
    assert(readIds(flg) == Set(11L))
    assert(readIds(adm) == Set(1L, 2L, 13L))
    val index = spark.read.parquet(idx)
    assert(readIds(idx) == Set(1L, 2L, 13L))
    // state is bounded by signatures: 64 longs per admitted doc, no text
    assert(index.columns.toSet ==
      Set("doc_id", "sig", "src_batch", "batch_id"))
    assert(index.select(size(col("sig"))).distinct().head().getInt(0) ==
      Dedup.MinhashK)
  }

  test("intra-batch near-dups: one copy admitted, the other flagged " +
      "against it") {
    val (idx, adm, flg) = (tmp(), tmp(), tmp())
    StreamingNearDup.processBatch(
      df(5L -> docA, 9L -> docA2, 7L -> docB), 0L, idx, adm, flg, 0.5)
    // 5 is the lowest id of the dup group -> survives; 9 flagged vs 5
    assert(readIds(adm) == Set(5L, 7L))
    val flagged = spark.read.parquet(flg)
      .select("doc_id", "near_dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flagged == Set((9L, 5L)))
    // the flagged copy's signature must NOT enter the index
    assert(readIds(idx) == Set(5L, 7L))
  }

  test("re-run of a batch replaces its own partition even when the " +
      "re-run computes an empty flagged set") {
    val (idx, adm, flg) = (tmp(), tmp(), tmp())
    StreamingNearDup.processBatch(df(1L -> docA), 0L, idx, adm, flg, 0.5)
    // first (failed) attempt of batch 1 contains a near-dup -> flagged
    StreamingNearDup.processBatch(df(21L -> docA2), 1L, idx, adm, flg, 0.5)
    assert(readIds(flg) == Set(21L))
    // the replayed attempt of batch 1 carries only a clean doc: the
    // stale flagged row from the failed attempt must disappear, not
    // survive alongside the admitted row
    StreamingNearDup.processBatch(df(21L -> docC), 1L, idx, adm, flg, 0.5)
    assert(readIds(flg).isEmpty,
      "stale flagged partition survived the re-run")
    assert(readIds(adm) == Set(1L, 21L))
    assert(readIds(idx) == Set(1L, 21L))
  }

  test("empty re-run clears the prior attempt's partitions") {
    val (idx, adm, flg) = (tmp(), tmp(), tmp())
    StreamingNearDup.processBatch(df(1L -> docA), 0L, idx, adm, flg, 0.5)
    assert(readIds(adm) == Set(1L))
    StreamingNearDup.processBatch(df(), 0L, idx, adm, flg, 0.5)
    assert(readIds(adm).isEmpty && readIds(idx).isEmpty)
  }

  test("start(): the foreachBatch wiring admits/flags across real " +
      "micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (idx, adm, flg) = (tmp(), tmp(), tmp())
    val input = MemoryStream[(Long, String)]
    val q = StreamingNearDup.start(
      input.toDF().toDF("doc_id", "text"), idx, adm, flg,
      checkpointDir = tmp(), tau = 0.5)
    input.addData(1L -> docA, 2L -> docB)
    q.processAllAvailable()
    // next micro-batch: near-dup of batch 0's doc 1 + a fresh doc
    input.addData(11L -> docA2, 13L -> docC)
    q.processAllAvailable()
    q.stop()
    assert(readIds(adm) == Set(1L, 2L, 13L))
    assert(readIds(flg) == Set(11L))
    assert(readIds(idx) == Set(1L, 2L, 13L))
  }

  test("selfNearDupSigs flags only higher ids and chains greedily") {
    val sigs = Dedup.minhashSignaturesOf(
      df(3L -> docA, 8L -> docA2, 12L -> docA, 20L -> docB))
      .localCheckpoint()
    val got = Dedup.selfNearDupSigs(sigs, tau = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // 3 is the group minimum -> never flagged; 8 and 12 flag against a
    // lower id (12's best match is the identical doc 3, est 1.0)
    assert(!got.contains(3L) && !got.contains(20L))
    assert(got.keySet == Set(8L, 12L) && got(12L) == 3L)
  }

  test("signature-index compaction: flags identical against compacted " +
      "vs uncompacted twins, index collapses to batch_id=-1") {
    val (idxA, admA, flgA) = (tmp(), tmp(), tmp())
    val (idxB, admB, flgB) = (tmp(), tmp(), tmp())
    for ((idx, adm, flg) <- Seq((idxA, admA, flgA), (idxB, admB, flgB))) {
      StreamingNearDup.processBatch(df(1L -> docA, 2L -> docB), 0L,
        idx, adm, flg, 0.5)
      StreamingNearDup.processBatch(df(13L -> docC), 1L, idx, adm, flg, 0.5)
    }
    StreamingNearDup.compactIndex(spark, idxA)
    val parts = new java.io.File(idxA).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSet
    assert(parts == Set("batch_id=-1"))
    assert(readIds(idxA) == readIds(idxB))
    // batch 2 flags identically against both index forms
    StreamingNearDup.processBatch(df(21L -> docA2, 22L -> docC), 2L,
      idxA, admA, flgA, 0.5)
    StreamingNearDup.processBatch(df(21L -> docA2, 22L -> docC), 2L,
      idxB, admB, flgB, 0.5)
    assert(readIds(flgA) == readIds(flgB))
    assert(readIds(flgA).contains(21L) && readIds(flgA).contains(22L))
    assert(readIds(admA) == readIds(admB))
    // compacting again (and a missing dir) is harmless
    StreamingNearDup.compactIndex(spark, idxA)
    StreamingNearDup.compactIndex(spark, tmp() + "/absent")
    assert(readIds(idxA) == readIds(idxB))
  }

  test("replay AFTER compaction: a batch whose signatures were folded " +
      "into batch_id=-1 is not flagged against itself (provenance " +
      "survives compaction)") {
    // the at-least-once hazard: batch 1 committed its sinks AND was
    // compacted, then the driver died before the streaming checkpoint
    // commit — batch 1 replays. Without src_batch provenance the replay
    // would match every doc against its own compacted signature
    // (est_jaccard 1.0) and the whole batch would vanish from admitted.
    val (idx, adm, flg) = (tmp(), tmp(), tmp())
    StreamingNearDup.processBatch(df(1L -> docA), 0L, idx, adm, flg, 0.5)
    StreamingNearDup.processBatch(df(21L -> docB, 22L -> docC), 1L,
      idx, adm, flg, 0.5)
    StreamingNearDup.compactIndex(spark, idx)
    assert(new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSet ==
      Set("batch_id=-1"))
    // the replay: admitted/flagged/index doc sets all unchanged
    StreamingNearDup.processBatch(df(21L -> docB, 22L -> docC), 1L,
      idx, adm, flg, 0.5)
    assert(readIds(adm) == Set(1L, 21L, 22L))
    assert(readIds(flg).isEmpty,
      "replayed batch was flagged against its own compacted signatures")
    assert(readIds(idx) == Set(1L, 21L, 22L))
    // ...and a LATER batch still sees the replayed batch's content
    StreamingNearDup.processBatch(df(31L -> docC), 2L, idx, adm, flg, 0.5)
    assert(readIds(flg) == Set(31L))
  }

  test("readIndex fails loudly on a pre-provenance index (missing " +
      "src_batch) instead of null-filling and dropping every row") {
    import spark.implicits._
    val legacy = tmp() + "/legacy"
    Seq((1L, Seq(1L, 2L), 0L)).toDF("doc_id", "sig", "batch_id")
      .write.partitionBy("batch_id").parquet(legacy)
    val e = intercept[IllegalArgumentException] {
      StreamingNearDup.readIndex(spark, legacy)
    }
    assert(e.getMessage.contains("src_batch"))
    // a stray file next to the batch_id= partitions is refused, not
    // read (or left to a partition-discovery failure)
    val idx = tmp()
    StreamingNearDup.processBatch(df(1L -> docA), 0L, idx, tmp(), tmp(),
      0.5)
    Files.writeString(java.nio.file.Paths.get(idx, "stray.parquet"), "x")
    val e2 = intercept[IllegalArgumentException] {
      StreamingNearDup.readIndex(spark, idx)
    }
    assert(e2.getMessage.contains("refusing"))
  }
}
