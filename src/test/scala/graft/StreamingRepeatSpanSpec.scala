package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.StreamingRepeatSpans
import graft.ext.Dedup

/** Batch-level contract of the streaming exact-substring repeat-span
  * stage — exercises [[StreamingRepeatSpans.processBatch]] directly
  * (the foreachBatch body), mirroring StreamingNearDupSpec. k = 3
  * throughout so short fixtures exercise every path. */
class StreamingRepeatSpanSpec extends SparkSpecBase {

  private def tmp(): String =
    Files.createTempDirectory("graft-srs").toString

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def spans(dir: String): Set[(Long, Long, Long, Long)] =
    try spark.read.parquet(dir)
      .select("doc_id", "span_start", "span_end", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    catch { case _: org.apache.spark.sql.AnalysisException => Set.empty }

  test("batch N repeating batch N-1 content is marked; fresh content " +
      "indexes once per distinct window, never text") {
    val (idx, out) = (tmp(), tmp())
    StreamingRepeatSpans.processBatch(
      df(1L -> "a b c d e", 2L -> "p q r s"), 0L, idx, out, k = 3)
    assert(spans(out).isEmpty)
    // doc 11 embeds doc 1's "a b c d" -> windows @2 [a b c], @3 [b c d]
    // merge to tokens 2..5; doc 12 is fresh
    StreamingRepeatSpans.processBatch(
      df(11L -> "x a b c d y", 12L -> "f g h i"), 1L, idx, out, k = 3)
    assert(spans(out) == Set((11L, 2L, 5L, 4L)))
    val index = spark.read.parquet(idx)
    assert(index.columns.toSet ==
      Set("h", "doc_id", "p", "src_batch", "batch_id"))
    // batch 0: 3+2 windows, all fresh; batch 1: doc 11 contributes its
    // two non-repeating windows [x a b], [c d y]; doc 12 its two — and
    // the repeated contents do NOT re-index
    assert(index.filter(col("batch_id") === 0).count() == 5)
    assert(index.filter(col("batch_id") === 1).count() == 4)
    // one row per distinct window content across the whole stream
    assert(index.select("h").distinct().count() == index.count())
  }

  test("intra-batch repeats: the lowest (doc_id, p) copy wins, the " +
      "other is marked in the same micro-batch") {
    val (idx, out) = (tmp(), tmp())
    StreamingRepeatSpans.processBatch(
      df(5L -> "m n o p", 9L -> "z m n o"), 0L, idx, out, k = 3)
    // doc 9's window @2 [m n o] repeats doc 5's @1 -> span tokens 2..4
    assert(spans(out) == Set((9L, 2L, 4L, 3L)))
  }

  test("re-running a batch is idempotent: spans and index rows are " +
      "replaced, not duplicated, and a batch never repeats itself") {
    val (idx, out) = (tmp(), tmp())
    StreamingRepeatSpans.processBatch(df(1L -> "a b c d e"), 0L, idx, out, 3)
    StreamingRepeatSpans.processBatch(df(21L -> "a b c d e"), 1L, idx, out, 3)
    val first = spans(out)
    assert(first == Set((21L, 1L, 5L, 5L)))
    // replay batch 1 (failure recovery): same output, index unchanged
    StreamingRepeatSpans.processBatch(df(21L -> "a b c d e"), 1L, idx, out, 3)
    assert(spans(out) == first)
    val index = spark.read.parquet(idx)
    assert(index.count() == 3) // doc 1's three windows, indexed once
    // empty re-run of batch 1 clears its partitions (no stale rows)
    StreamingRepeatSpans.processBatch(df(), 1L, idx, out, 3)
    assert(spans(out).isEmpty)
  }

  test("end-to-end through writeStream: spans accumulate across real " +
      "micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (idx, out) = (tmp(), tmp())
    val input = MemoryStream[(Long, String)]
    val q = StreamingRepeatSpans.start(
      input.toDF().toDF("doc_id", "text"), idx, out,
      checkpointDir = tmp(), k = 3)
    input.addData(1L -> "a b c d e")
    q.processAllAvailable()
    input.addData(21L -> "z a b c d")
    q.processAllAvailable()
    q.stop()
    // doc 21's windows @2 [a b c], @3 [b c d] repeat batch 0 -> one span
    assert(spans(out) == Set((21L, 2L, 5L, 4L)))
    // index: doc 1's three windows + doc 21's fresh [z a b]
    assert(spark.read.parquet(idx).count() == 4)
  }

  test("streaming marks equal the batch q120 pass over the union of " +
      "all batches — SCOPED to monotone ingest (doc ids increase with " +
      "batch order), the production append-only case") {
    val (idx, out) = (tmp(), tmp())
    val b0 = Seq(1L -> "a b c d e", 2L -> "p q r s t")
    val b1 = Seq(11L -> "x a b c d y", 12L -> "p q r s w")
    StreamingRepeatSpans.processBatch(df(b0: _*), 0L, idx, out, 3)
    StreamingRepeatSpans.processBatch(df(b1: _*), 1L, idx, out, 3)
    val batchSpans = Dedup.repeatSpansOf(df((b0 ++ b1): _*), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(spans(out) == batchSpans)
  }

  test("non-monotone ingest DIVERGES from batch by design: across " +
      "batches the first-ARRIVED copy wins, not the min doc_id") {
    val (idx, out) = (tmp(), tmp())
    // the HIGH id arrives first; the low-id copy lands a batch later
    StreamingRepeatSpans.processBatch(df(30L -> "a b c d"), 0L, idx, out, 3)
    StreamingRepeatSpans.processBatch(df(4L -> "a b c d"), 1L, idx, out, 3)
    // stream: doc 30 holds the index entries, so the LATER-arriving
    // doc 4 is the marked copy...
    assert(spans(out) == Set((4L, 1L, 4L, 4L)))
    // ...while batch q120 over the union marks doc 30 (min doc_id wins).
    // Arrival order IS the stream's first-copy order — re-running q120
    // over the accumulated corpus is the reconciliation if min-id
    // semantics are required after out-of-order backfills.
    val batchSpans = Dedup.repeatSpansOf(
        df(30L -> "a b c d", 4L -> "a b c d"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(batchSpans == Set((30L, 1L, 4L, 4L)))
  }

  test("streaming removal (cutDir) equals the batch q121 cut over the " +
      "union of batches, and replaying a batch is idempotent") {
    val (idx, out, cut) = (tmp(), tmp(), tmp())
    val b0 = Seq(1L -> "a b c d e", 2L -> "p q r s t")
    val b1 = Seq(11L -> "x a b c d y", 12L -> "p q r s w", 13L -> "a b c d e")
    def run(b: Seq[(Long, String)], id: Long): Unit =
      StreamingRepeatSpans.processBatch(df(b: _*), id, idx, out, 3, Some(cut))
    run(b0, 0L); run(b1, 1L)
    def cutRows(): Set[(Long, Long, String)] =
      spark.read.parquet(cut).select("doc_id", "n_tokens_kept", "text_cut")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
    val got = cutRows()
    val want = Dedup.repeatSpanRemovalOf(df((b0 ++ b1): _*), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(got == want)
    // doc 13 is a whole-document repeat: erased from the cut output
    assert(!got.exists(_._1 == 13L))
    run(b1, 1L) // failure-recovery replay: identical rows, no dupes
    assert(cutRows() == got)
  }

  test("index compaction: marks are identical before and after, the " +
      "index collapses to the batch_id=-1 partition, h set preserved") {
    val (idxA, outA) = (tmp(), tmp()) // compacted arm
    val (idxB, outB) = (tmp(), tmp()) // uncompacted twin
    val b0 = Seq(1L -> "a b c d e", 2L -> "p q r s t")
    val b1 = Seq(11L -> "x a b c d y", 12L -> "f g h i j")
    val b2 = Seq(21L -> "a b c d z", 22L -> "f g h i w")
    for ((dirs, _) <- Seq(((idxA, outA), 0), ((idxB, outB), 1))) {
      StreamingRepeatSpans.processBatch(df(b0: _*), 0L, dirs._1, dirs._2, 3)
      StreamingRepeatSpans.processBatch(df(b1: _*), 1L, dirs._1, dirs._2, 3)
    }
    val hBefore = spark.read.parquet(idxA).select("h").collect()
      .map(_.getLong(0)).toSet
    StreamingRepeatSpans.compactIndex(spark, idxA)
    // single batch_id=-1 partition on disk, same distinct window set
    val parts = new java.io.File(idxA).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSet
    assert(parts == Set("batch_id=-1"))
    assert(spark.read.parquet(idxA).select("h").collect()
      .map(_.getLong(0)).toSet == hBefore)
    // batch 2 marks identically against compacted and uncompacted index
    StreamingRepeatSpans.processBatch(df(b2: _*), 2L, idxA, outA, 3)
    StreamingRepeatSpans.processBatch(df(b2: _*), 2L, idxB, outB, 3)
    assert(spans(outA) == spans(outB))
    // re-compacting (now including batch 2's fresh windows) and
    // compacting a missing index are both harmless
    val hAfterB2 = spark.read.parquet(idxA).select("h").collect()
      .map(_.getLong(0)).toSet
    StreamingRepeatSpans.compactIndex(spark, idxA)
    StreamingRepeatSpans.compactIndex(spark, tmp() + "/absent")
    assert(spark.read.parquet(idxA).select("h").collect()
      .map(_.getLong(0)).toSet == hAfterB2)
    assert(hBefore.subsetOf(hAfterB2))
  }

  test("compactEvery knob: auto-compaction mid-stream changes no marks " +
      "and keeps the index folded") {
    val (idxA, outA) = (tmp(), tmp()) // compactEvery = 2
    val (idxB, outB) = (tmp(), tmp()) // never compacted
    val batches = Seq(
      Seq(1L -> "a b c d e", 2L -> "p q r s t"),
      Seq(11L -> "x a b c d y"),
      Seq(21L -> "a b c d z", 22L -> "p q r s w"),
      Seq(31L -> "x a b c d y"))
    for ((b, i) <- batches.zipWithIndex) {
      StreamingRepeatSpans.processBatch(df(b: _*), i.toLong, idxA, outA,
        3, None, compactEvery = 2)
      StreamingRepeatSpans.processBatch(df(b: _*), i.toLong, idxB, outB, 3)
    }
    assert(spans(outA) == spans(outB))
    // batches 0..3 with compactEvery=2: compactions after batch 1 and 3
    // -> only the -1 partition remains
    val parts = new java.io.File(idxA).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSet
    assert(parts == Set("batch_id=-1"))
    // same distinct window set both arms
    def hs(d: String) = spark.read.parquet(d).select("h").collect()
      .map(_.getLong(0)).toSet
    assert(hs(idxA) == hs(idxB))
  }

  test("replay AFTER compaction: a batch whose windows were already " +
      "folded into batch_id=-1 does not mark itself (provenance " +
      "survives compaction)") {
    // the at-least-once hazard: processBatch(1) ran with compactEvery=1,
    // so batch 1's fresh windows now live in batch_id=-1 — then the
    // driver dies before the streaming checkpoint commits and batch 1
    // REPLAYS. Without src_batch provenance the replay would see its own
    // windows as corpus content, mark every occurrence, and (with cutDir)
    // cut every document in the batch to nothing.
    val (idx, out, cut) = (tmp(), tmp(), tmp())
    def run(b: Seq[(Long, String)], id: Long): Unit =
      StreamingRepeatSpans.processBatch(df(b: _*), id, idx, out, 3,
        Some(cut), compactEvery = 1)
    run(Seq(1L -> "a b c d e"), 0L)
    run(Seq(21L -> "z a b c d", 22L -> "f g h i j"), 1L)
    val spansBefore = spans(out)
    assert(spansBefore == Set((21L, 2L, 5L, 4L))) // repeats batch 0 only
    def cutRows(): Set[(Long, String)] =
      spark.read.parquet(cut).select("doc_id", "text_cut").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val cutBefore = cutRows()
    assert(cutBefore.exists { case (id, t) => id == 22L && t == "f g h i j" })
    // index is fully compacted (single -1 partition) at this point
    assert(new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSet ==
      Set("batch_id=-1"))
    // the replay: marks, cuts, and the distinct window set are unchanged
    val hBefore = spark.read.parquet(idx).select("h").collect()
      .map(_.getLong(0)).toSet
    run(Seq(21L -> "z a b c d", 22L -> "f g h i j"), 1L)
    assert(spans(out) == spansBefore)
    assert(cutRows() == cutBefore)
    assert(spark.read.parquet(idx).select("h").collect()
      .map(_.getLong(0)).toSet == hBefore)
  }

  test("readIndex: missing path reads empty (first batch); a corrupt " +
      "index fails loudly instead of silently under-marking") {
    val missing = tmp() + "/never-written"
    assert(StreamingRepeatSpans.readIndex(spark, missing).count() == 0)
    val corrupt = tmp()
    Files.write(java.nio.file.Paths.get(corrupt, "part-00000.parquet"),
      "this is not parquet".getBytes)
    intercept[Exception] {
      StreamingRepeatSpans.readIndex(spark, corrupt).collect()
    }
    // a pre-provenance index (no src_batch column) must ALSO fail
    // loudly: a forced-schema read would null-fill src_batch and the
    // replay filter would then silently drop every row
    import spark.implicits._
    val legacy = tmp() + "/legacy"
    Seq((1L, 2L, 3L, 0L)).toDF("h", "doc_id", "p", "batch_id")
      .write.partitionBy("batch_id").parquet(legacy)
    val e = intercept[IllegalArgumentException] {
      StreamingRepeatSpans.readIndex(spark, legacy)
    }
    assert(e.getMessage.contains("src_batch"))
    // a stray file next to the batch_id= partitions is refused, never
    // read as index rows
    val idx = tmp()
    StreamingRepeatSpans.processBatch(df(1L -> "a b c d"), 0L, idx, tmp(),
      k = 3)
    Files.writeString(java.nio.file.Paths.get(idx, "stray.parquet"), "x")
    val e2 = intercept[IllegalArgumentException] {
      StreamingRepeatSpans.readIndex(spark, idx)
    }
    assert(e2.getMessage.contains("refusing"))
  }
}
