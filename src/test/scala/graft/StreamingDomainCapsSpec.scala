package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.StreamingDomainCaps
import graft.ext.UrlCurate

/** Streaming per-domain caps: cumulative cap across batches, blocklist
  * and over-cap rejection, stream ≡ batch q130 for monotone ingest,
  * replay idempotence (including after compaction), and the real
  * writeStream wiring. */
class StreamingDomainCapsSpec extends SparkSpecBase {

  private def tmp(): String =
    Files.createTempDirectory("graft-sdc").toString

  private def urls(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "url")
  }

  private def u(host: String, id: Long) = s"https://$host/p$id"

  private def ids(dir: String): Set[Long] =
    try spark.read.parquet(dir).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    catch { case _: org.apache.spark.sql.AnalysisException => Set.empty }

  test("the cap holds CUMULATIVELY across batches; within a batch the " +
      "lowest doc_ids win the remaining quota; blocklist and hostless " +
      "rows are rejected with reasons") {
    val (idx, adm, rej) = (tmp(), tmp(), tmp())
    def run(b: Seq[(Long, String)], id: Long): Unit =
      StreamingDomainCaps.processBatch(urls(b: _*), id, idx, adm, rej,
        cap = 3)
    // batch 0: four a.com docs (one over cap), one blocked, one junk
    run(Seq(
      1L -> u("x.a.com", 1), 2L -> u("y.a.com", 2), 3L -> u("a.com", 3),
      4L -> u("z.a.com", 4), 5L -> u("w.site8.com", 5), 6L -> "junk"), 0L)
    assert(ids(adm) == Set(1L, 2L, 3L))
    val reasons = spark.read.parquet(rej)
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reasons == Map(4L -> "over_cap", 5L -> "blocked",
      6L -> "no_host"))
    // batch 1: a.com is FULL from batch 0; b.org has quota
    run(Seq(10L -> u("q.a.com", 10), 11L -> u("b.org", 11)), 1L)
    assert(ids(adm) == Set(1L, 2L, 3L, 11L))
    assert(spark.read.parquet(rej)
      .filter(col("doc_id") === 10L).head().getString(2) == "over_cap")
  }

  test("monotone-ingest stream equals the batch q130 cap over the " +
      "union of batches") {
    import spark.implicits._
    val (idx, adm, rej) = (tmp(), tmp(), tmp())
    val all = Tables(spark, sf0001, "documents").select(col("doc_id"))
      .as[Long].collect().sorted
    val withUrls = UrlCurate.synthesizeUrlsOf(
      Tables(spark, sf0001, "documents"))
    val (lo, hi) = all.splitAt(all.length / 2)
    def slice(idset: Seq[Long]) = withUrls.filter(col("doc_id")
      .isin(idset.map(x => x: Any): _*))
    StreamingDomainCaps.processBatch(slice(lo.toSeq), 0L, idx, adm, rej)
    StreamingDomainCaps.processBatch(slice(hi.toSeq), 1L, idx, adm, rej)
    val want = UrlCurate.domainCapOf(UrlCurate.blocklistOf(
        UrlCurate.registrableDomainOf(UrlCurate.canonicalizeOf(withUrls))))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(ids(adm) == want)
  }

  test("robots=true: monotone-ingest stream equals the batch q150 " +
      "frontier gate (policy BEFORE cap) over the union; disallowed " +
      "URLs rejected with reason 'robots' and never consume budget") {
    import spark.implicits._
    val (idx, adm, rej) = (tmp(), tmp(), tmp())
    val all = Tables(spark, sf001, "documents").select(col("doc_id"))
      .as[Long].collect().sorted
    val withUrls = UrlCurate.synthesizeUrlsOf(
      Tables(spark, sf001, "documents"))
    val (lo, hi) = all.splitAt(all.length / 2)
    def slice(idset: Seq[Long]) = withUrls.filter(col("doc_id")
      .isin(idset.map(x => x: Any): _*))
    StreamingDomainCaps.processBatch(slice(lo.toSeq), 0L, idx, adm, rej,
      robots = true)
    StreamingDomainCaps.processBatch(slice(hi.toSeq), 1L, idx, adm, rej,
      robots = true)
    val want = graft.ext.Robots.crawlAdmission(spark, sf001)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(ids(adm) == want)
    val reasons = spark.read.parquet(rej)
      .select(col("doc_id"), col("reason"))
      .as[(Long, String)].collect().toMap
    assert(reasons.values.exists(_ == "robots"))
    // a robots-rejected doc_id below an admitted one on the same domain
    // proves policy ran BEFORE the cap (the budget was not consumed)
    val verdicts = graft.ext.Robots.robotsFilter(spark, sf001)
      .select(col("domain"), col("doc_id"), col("allowed"))
      .as[(String, Long, Boolean)].collect()
    val admitted = ids(adm)
    val observed = verdicts.exists { case (dom, id, allowed) =>
      !allowed && verdicts.exists { case (d2, id2, a2) =>
        d2 == dom && a2 && id2 > id && admitted.contains(id2)
      }
    }
    assert(observed, "no blocked-below-admitted case — order untested")
  }

  test("replay AFTER compaction: provenance survives, the batch " +
      "neither caps itself out nor double-admits") {
    val (idx, adm, rej) = (tmp(), tmp(), tmp())
    def run(b: Seq[(Long, String)], id: Long): Unit =
      StreamingDomainCaps.processBatch(urls(b: _*), id, idx, adm, rej,
        cap = 3)
    run(Seq(1L -> u("x.a.com", 1), 2L -> u("y.a.com", 2)), 0L)
    run(Seq(3L -> u("z.a.com", 3), 4L -> u("w.a.com", 4)), 1L)
    // batch 1 admitted doc 3 (third under cap 3) and rejected doc 4
    assert(ids(adm) == Set(1L, 2L, 3L))
    StreamingDomainCaps.compactIndex(spark, idx)
    assert(new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSet ==
      Set("batch_id=-1"))
    // the at-least-once replay of batch 1: identical outcome — without
    // src_batch provenance its own compacted rows would fill the cap
    // and doc 3 would flip to over_cap
    run(Seq(3L -> u("z.a.com", 3), 4L -> u("w.a.com", 4)), 1L)
    assert(ids(adm) == Set(1L, 2L, 3L))
    assert(ids(idx) == Set(1L, 2L, 3L))
    // a later batch still sees a full domain
    run(Seq(9L -> u("v.a.com", 9)), 2L)
    assert(ids(adm) == Set(1L, 2L, 3L))
  }

  test("readIndex: missing reads empty; a stray file or a " +
      "pre-provenance index fails loudly instead of miscounting") {
    assert(StreamingDomainCaps.readIndex(spark, tmp() + "/absent")
      .count() == 0)
    val (idx, adm, rej) = (tmp(), tmp(), tmp())
    StreamingDomainCaps.processBatch(urls(1L -> u("x.a.com", 1)), 0L,
      idx, adm, rej)
    Files.writeString(java.nio.file.Paths.get(idx, "stray.parquet"), "x")
    val e = intercept[IllegalArgumentException] {
      StreamingDomainCaps.readIndex(spark, idx)
    }
    assert(e.getMessage.contains("refusing"))
    import spark.implicits._
    val legacy = tmp() + "/legacy"
    Seq(("a.com", 1L, 0L)).toDF("domain", "doc_id", "batch_id")
      .write.partitionBy("batch_id").parquet(legacy)
    val e2 = intercept[IllegalArgumentException] {
      StreamingDomainCaps.readIndex(spark, legacy)
    }
    assert(e2.getMessage.contains("src_batch"))
  }

  test("end-to-end through writeStream with the synthesized corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (idx, adm, rej) = (tmp(), tmp(), tmp())
    val input = MemoryStream[(Long, String)]
    val q = StreamingDomainCaps.start(
      input.toDF().toDF("doc_id", "url"), idx, adm, rej,
      checkpointDir = tmp(), cap = 1)
    input.addData(1L -> u("m.net", 1), 2L -> u("n.m.net", 2))
    q.processAllAvailable()
    input.addData(3L -> u("o.m.net", 3))
    q.processAllAvailable()
    q.stop()
    assert(ids(adm) == Set(1L))
    assert(ids(rej) == Set(2L, 3L))
  }
}
