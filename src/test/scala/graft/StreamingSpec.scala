package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.pipeline.FilePipeline.Layout
import graft.streaming.{StreamingDedup, StreamingIngest, StreamingJoin}

class StreamingSpec extends SparkSpecBase {

  test("streaming ingest: exactly-once via checkpoint, restart reprocesses nothing") {
    val root = TestFixtures.tempRoot("stream-e2e")
    val checkpoint = root.resolve("checkpoint").toString
    TestFixtures.writeCsv(root, "2024-03-01", 1, 10)
    TestFixtures.writeCsv(root, "2024-03-01", 2, 20)

    val q1 = StreamingIngest.start(spark, root.toString, checkpoint,
      archiveSource = false)
    q1.awaitTermination()

    val layout = Layout(root.toString)
    assert(spark.read.parquet(layout.factTable).count() == 30)

    // restart with no new files: checkpoint prevents reprocessing
    val q2 = StreamingIngest.start(spark, root.toString, checkpoint,
      archiveSource = false)
    q2.awaitTermination()
    assert(spark.read.parquet(layout.factTable).count() == 30)

    // a late file lands; only it is processed
    TestFixtures.writeCsv(root, "2024-03-02", 3, 5)
    val q3 = StreamingIngest.start(spark, root.toString, checkpoint,
      archiveSource = false)
    q3.awaitTermination()
    val fact = spark.read.parquet(layout.factTable)
    assert(fact.count() == 35)
    assert(fact.select("day").distinct().count() == 2)
  }

  test("cleanSource=archive moves consumed source files (B6 parity)") {
    val root = TestFixtures.tempRoot("stream-archive")
    val checkpoint = root.resolve("checkpoint").toString
    TestFixtures.writeCsv(root, "2024-03-01", 1, 10)
    val q = StreamingIngest.start(spark, root.toString, checkpoint,
      archiveSource = true)
    q.awaitTermination()
    // the file source archives committed files when a later batch runs —
    // land a new file and restart so the cleaner fires
    TestFixtures.writeCsv(root, "2024-03-02", 2, 5)
    val q2 = StreamingIngest.start(spark, root.toString, checkpoint,
      archiveSource = true)
    q2.awaitTermination()
    val src = root.resolve(
      s"incoming/2024-03-01/rxndata_${TestFixtures.simUuid(1)}.csv")
    val deadline = System.currentTimeMillis() + 15000
    while (Files.exists(src) && System.currentTimeMillis() < deadline)
      Thread.sleep(250)
    assert(!Files.exists(src), "source file not archived")
    val layout = Layout(root.toString)
    assert(spark.read.parquet(layout.factTable).count() == 15)
  }

  test("streaming ingest binds columns by header name: mixed artifact/no-artifact files unshifted") {
    val root = TestFixtures.tempRoot("stream-shapes")
    val checkpoint = root.resolve("checkpoint").toString
    // regression for the positional-schema bug: one file WITH the pandas
    // index artifact, one WITHOUT, in the same stream — under a fixed
    // 9-column schema the artifact-less file's columns all shift left
    // (simulation_id gets the CA value). Assert value-level integrity.
    TestFixtures.writeCsv(root, "2024-03-01", 1, 4, withArtifact = true)
    TestFixtures.writeCsv(root, "2024-03-01", 2, 6, withArtifact = false)
    val q = StreamingIngest.start(spark, root.toString, checkpoint,
      archiveSource = false)
    q.awaitTermination()
    val layout = Layout(root.toString)
    val fact = spark.read.parquet(layout.factTable)
    assert(fact.count() == 10)
    // no nulls, no shifted ids: each file's rows carry its own uuid
    assert(fact.filter(col("simulation_id").isNull).count() == 0)
    val perSim = fact.groupBy("simulation_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSim == Map(
      TestFixtures.simUuid(1) -> 4L, TestFixtures.simUuid(2) -> 6L))
    // rxn_time unshifted for the artifact-less file: 0.0, 0.5, 1.0, ...
    val times = fact.filter(col("simulation_id") === TestFixtures.simUuid(2))
      .orderBy("rxn_time").select("rxn_time").collect().map(_.getDouble(0))
    assert(times.sameElements(Array(0.0, 0.5, 1.0, 1.5, 2.0, 2.5)))
    // temperature stayed in its own column (shift would put t_sensor there)
    val t = fact.filter(col("simulation_id") === TestFixtures.simUuid(1))
      .select("temperature").head().getDouble(0)
    assert(t == 310.0)
  }

  test("streaming ingest routes metadata JSONs to the dim stage (K4 parity)") {
    val root = TestFixtures.tempRoot("stream-meta")
    val checkpoint = root.resolve("checkpoint").toString
    // one metadata file + its fact CSV in the same stream: the dim row
    // must land AND the same-batch fact rows must enrich against it
    TestFixtures.writeMetadata(root, "2024-03-01", 1)
    TestFixtures.writeCsv(root, "2024-03-01", 1, 6)
    // a bad metadata file (missing in-file id) is quarantined, not fatal
    TestFixtures.writeMetadata(root, "2024-03-01", 2, omitId = true)
    val q = StreamingIngest.start(spark, root.toString, checkpoint,
      archiveSource = false)
    q.awaitTermination()
    val layout = Layout(root.toString)
    val dim = spark.read.parquet(layout.dimTable)
    assert(dim.count() == 1)
    val d = dim.head()
    assert(d.getAs[String]("simulation_id") == TestFixtures.simUuid(1))
    assert(d.getAs[Int]("simulation_num") == 1)
    // same-micro-batch enrichment: fact rows carry the fresh dim's number
    val fact = spark.read.parquet(layout.factTable)
    assert(fact.count() == 6)
    assert(fact.filter(col("simulation_num") === 1).count() == 6)
    val states = graft.ops.Ledger.latestState(
      graft.ops.Ledger.read(spark, layout.ledger))
      .filter(col("etl_type") === graft.ops.Ledger.EtlTypeMetadata)
      .select("simulation_id", "status").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(states(TestFixtures.simUuid(1)) == "success")
    assert(states(TestFixtures.simUuid(2)) == "failed")
  }

  test("streaming ingest numbers an id once across micro-batches, one ledger append each") {
    val root = TestFixtures.tempRoot("stream-dimkeyed")
    val checkpoint = root.resolve("checkpoint").toString
    def runStream(): Unit = StreamingIngest.start(spark, root.toString,
      checkpoint, archiveSource = false).awaitTermination()
    TestFixtures.writeMetadata(root, "2024-03-01", 1)
    runStream()
    // a later micro-batch: the same simulation's metadata again, and a new
    // simulation with its CSV
    TestFixtures.writeMetadata(root, "2024-03-02", 1, dateRun = "2024-03-02")
    TestFixtures.writeMetadata(root, "2024-03-02", 2)
    TestFixtures.writeCsv(root, "2024-03-02", 2, 4)
    runStream()
    val layout = Layout(root.toString)
    val dim = spark.read.parquet(layout.dimTable)
      .select("simulation_id", "simulation_num").collect()
      .map(x => x.getString(0) -> x.getInt(1)).toSeq.sorted
    assert(dim == Seq(TestFixtures.simUuid(1) -> 1, TestFixtures.simUuid(2) -> 2))
    val fact = spark.read.parquet(layout.factTable)
    assert(fact.count() == 4 && fact.filter(col("simulation_num") === 2).count() == 4)
    val meta = graft.ops.Ledger.read(spark, layout.ledger)
      .filter(col("etl_type") === graft.ops.Ledger.EtlTypeMetadata)
      .select("simulation_id", "status", "records_inserted").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSeq.sorted
    assert(meta == Seq((TestFixtures.simUuid(1), "success", 0L),
      (TestFixtures.simUuid(1), "success", 1L),
      (TestFixtures.simUuid(2), "success", 1L)))
    // one ledger file per micro-batch: both stages' rows in one append
    assert(Files.list(root.resolve("warehouse/etl_run_log")).iterator()
      .asScala.count(_.getFileName.toString.endsWith(".parquet")) == 2)
  }

  test("streaming ingest quarantines id-mismatch files via the shared ledger gate") {
    val root = TestFixtures.tempRoot("stream-quarantine")
    val checkpoint = root.resolve("checkpoint").toString
    TestFixtures.writeCsv(root, "2024-03-01", 3, 5)
    TestFixtures.writeCsv(root, "2024-03-01", 4, 5,
      inFileIdOverride = Some(TestFixtures.simUuid(77)))
    val q = StreamingIngest.start(spark, root.toString, checkpoint,
      archiveSource = false)
    q.awaitTermination()
    val layout = Layout(root.toString)
    val fact = spark.read.parquet(layout.factTable)
    assert(fact.count() == 5) // only the consistent file's rows landed
    assert(fact.select("simulation_id").distinct().head().getString(0)
      == TestFixtures.simUuid(3))
    val states = graft.ops.Ledger.latestState(
      graft.ops.Ledger.read(spark, layout.ledger))
      .select("simulation_id", "status").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(states(TestFixtures.simUuid(3)) == "success")
    assert(states(TestFixtures.simUuid(4)) == "failed")
  }

  test("streaming dedup drops in-horizon duplicates and keeps state bounded") {
    import spark.implicits._
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingDedup.dedupStream(
      input.toDF().toDF("ts", "doc_id", "text"), watermark = "30 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    // batch 1: two identical texts 10 min apart (in-horizon dup) + one unique
    input.addData(
      (Timestamp.valueOf("2024-03-01 10:00:00"), 1L, "same text"),
      (Timestamp.valueOf("2024-03-01 10:10:00"), 2L, "same text"),
      (Timestamp.valueOf("2024-03-01 10:05:00"), 3L, "other text"))
    q.processAllAvailable()
    // batch 2: advance the watermark past the first digest's eviction
    // point (12:00 - 30 min = 11:30 > 10:00) so its state is dropped
    input.addData((Timestamp.valueOf("2024-03-01 12:00:00"), 9L, "mover"))
    q.processAllAvailable()
    // batch 3: the same content again, beyond the horizon — digest state
    // has been evicted, so it is re-admitted (lambda-split contract)
    input.addData((Timestamp.valueOf("2024-03-01 14:00:00"), 4L, "same text"))
    q.processAllAvailable()
    input.addData((Timestamp.valueOf("2024-03-01 18:00:00"), 5L, "flush"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // doc 2 (in-horizon dup) suppressed; doc 4 (cross-horizon) re-admitted
    assert(got.contains(1L) && got.contains(3L) && got.contains(4L), s"got $got")
    assert(!got.contains(2L), s"got $got")
  }

  test("watermark drops events later than the threshold in append mode") {
    import spark.implicits._
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamingIngest.windowedCounts(
      input.toDF().toDF("ts", "event_type", "value"),
      watermark = "10 minutes", window_ = "1 hour")
    val q = agg.writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    // batch 1: events up to 12:00 -> watermark advances to 11:50
    input.addData(
      (Timestamp.valueOf("2024-03-01 10:10:00"), "a", 1.0),
      (Timestamp.valueOf("2024-03-01 12:00:00"), "a", 1.0))
    q.processAllAvailable()
    // batch 2: a late event at 10:20 (before the 11:50 watermark) is
    // dropped; an on-time event keeps the stream moving, then push the
    // watermark far ahead to close all windows
    input.addData((Timestamp.valueOf("2024-03-01 10:20:00"), "a", 99.0))
    q.processAllAvailable()
    input.addData((Timestamp.valueOf("2024-03-01 15:00:00"), "a", 1.0))
    q.processAllAvailable()
    input.addData((Timestamp.valueOf("2024-03-01 18:00:00"), "a", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wm_out")
      .select("window_start_epoch", "n_events", "sum_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val h10 = Timestamp.valueOf("2024-03-01 10:00:00").getTime / 1000
    // the 10:00 window closed with ONLY the on-time event; 99.0 never landed
    assert(rows.contains((h10, 1L, 1.0)), s"got $rows")
    assert(!rows.exists(_._3 == 100.0))
  }

  test("streaming windowed HLL: closed-window registers equal the batch " +
      "sketch and small-n linear counting is accurate") {
    import java.sql.Timestamp
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(Timestamp, Long)]
    val out = graft.streaming.StreamingDistinct.windowedDistinct(
      input.toDF().toDF("ts", "user_id"), watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("hll_out")
      .outputMode("append").start()
    // window 10:00-11:00: users 0..199, each seen twice across batches
    val users = (0L until 200L)
    input.addData(users.map(u =>
      (Timestamp.valueOf("2024-03-01 10:05:00"), u)))
    q.processAllAvailable()
    input.addData(users.map(u =>
      (Timestamp.valueOf("2024-03-01 10:40:00"), u)))
    q.processAllAvailable()
    // advance the watermark so the first window closes
    input.addData(Seq((Timestamp.valueOf("2024-03-01 12:00:00"), 1L)))
    q.processAllAvailable()
    q.stop()
    val w10 = Timestamp.valueOf("2024-03-01 10:00:00").getTime / 1000
    val row = spark.table("hll_out")
      .filter(col("window_start_epoch") === w10).collect()
    assert(row.length == 1, "first window should have closed exactly once")
    // streaming registers == batch sketch of the same users (merge path
    // across two batches must be lossless)
    val batchRegs = users.toDF("x")
      .agg(graft.functions.Hll.hll_registers(
        expr(graft.functions.DetMix.mixSql("x", 13)), 9))
      .collect()(0).getSeq[Byte](0)
    assert(row(0).getSeq[Byte](1) == batchRegs)
    // n=200 << m=512: linear counting over zero_regs lands within 10%
    val zeros = row(0).getLong(3)
    val lc = 512.0 * math.log(512.0 / zeros)
    assert(math.abs(lc - 200.0) < 20.0, s"lc=$lc zeros=$zeros")
  }

  test("streaming trending tokens: per-window MG summary emits on " +
      "window close with exact counts below k") {
    import java.sql.Timestamp
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(Timestamp, String)]
    val out = graft.streaming.StreamingTrending.trendingTokens(
      input.toDF().toDF("ts", "text"),
      watermark = "10 minutes", window_ = "1 hour", k = 8)
    val q = out.writeStream.format("memory").queryName("trend_out")
      .outputMode("append").start()
    // window 10:00-11:00: "spark" x3, "etl" x2, "noise" x1
    input.addData(
      (Timestamp.valueOf("2024-03-01 10:05:00"), "spark etl spark"),
      (Timestamp.valueOf("2024-03-01 10:40:00"), "spark etl noise"))
    q.processAllAvailable()
    // advance the watermark past 11:10 so the first window closes
    input.addData(
      (Timestamp.valueOf("2024-03-01 12:00:00"), "later window"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("trend_out").collect()
      .map(r => r.getLong(0) -> r.getMap[String, Long](1)).toMap
    val w = Timestamp.valueOf("2024-03-01 10:00:00").getTime / 1000
    assert(rows.contains(w), s"first window not emitted: ${rows.keySet}")
    // distinct tokens < k -> MG counts are exact
    assert(rows(w) == Map("spark" -> 3L, "etl" -> 2L, "noise" -> 1L))
  }

  test("windowed streaming aggregation over a file stream matches the batch twin") {
    val root = TestFixtures.tempRoot("stream-window")
    // stream the events table (Tables converts ns->us so the streaming
    // parquet reader accepts the rewritten copy)
    val src = Tables(spark, sf0001, "events")
    val eventsDir = root.resolve("events").toString
    src.write.parquet(eventsDir)
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val agg = StreamingIngest.windowedCounts(stream)
    val query = agg.writeStream
      .format("memory").queryName("win_out").outputMode("complete")
      .start()
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("win_out")
    val batch = graft.queries.Relational.q17TumblingWindow(spark, sf0001)
    assert(streamed.count() == batch.count())
    val s = streamed.orderBy("window_start_epoch", "event_type").collect()
    val b = batch.collect()
    assert(s.sameElements(b))
  }

  test("stream-stream interval join matches in-horizon pairs only") {
    import spark.implicits._
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val imps = MemoryStream[(Timestamp, Long, Long)]
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val joined = StreamingJoin.intervalJoin(
      imps.toDF().toDF("its", "user_id", "imp_id"),
      clicks.toDF().toDF("cts", "user_id", "click_id"),
      keys = Seq("user_id"), leftTs = "its", rightTs = "cts",
      horizon = "30 minutes", watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    imps.addData(
      (Timestamp.valueOf("2024-03-01 10:00:00"), 1L, 100L),
      (Timestamp.valueOf("2024-03-01 10:00:00"), 2L, 200L),
      (Timestamp.valueOf("2024-03-01 10:00:00"), 3L, 300L))
    clicks.addData(
      // user 1: click 10 min later — inside the horizon
      (Timestamp.valueOf("2024-03-01 10:10:00"), 1L, 1100L),
      // user 2: click 2 h later — outside the horizon
      (Timestamp.valueOf("2024-03-01 12:00:00"), 2L, 2200L),
      // user 3: never clicks
      (Timestamp.valueOf("2024-03-01 12:00:00"), 99L, 9900L))
    q.processAllAvailable()
    // push both watermarks forward so all join state can close
    imps.addData((Timestamp.valueOf("2024-03-01 18:00:00"), 50L, 500L))
    clicks.addData((Timestamp.valueOf("2024-03-01 18:00:00"), 50L, 5500L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj_out").select("imp_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((100L, 1100L)), s"got $got")
    assert(!got.exists(_._1 == 200L), s"late click must not match: $got")
    assert(!got.exists(_._1 == 300L), s"no-click imp must not match: $got")
  }

  test("stream-stream left-outer interval join emits unmatched rows " +
      "after the watermark closes their window") {
    import spark.implicits._
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val imps = MemoryStream[(Timestamp, Long, Long)]
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val joined = StreamingJoin.intervalJoin(
      imps.toDF().toDF("its", "user_id", "imp_id"),
      clicks.toDF().toDF("cts", "user_id", "click_id"),
      keys = Seq("user_id"), leftTs = "its", rightTs = "cts",
      horizon = "30 minutes", watermark = "10 minutes",
      joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append").start()
    imps.addData(
      (Timestamp.valueOf("2024-03-01 10:00:00"), 1L, 100L),
      (Timestamp.valueOf("2024-03-01 10:00:00"), 3L, 300L))
    clicks.addData((Timestamp.valueOf("2024-03-01 10:10:00"), 1L, 1100L))
    q.processAllAvailable()
    imps.addData((Timestamp.valueOf("2024-03-01 18:00:00"), 50L, 500L))
    clicks.addData((Timestamp.valueOf("2024-03-01 18:00:00"), 50L, 5500L))
    q.processAllAvailable()
    // one more advance: outer results emit only after state fully closes
    imps.addData((Timestamp.valueOf("2024-03-01 23:00:00"), 51L, 510L))
    clicks.addData((Timestamp.valueOf("2024-03-01 23:00:00"), 51L, 5100L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj_outer")
      .select(col("imp_id"), col("click_id"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(got.contains((100L, Some(1100L))), s"got $got")
    assert(got.contains((300L, None)),
      s"unmatched imp should surface with null click: $got")
  }

  test("intervalJoin rejects streams sharing non-key columns") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val a = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val b = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val e = intercept[IllegalArgumentException] {
      StreamingJoin.intervalJoin(
        a.toDF().toDF("ts", "user_id", "v"),
        b.toDF().toDF("cts", "user_id", "v"), // "v" collides
        keys = Seq("user_id"), leftTs = "ts", rightTs = "cts",
        horizon = "1 hour", watermark = "10 minutes")
    }
    assert(e.getMessage.contains("only the key columns"))
  }
}
