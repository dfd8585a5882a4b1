package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.Expect

/** Gates for the expectation suite and write-audit-publish
  * (ops/Expect.scala): one-pass report semantics incl. null handling,
  * the shuffle-backed helpers, red-audit isolation (live table
  * untouched), and green-audit atomic swap. */
class ExpectSpec extends SparkSpecBase {

  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-wap").toString

  test("report: one row per expectation, nulls count as range violations") {
    val df = Seq(
      (Some(5.0), Some("a")),
      (None, Some("b")),       // null value: range violation, null hit
      (Some(99.0), None)       // out of range; null name
    ).toDF("v", "name")
    val got = Expect.report(df, Seq(
        Expect.notNull("name_not_null", "name"),
        Expect.inRange("v_0_10", "v", 0, 10)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toList
    assert(got == List(
      ("name_not_null", 3L, 1L, 0),
      ("v_0_10", 3L, 2L, 0)))
  }

  test("an empty input is vacuously green: zero violations, not null") {
    val empty = Seq.empty[(Double, String)].toDF("v", "name")
    val got = Expect.report(empty, Seq(
        Expect.inRange("v_0_10", "v", 0, 10)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toList
    assert(got == List(("v_0_10", 0L, 0L, 1)))
    // and the WAP path publishes an empty (but audited) generation
    val live = tmp() + "/t"
    val r = Expect.writeAuditPublish(spark, empty, live,
      Seq(Expect.inRange("v_0_10", "v", 0, 10)))
    assert(r.published && r.report == Seq(("v_0_10", 0L, 0L, 1)))
  }

  test("non-identifier or duplicate expectation names are rejected up front") {
    val df = Seq((1.0, "x")).toDF("v", "name")
    for (bad <- Seq("ship date", "1st", "a-b", "it's", "_n"))
      intercept[IllegalArgumentException] {
        Expect.report(df, Seq(Expect.notNull(bad, "name")))
      }
    intercept[IllegalArgumentException] {
      Expect.report(df, Seq(Expect.notNull("dup", "name"),
        Expect.inRange("dup", "v", 0, 1)))
    }
  }

  test("report runs as ONE aggregation job regardless of expectation count") {
    val df = Seq((1.0, "x")).toDF("v", "name")
    val plan = Expect.report(df, Seq(
        Expect.notNull("a", "name"), Expect.inRange("b", "v", 0, 1),
        Expect.matches("c", "name", "^x")))
      .queryExecution.executedPlan.toString
    // a per-expectation re-scan would show several aggregates
    assert(plan.sliding("HashAggregate".length)
      .count(_ == "HashAggregate") <= 4, // partial+final, one pair + sort side
      s"expected a single aggregation pass, got:\n$plan")
  }

  test("uniqueness and referential helpers count violating ROWS") {
    val df = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (3L, "e"),
      (3L, "f")).toDF("k", "v")
    assert(Expect.uniquenessViolations(df, Seq("k")) == 5L) // 2 + 3 rows
    val dim = Seq(1L, 2L).toDF("id")
    assert(Expect.referentialViolations(df, "k", dim, "id") == 3L)
  }

  test("write-audit-publish: red audit leaves live untouched, green swaps atomically") {
    val live = tmp() + "/table"
    val good = Seq((1L, 5.0), (2L, 7.0)).toDF("k", "v")
    val r1 = Expect.writeAuditPublish(spark, good, live,
      Seq(Expect.inRange("v_0_10", "v", 0, 10)))
    assert(r1.published && spark.read.parquet(live).count() == 2)

    val bad = Seq((3L, 99.0)).toDF("k", "v")
    val r2 = Expect.writeAuditPublish(spark, bad, live,
      Seq(Expect.inRange("v_0_10", "v", 0, 10)))
    assert(!r2.published)
    assert(r2.report == Seq(("v_0_10", 1L, 1L, 0)))
    // live still serves the GOOD data; staging kept for inspection
    assert(spark.read.parquet(live).count() == 2)
    assert(new java.io.File(live + ".staging").exists())

    val better = Seq((4L, 1.0), (5L, 2.0), (6L, 3.0)).toDF("k", "v")
    val r3 = Expect.writeAuditPublish(spark, better, live,
      Seq(Expect.inRange("v_0_10", "v", 0, 10)))
    assert(r3.published && spark.read.parquet(live).count() == 3)
    // previous live generation retained as .previous-1
    assert(spark.read.parquet(live + ".previous-1").count() == 2)
  }

  test("write-audit-publish prunes generations beyond the retention " +
      "knob; rollback restores the newest retired one") {
    val live = tmp() + "/table"
    val exp = Seq(Expect.inRange("v_0_10", "v", 0, 10))
    def pub(vals: Double*) =
      Expect.writeAuditPublish(spark, vals.toSeq.toDF("v"), live, exp,
        retainGenerations = 2)
    pub(1.0)           // gen: live=1
    pub(2.0)           // previous-1 = [1]
    pub(3.0)           // previous-1..2
    pub(4.0)           // previous-2..3, previous-1 pruned
    val gens = Expect.previousGenerations(spark, live)
    assert(gens.map(_._1) == Seq(3, 2), s"got $gens")
    assert(!new java.io.File(live + ".previous-1").exists())
    assert(spark.read.parquet(live + ".previous-3").head().getDouble(0) == 3.0)
    // rollback to N-1 (the 3.0 generation) still works after pruning
    assert(Expect.rollback(spark, live))
    assert(spark.read.parquet(live).head().getDouble(0) == 3.0)
    // the displaced live (4.0) was retired, so rollback is reversible
    assert(Expect.rollback(spark, live))
    assert(spark.read.parquet(live).head().getDouble(0) == 4.0)
    // nothing to roll back to on a fresh table
    assert(!Expect.rollback(spark, tmp() + "/empty"))
  }

  test("versioned WAP: a reader between every pair of publish steps " +
      "always sees a complete generation (no crash window)") {
    val table = tmp() + "/vtable"
    val exp = Seq(Expect.inRange("v_0_10", "v", 0, 10))
    def liveVals(): Option[Set[Double]] =
      Expect.readLive(spark, table)
        .map(_.collect().map(_.getDouble(0)).toSet)

    // first publish end-to-end
    val r1 = Expect.writeAuditPublishVersioned(spark,
      Seq(1.0, 2.0).toDF("v"), table, exp)
    assert(r1.published && liveVals().contains(Set(1.0, 2.0)))

    // second publish, executed step by step; after EVERY step a reader
    // must see a complete generation (old until the flip, new after) —
    // stopping anywhere simulates a writer killed at that point
    val next = 2
    Expect.stageGeneration(spark, Seq(3.0, 4.0).toDF("v"), table, next)
    assert(liveVals().contains(Set(1.0, 2.0))) // crash after stage
    Expect.commitGeneration(spark, table, next)
    assert(liveVals().contains(Set(1.0, 2.0))) // crash after commit
    Expect.flipPointer(spark, table, next)
    assert(liveVals().contains(Set(3.0, 4.0))) // crash after flip
    Expect.pruneGenerations(spark, table, retain = 2)
    assert(liveVals().contains(Set(3.0, 4.0)))

    // a red audit flips nothing and retires nothing
    val r2 = Expect.writeAuditPublishVersioned(spark,
      Seq(99.0).toDF("v"), table, exp)
    assert(!r2.published && liveVals().contains(Set(3.0, 4.0)))

    // retention prunes old generations but never the pointed one;
    // rollback flips within the retained window and is itself atomic
    (5 to 7).foreach { v =>
      assert(Expect.writeAuditPublishVersioned(spark,
        Seq(v.toDouble).toDF("v"), table, exp, retainGenerations = 2)
        .published)
    }
    val gens = Expect.generationsOf(spark, table).map(_._1)
    assert(gens.length == 3, s"got $gens") // pointed + 2 retained
    assert(Expect.rollbackVersioned(spark, table))
    assert(liveVals().contains(Set(6.0)))
    assert(Expect.rollbackVersioned(spark, table))
    assert(liveVals().contains(Set(5.0)))
    assert(!Expect.rollbackVersioned(spark, table)) // window exhausted
    // fresh table: nothing live, nothing to roll back
    assert(Expect.readLive(spark, tmp() + "/none").isEmpty)
    assert(!Expect.rollbackVersioned(spark, tmp() + "/none"))
  }

  test("streaming gate routes whole batches: green to live, red to quarantine with report") {
    import graft.streaming.StreamingExpect
    val base = tmp()
    val (live, quar) = (s"$base/live", s"$base/quarantine")
    val exp = Seq(Expect.inRange("v_0_10", "v", 0, 10))
    def b(rows: (Long, Double)*) = rows.toDF("k", "v")
    StreamingExpect.processBatch(b(1L -> 1.0, 2L -> 2.0), 0L, exp, live, quar)
    StreamingExpect.processBatch(b(3L -> 99.0, 4L -> 3.0), 1L, exp, live, quar)
    StreamingExpect.processBatch(b(5L -> 5.0), 2L, exp, live, quar)
    assert(spark.read.parquet(live).select("k").as[Long].collect().toSet ==
      Set(1L, 2L, 5L), "red batch must not dilute live — even its passing rows")
    assert(spark.read.parquet(quar).select("k").as[Long].collect().toSet ==
      Set(3L, 4L))
    val rep = spark.read.parquet(quar + "_reports")
      .select("expectation", "n_violations", "batch_id").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getAs[Number](2).longValue)).toSet // partition col infers as int
    assert(rep == Set(("v_0_10", 1L, 1L)))
    // replay of a red batch is idempotent (partition replaced, not doubled)
    StreamingExpect.processBatch(b(3L -> 99.0, 4L -> 3.0), 1L, exp, live, quar)
    assert(spark.read.parquet(quar).count() == 2)
    // an EMPTIED replay of batch 1 clears its partitions instead of
    // keeping the earlier attempt's rows
    StreamingExpect.processBatch(b(), 1L, exp, live, quar)
    def batch1Rows(dir: String): Long = {
      val part = java.nio.file.Paths.get(dir, "batch_id=1")
      if (Files.exists(part)) spark.read.parquet(part.toString).count()
      else 0L
    }
    assert(Seq(live, quar, quar + "_reports").map(batch1Rows) ==
      Seq(0L, 0L, 0L))
  }
}
