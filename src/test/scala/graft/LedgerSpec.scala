package graft

import java.sql.Timestamp

import graft.ops.Ledger
import graft.ops.Ledger.{EtlTypeCsv, EtlTypeMetadata}

class LedgerSpec extends SparkSpecBase {
  import spark.implicits._

  /** `at` plus `micros` microseconds. */
  private def ts(at: String, micros: Int = 0): Timestamp = {
    val t = Timestamp.valueOf(at)
    t.setNanos(t.getNanos + micros * 1000)
    t
  }

  private val started = ts("2024-03-01 09:00:00")

  private def entry(id: String, etlType: String, finished: Timestamp,
      status: String): Ledger.Entry =
    Ledger.Entry(id, etlType, started, finished,
      if (status == "success") 1L else 0L, status,
      if (status == "success") None else Some("failed here"))

  // every shape of key history a run can leave, over two appends
  private val first = Seq(
    // a retry: failed, then a later success
    entry("a", EtlTypeCsv, ts("2024-03-01 10:00:00"), "failed"),
    // a success, then a later failure
    entry("b", EtlTypeCsv, ts("2024-03-01 10:00:00"), "success"),
    // duplicate files of one batch share finished_at: the success wins
    // the tie whichever row comes first
    entry("c", EtlTypeMetadata, ts("2024-03-01 10:30:00"), "failed"),
    entry("c", EtlTypeMetadata, ts("2024-03-01 10:30:00"), "success"),
    entry("d", EtlTypeMetadata, ts("2024-03-01 10:30:00"), "success"),
    entry("d", EtlTypeMetadata, ts("2024-03-01 10:30:00"), "failed"),
    // one millisecond, microseconds apart: only the full timestamp
    // orders them
    entry("e", EtlTypeCsv, ts("2024-03-01 13:00:00", micros = 1), "failed"),
    entry("f", EtlTypeCsv, ts("2024-03-01 13:00:00", micros = 1), "success"))
  private val second = Seq(
    entry("a", EtlTypeCsv, ts("2024-03-01 11:00:00"), "success"),
    entry("b", EtlTypeCsv, ts("2024-03-01 12:00:00"), "failed"),
    entry("e", EtlTypeCsv, ts("2024-03-01 13:00:00"), "success"),
    entry("f", EtlTypeCsv, ts("2024-03-01 13:00:00"), "failed"),
    // the same id under the other etl_type is a key of its own
    entry("a", EtlTypeMetadata, ts("2024-03-01 09:30:00"), "success"))

  test("the driver fold picks latestState's row for every key") {
    val root = TestFixtures.tempRoot("ledger-fold")
    val ledger = root.resolve("etl_run_log").toString
    Ledger.append(spark, ledger, first)
    Ledger.append(spark, ledger, second)
    assert(ts("2024-03-01 13:00:00", 1).getTime ==
      ts("2024-03-01 13:00:00").getTime)
    // each row its own etl_id; durations in whole seconds
    val written = Ledger.read(spark, ledger)
      .select("etl_id", "simulation_id", "etl_type", "duration_seconds")
      .as[(String, String, String, Double)].collect()
    assert(written.map(_._1).distinct.length == first.size + second.size)
    assert(written.collect { case (_, "a", EtlTypeCsv, d) => d }.sorted
      .toSeq == Seq(3600.0, 7200.0))

    val reference = Ledger.latestState(Ledger.read(spark, ledger))
      .select("simulation_id", "etl_type", "finished_at", "status")
      .as[(String, String, Timestamp, String)].collect()
      .map { case (id, t, at, st) => (id, t) -> (at, st) }.toMap
    val state = Ledger.readState(spark, Some(ledger),
      root.resolve("dim_rxn").toString)
    val folded = state.latest.map { case (k, o) => k -> (o.finished_at, o.status) }
    // full Timestamp equality: nanos included
    assert(folded == reference)
    assert(folded.view.mapValues(_._2).toMap == Map(
      ("a", EtlTypeCsv) -> "success", ("b", EtlTypeCsv) -> "failed",
      ("c", EtlTypeMetadata) -> "success",
      ("d", EtlTypeMetadata) -> "success",
      ("e", EtlTypeCsv) -> "failed", ("f", EtlTypeCsv) -> "success",
      ("a", EtlTypeMetadata) -> "success"))
    assert(state.succeeded(EtlTypeCsv) == Set("a", "f"))
    assert(state.succeeded(EtlTypeMetadata) == Set("a", "c", "d"))
    assert(state.dimNums.isEmpty && state.highWaterMark == 0L)

    // the fold does not depend on the order rows arrive in
    val outcomes = (first ++ second).map(e =>
      Ledger.Outcome(e.simulation_id, e.etl_type, e.finished_at, e.status))
    assert(Ledger.latestOf(outcomes.reverse) == Ledger.latestOf(outcomes))
    assert(Ledger.latestOf(outcomes).view.mapValues(o =>
      (o.finished_at, o.status)).toMap == reference)
  }

  test("the state read is one job over ledger and dim, none over neither") {
    val root = TestFixtures.tempRoot("ledger-state")
    val ledger = root.resolve("etl_run_log").toString
    val dim = root.resolve("dim_rxn").toString
    var state = Ledger.RunState.Empty
    assert(countJobs {
      state = Ledger.readState(spark, Some(ledger), dim)
    } == 0)
    assert(state == Ledger.RunState.Empty)
    Ledger.append(spark, ledger, first)
    Seq(("s1", 3), ("s2", 7)).toDF("simulation_id", "simulation_num")
      .write.parquet(dim)
    assert(countJobs {
      state = Ledger.readState(spark, Some(ledger), dim)
    } == 1)
    assert(state.dimNums == Map("s1" -> 3, "s2" -> 7))
    assert(state.highWaterMark == 7L)
    assert(state.succeeded(EtlTypeCsv) == Set("b", "f"))
    // without the ledger: the dim's keys alone
    val dimOnly = Ledger.readState(spark, None, dim)
    assert(dimOnly.latest.isEmpty && dimOnly.dimNums == state.dimNums)
  }
}
