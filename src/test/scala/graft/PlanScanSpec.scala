package graft

import org.apache.spark.sql.catalyst.plans.logical.Window

/** Full-surface plan scan: every registered query's plan is checked for
  * the scale anti-patterns — SortAggregate (a HashAggregate demotion:
  * a per-partition sort of the input), global windows (a Window with an
  * empty partition spec: all rows to ONE reducer) and cartesian or
  * nested-loop joins. Plan-only at sf0.001 (queries with eager steps,
  * such as checkpointed fixpoints, still run those). Known deliberate
  * sites are listed with their adjudication, so a finding anywhere else
  * fails the suite instead of waiting for a manual sweep. */
class PlanScanSpec extends SparkSpecBase {

  /** Deliberate SortAggregate sites (NOTES "SortAggregate purge"):
    * string-typed aggregation passes where a packed-decimal key cannot
    * apply. */
  private val KnownSortAgg = Set(
    "q87_profile", "q111_profile_drift", "q96_cdc_apply")

  /** Deliberate global-window sites — both run over frames whose
    * cardinality is bounded by construction, never by the corpus: q06
    * numbers a DIMENSION under an explicit fact-size guard (SURVEY
    * H4/J3); q59's cumulative runs over the per-SOURCE aggregate (a
    * handful of rows, documented at the site). */
  private val KnownGlobalWin = Set(
    "q06_dim_numbering", "q59_temperature_mixture")

  /** Deliberate cartesian/nested-loop join sites. Every entry is a
    * BroadcastNestedLoopJoin whose build side is bounded by
    * construction, never by the corpus: 1-row aggregates (q04's
    * high-water max, q15's scalar-subquery avg, q87/q111's profile
    * stats, q117's sketch row, q205's frozen high-water scalar), k-row
    * constants (q45's 4-row interval dimension, q118's mixture
    * weights), or the priced recall ground truth (q183, the q199
    * convention). q199's priced exact side and q204's 1-row card chain
    * plan a nested loop only on some runs (the physical join pick
    * depends on the memoized checkpoint's size estimate), so they are
    * listed regardless. The other 1-row crossJoin chains
    * (q81/q174/q178/q184/q191) optimize to single-partition joins. */
  private val KnownCrossJoin = Set(
    "q04_highwater", "q15_subquery_avg", "q45_range_join",
    "q87_profile", "q111_profile_drift", "q117_cms_frequency",
    "q118_mixture_schedule", "q183_ivf_recall",
    "q199_semantic_recall", "q204_delivery_card",
    "q205_append_packing")

  test("every known deliberate site names a registered query") {
    val stale = (KnownSortAgg ++ KnownGlobalWin ++ KnownCrossJoin)
      .filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }

  test("no unexpected SortAggregate, global window or cross join in any " +
      "registered query's plan (sf0.001)") {
    val findings = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (n, fn) =>
        try {
          val qe = fn(spark, sf0001).queryExecution
          val planStr = qe.executedPlan.toString
          // the global-window check reads the optimized LOGICAL plan:
          // no AQE wrapper hides the partition spec there
          val globalWin = qe.optimizedPlan.collectFirst {
            case w: Window if w.partitionSpec.isEmpty => w
          }.nonEmpty
          val cross = planStr.contains("CartesianProduct") ||
            planStr.contains("BroadcastNestedLoopJoin")
          Seq(
            (planStr.contains("SortAggregate") && !KnownSortAgg(n),
              s"SORTAGG $n"),
            (globalWin && !KnownGlobalWin(n), s"GLOBALWIN $n"),
            (cross && !KnownCrossJoin(n), s"CROSSJOIN $n")
          ).collect { case (true, f) => f }
        } catch {
          case e: Throwable => Seq(s"ERR $n: ${e.toString.take(160)}")
        }
    }
    assert(findings.isEmpty, findings.mkString("\n", "\n", ""))
  }
}
