package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench self-defense verdict rule (pure function, no Spark):
  * contamination = double-digit mid/post steal OR a passing canary
  * median above 2x its committed sf0.1/cpus=32 quiet band — and the
  * band rule must NOT fire on off-profile runs, where the committed
  * medians are meaningless. */
class BenchWeatherSpec extends AnyFunSuite {

  private def row(name: String, median: Double, ok: Boolean = true) =
    Bench.QRow(name, median, median, median, ok, 0.5)

  private val quietRows = Seq(
    row("q115_srp_codes", 0.143),
    row("q23_ngram_jaccard", 1.618),
    row("q71_media_content_stats", 0.286),
    row("q01_pricing_summary", 0.5))

  test("quiet run: no reasons") {
    assert(Bench.contaminationOf(0.2, quietRows, Seq(0.1, 0.2), 0.3,
      bandsApply = true).isEmpty)
  }

  test("double-digit mid steal flags, with the probe index named") {
    val rs = Bench.contaminationOf(4.1, quietRows, Seq(18.0, 10.4), 5.3,
      bandsApply = true)
    assert(rs.size == 2)
    assert(rs.head.contains("steal_pct_mid[0]=18.0"))
    assert(rs(1).contains("steal_pct_mid[1]=10.4"))
  }

  test("double-digit post steal flags") {
    val rs = Bench.contaminationOf(0.3, quietRows, Seq(0.1, 0.1), 11.0,
      bandsApply = true)
    assert(rs.size == 1 && rs.head.contains("steal_pct_post"))
  }

  test("canary above 2x band flags (the r14 driver run: q23 at 3.386 " +
      "vs 1.618 quiet)") {
    val rows = quietRows.map {
      case r if r.name == "q23_ngram_jaccard" => row("q23_ngram_jaccard", 3.386)
      case r => r
    }
    val rs = Bench.contaminationOf(0.5, rows, Seq(1.0, 1.0), 1.0,
      bandsApply = true)
    assert(rs.size == 1 && rs.head.contains("q23_ngram_jaccard"))
  }

  test("canary at exactly 2x its band does NOT flag (strict >)") {
    val rows = quietRows.map {
      case r if r.name == "q23_ngram_jaccard" => row("q23_ngram_jaccard", 2 * 1.618)
      case r => r
    }
    assert(Bench.contaminationOf(0.5, rows, Seq(1.0), 1.0,
      bandsApply = true).isEmpty)
  }

  test("off-profile run (bandsApply=false) ignores canary bands but " +
      "still adjudicates steal") {
    val rows = quietRows.map {
      case r if r.name == "q23_ngram_jaccard" => row("q23_ngram_jaccard", 99.0)
      case r => r
    }
    assert(Bench.contaminationOf(0.5, rows, Seq(1.0), 1.0,
      bandsApply = false).isEmpty)
    val rs = Bench.contaminationOf(0.5, rows, Seq(12.0), 1.0,
      bandsApply = false)
    assert(rs.size == 1 && rs.head.contains("steal_pct_mid[0]"))
  }

  test("a FAILED canary never drives the verdict (its time-to-crash is " +
      "not a median)") {
    val rows = quietRows.map {
      case r if r.name == "q23_ngram_jaccard" =>
        row("q23_ngram_jaccard", 99.0, ok = false)
      case r => r
    }
    assert(Bench.contaminationOf(0.5, rows, Seq(1.0), 1.0,
      bandsApply = true).isEmpty)
  }

  test("double-digit PRE steal flags too (a retry launched into a " +
      "still-noisy window whose wave dies before the 1/3 probe)") {
    val rs = Bench.contaminationOf(40.0, quietRows, Seq(1.2, 0.8), 0.9,
      bandsApply = false)
    assert(rs.size == 1 && rs.head.contains("steal_pct_pre=40.0"))
  }

  test("rolling probes: a wave confined to ONE mid-stretch window " +
      "flips the verdict (the r15 false-negative: q140-q157 inflated " +
      "1.5-36x between the old sparse 1/3-2/3 probes, canaries " +
      "untouched)") {
    // 10 rolling windows, quiet everywhere except window 6 — with the
    // sparse sampling this run verdicted quiet; with every window in
    // the rule it must flag, naming the window so a reader can
    // localize the wave
    val mids = Seq(0.4, 0.3, 0.5, 0.2, 0.4, 0.3, 24.7, 0.5, 0.3, 0.2)
    val rs = Bench.contaminationOf(0.3, quietRows, mids, 0.4,
      bandsApply = true)
    assert(rs.size == 1 && rs.head.contains("steal_pct_mid[6]=24.7"))
  }

  test("matching pattern: contamination rule sees EVERY rolling " +
      "window, not a sample (all-quiet 10-window run stays quiet)") {
    val mids = Seq.fill(10)(0.4)
    assert(Bench.contaminationOf(0.3, quietRows, mids, 0.4,
      bandsApply = true).isEmpty)
  }

  private def pass(index: Int, medians: Seq[(String, Double, Boolean)],
      reasons: Seq[String] = Seq("steal_pct_post=12.0 (double-digit)")) =
    Bench.Pass(index, medians.map { case (n, m, ok) => row(n, m, ok) },
      0.0, Seq.empty, 0.0, reasons)

  // three contaminated passes where a pairwise "common ok queries"
  // reduction is non-transitive: p1 beats p2 on their shared set, p2
  // beats p3, p3 beats p1 — only a set intersected across all passes
  // gives one answer
  private val p1 = pass(1, Seq(("a", 1.0, true), ("b", 5.0, true),
    ("c", 9.0, false)))
  private val p2 = pass(2, Seq(("a", 3.0, true), ("b", 1.0, false),
    ("c", 1.0, true)))
  private val p3 = pass(3, Seq(("a", 2.0, false), ("b", 2.0, true),
    ("c", 2.0, true)))

  test("pass choice is the same under every permutation of the passes") {
    val picks = Seq(p1, p2, p3).permutations
      .map(ps => Bench.choosePass(ps).index).toSet
    assert(picks.size == 1)
  }

  test("pass choice: most ok queries first, then the lowest total on " +
      "the ok set shared by ALL passes") {
    val full = pass(4, Seq(("a", 9.0, true), ("b", 9.0, true),
      ("c", 9.0, true)))
    assert(Bench.choosePass(Seq(p1, p2, full)).index == 4)
    // p1/p2/p3 tie at two ok queries; no query is ok in all three, so
    // the shared totals tie at 0 and the earliest pass wins
    assert(Bench.choosePass(Seq(p3, p2, p1)).index == 1)
    val twoOk = Seq(
      pass(1, Seq(("a", 3.0, true), ("b", 1.0, true), ("c", 1.0, false))),
      pass(2, Seq(("a", 2.0, true), ("b", 5.0, true), ("c", 1.0, false))))
    // shared ok set {a, b}: pass 1 totals 4.0, pass 2 totals 7.0
    assert(Bench.choosePass(twoOk.reverse).index == 1)
  }

  test("a quiet pass wins over any contaminated one") {
    val quiet = pass(3, Seq(("a", 50.0, true), ("b", 50.0, true),
      ("c", 50.0, true)), reasons = Seq.empty)
    val fast = pass(1, Seq(("a", 1.0, true), ("b", 1.0, true),
      ("c", 1.0, true)))
    assert(Bench.choosePass(Seq(fast, quiet)).index == 3)
  }

  test("weather reasons keep every contaminated pass, tagged by index") {
    val quiet = pass(3, Seq(("a", 1.0, true)), reasons = Seq.empty)
    val p2b = pass(2, Seq(("a", 1.0, true)),
      reasons = Seq("q23_ngram_jaccard=3.386 > 2x quiet band 1.618"))
    assert(Bench.weatherReasons(Seq(p1, p2b, quiet)) == Seq(
      "pass 1: steal_pct_post=12.0 (double-digit)",
      "pass 2: q23_ngram_jaccard=3.386 > 2x quiet band 1.618"))
    assert(Bench.weatherReasons(Seq(quiet)).isEmpty)
  }

  test("numeric env settings fall back to the default when malformed") {
    val env = Map("RUNS" -> "3x", "WAIT" -> " 90 ", "EMPTY" -> "")
    assert(GraftSession.envNum(env, "RUNS", 3L) == 3L)
    assert(GraftSession.envNum(env, "WAIT", 600L) == 90L)
    assert(GraftSession.envNum(env, "EMPTY", 2L) == 2L)
    assert(GraftSession.envNum(env, "UNSET", 7L) == 7L)
  }
}
