package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line with per-query wall times at
  * SPARK_GRAFT_SF_DIR. A short warmup (flagship query) runs first so JVM
  * JIT + session initialization don't land in the first measured query;
  * queries run in name order for stable output.
  *
  * Each query runs SPARK_GRAFT_BENCH_RUNS times (default 3) and the
  * reported per-query time is the MEDIAN, with min/max spread emitted in
  * a parallel "spread" map. A single-run harness cannot distinguish an
  * engine regression from transient machine load (a pure codegen'd
  * narrow map once recorded 3.4 s and 77.6 s from byte-identical code);
  * the median of three is robust to one loaded run while keeping total
  * bench wall-clock bounded.
  *
  * Each query is materialized through the `noop` sink, not `count()`:
  * under a count Catalyst prunes every column and drops sorts, so
  * per-row transform queries would benchmark little more than a scan.
  * The noop write evaluates the full plan the oracle checks and discards
  * rows at the sink.
  *
  * The artifact self-adjudicates machine weather and self-DEFENDS.
  * Hypervisor steal is measured (tools.StealProbe — spin all cores,
  * read the /proc/stat steal delta) before, after, and on a ROLLING
  * basis before every ~20-query window (a wave confined between sparse
  * probes is invisible otherwise), and the three canary medians (q115
  * pure-codegen floor, q23 shuffle-bound, q71 decode-bound — queries
  * kept unchanged so their bands stay valid) ride along in the JSON.
  * Every per-query entry in the detail
  * artifact carries the steal stamp of its window. The verdict rule:
  * a run is CONTAMINATED when any mid/post steal probe is double-digit
  * or a canary median exceeds 2x its committed quiet band
  * ([[QuietBands]], from the steal-flat BENCH_DETAIL_r14_d.json run).
  * A contaminated pass waits for a quiet window (steal < 5%, bounded
  * polling) and re-measures the whole pass, up to
  * SPARK_GRAFT_BENCH_RETRIES times; [[choosePass]] picks the reported
  * pass, and the JSON carries an explicit "weather_verdict"
  * ("quiet"/"contaminated") plus "retried", so the artifact either
  * records a quiet number or disclaims itself. */
object Bench {
  private val CanaryQueries =
    Seq("q115_srp_codes", "q23_ngram_jaccard", "q71_media_content_stats")

  /** Committed quiet-band canary medians (sf0.1, cpus=32, from the
    * steal-flat run named above: steal 0.3/[0.1,0.1]/0.1). The 2x
    * contamination threshold sits far above run-to-run jitter (the
    * canaries' own min/max spread is ~15%) and well below the 5-20x
    * inflation observed under co-tenancy waves. */
  private val QuietBands = Map(
    "q115_srp_codes" -> 0.143,
    "q23_ngram_jaccard" -> 1.618,
    "q71_media_content_stats" -> 0.286)

  /** One timed query row: the median/min/max over the runs, whether
    * every run passed, and the steal probe covering the ~20-query
    * window the row ran in — so a reader can localize a co-tenancy
    * wave from the committed artifact alone, without a judge diff. */
  private[graft] case class QRow(name: String, median: Double,
    min: Double, max: Double, ok: Boolean, steal: Double)

  /** Queries per rolling steal probe, and the probe's spin length.
    * Sparse probes have a false-negative window: a wave that falls
    * between two probes and touches no canary goes unseen. A probe
    * before every ~20-query window, refreshed BEFORE timing so each
    * row's stamp reflects the window it actually ran in (`Probe scale`
    * stamps its rows the same way), bounds any undetected wave to one
    * window; 1.5 s of spin reads a multi-query wave fine and keeps
    * probe overhead ~15 s per pass, all outside the per-query timers. */
  private[graft] val ProbeEvery = 20
  private[graft] val RollingProbeMs = 1500L

  /** One full measuring pass: per-query medians over `runs`, with a
    * rolling steal probe before every [[ProbeEvery]]-query window (a
    * steal WAVE confined to a stretch between sparse probes is
    * invisible). Probe wall-clock is outside every per-query timer. */
  private def measurePass(spark: SparkSession, sfDir: String,
      sorted: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      runs: Int, stealPre: Double): (Seq[QRow], Seq[Double]) = {
    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    // A query that throws must not masquerade as a fast median: its
    // time-to-crash would count in the total. Record the wall time AND
    // whether any run failed; failed queries are flagged in the detail
    // artifact and excluded from the headline total.
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { exec(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] query failed: ${e.getMessage}"); false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val stealMid = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lastSteal = stealPre // window 0 is covered by the pre probe
    val results = sorted.zipWithIndex.map { case ((name, fn), i) =>
      if (i % ProbeEvery == 0 && i > 0) {
        lastSteal = tools.StealProbe.measure(
          Runtime.getRuntime.availableProcessors(), RollingProbeMs)
        stealMid += lastSteal
      }
      val rs = Seq.fill(runs)(timeOnce(fn))
      val ts = rs.map(_._1).sorted
      QRow(name, ts(ts.length / 2), ts.head, ts.last, rs.forall(_._2),
        lastSteal)
    }
    (results, stealMid.toSeq)
  }

  /** The contamination rule: double-digit steal in ANY probe (pre included — a retry pass launched
    * into a still-noisy window whose wave dies before the one-third
    * probe would otherwise read as quiet while its first-third medians
    * are inflated), or any passing canary median above 2x its
    * committed quiet band. Returns the reasons so the artifact says
    * WHY, not just that. */
  private[graft] def contaminationOf(stealPre: Double,
      results: Seq[QRow],
      stealMid: Seq[Double], stealPost: Double,
      bandsApply: Boolean): Seq[String] = {
    val steal = (("steal_pct_pre" -> stealPre) +:
      stealMid.zipWithIndex.map { case (s, i) =>
        s"steal_pct_mid[$i]" -> s
      } :+ ("steal_pct_post" -> stealPost)).collect {
      case (label, s) if s >= 10.0 => f"$label=$s%.1f (double-digit)"
    }
    val byName = results.map(r => r.name -> (r.median, r.ok)).toMap
    // the committed bands are sf0.1/cpus=32 medians — at any other
    // (sf, cpus) the comparison is meaningless (a quiet sf0.01 smoke
    // run sits near the threshold purely from per-query fixed costs),
    // so off-profile runs adjudicate on steal alone
    val canaries = if (!bandsApply) Seq.empty else
      CanaryQueries.flatMap { c =>
        (byName.get(c), QuietBands.get(c)) match {
          case (Some((m, true)), Some(band)) if m > 2.0 * band =>
            Some(f"$c=${m}%.3f > 2x quiet band $band%.3f")
          case _ => None
        }
      }
    steal ++ canaries
  }

  /** One measuring pass (1-based `index`) and its weather verdict:
    * `reasons` is empty iff the pass was quiet. */
  private[graft] case class Pass(index: Int, res: Seq[QRow], pre: Double,
    mid: Seq[Double], post: Double, reasons: Seq[String])

  /** The reported pass: a quiet one if any pass was quiet, else the
    * least-inflated contaminated one. The ok-query set is intersected
    * across ALL passes once; the candidate with the most ok queries
    * wins outright (a sum over fewer queries must not win by
    * omission), then the lowest median total over that shared set,
    * then the earlier pass. One global key, so the choice does not
    * depend on the order the passes are compared in. */
  private[graft] def choosePass(passes: Seq[Pass]): Pass = {
    val quiet = passes.filter(_.reasons.isEmpty)
    val pool = if (quiet.nonEmpty) quiet else passes
    def okNames(p: Pass) = p.res.filter(_.ok).map(_.name).toSet
    val shared = passes.map(okNames).reduce(_ intersect _)
    pool.minBy(p => (-okNames(p).size,
      p.res.filter(r => shared(r.name)).map(_.median).sum, p.index))
  }

  /** Every contaminated pass's reasons, tagged by pass index: why the
    * retries happened on a quiet-after-retry verdict, and why every
    * pass was disclaimed on a contaminated one. Empty only when pass 1
    * was quiet. */
  private[graft] def weatherReasons(passes: Seq[Pass]): Seq[String] =
    passes.flatMap(p => p.reasons.map(r => s"pass ${p.index}: $r"))

  /** Poll for a quiet window before a retry pass: probe every ~20 s
    * until steal < 5% or the wait budget elapses. Bounded so a
    * permanently noisy host still produces an artifact (with the
    * contaminated verdict on it). The 10-minute default outlasts a
    * multi-minute co-tenant wave: a retry launched straight back into
    * the wave measures it again, and waiting one out is cheaper than
    * shipping a disclaimed number. */
  private def awaitQuietWindow(): Double = {
    val waitSec =
      GraftSession.envNum(sys.env, "SPARK_GRAFT_BENCH_QUIET_WAIT", 600L).max(0L)
    val deadline = System.nanoTime() + waitSec * 1000000000L
    var steal = tools.StealProbe.measureDefault()
    while (steal >= 5.0 && System.nanoTime() < deadline) {
      System.err.println(f"[bench] waiting for quiet window (steal $steal%.1f%%)")
      Thread.sleep(20000L)
      steal = tools.StealProbe.measureDefault()
    }
    steal
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val runs =
      GraftSession.envNum(sys.env, "SPARK_GRAFT_BENCH_RUNS", 3L).toInt.max(1)
    // weather first: steal accrues only under load, so probe before the
    // Spark session exists (the probe's own spin is the load)
    val stealPre0 = tools.StealProbe.measureDefault()
    val spark = GraftSession.builder(cpus)
      // The bench session runs 200+ queries × runs each, and every run
      // leaves localCheckpoint blocks behind that the ContextCleaner
      // only reclaims after a driver GC notices the dead RDD refs; the
      // default periodic-GC interval (30 min) is longer than the whole
      // bench, so storage pressure would build up monotonically and
      // inflate late-alphabet decode-heavy rows. One minute keeps the
      // session young; the timer lives in Spark's cleaner thread,
      // outside every per-query timer. (guide §5: caching competes with
      // execution.)
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    // EXACT directory-name match: a substring test would apply the
    // sf0.1-committed bands to sf0.15/sf0.12/... and falsely adjudicate
    // every quiet run of those profiles contaminated
    val bandsApply =
      new java.io.File(sfDir).getName == "sf0.1" && cpus == 32
    val (res1, mid1) = measurePass(spark, sfDir, sorted, runs, stealPre0)
    val post1 = tools.StealProbe.measureDefault()
    val reasons1 = contaminationOf(stealPre0, res1, mid1, post1, bandsApply)
    // self-defense: up to SPARK_GRAFT_BENCH_RETRIES (default 2)
    // bounded retries, each after a quiet-window wait. A retry reuses
    // the warm JVM and session memos — shared artifacts amortize
    // exactly as they do across the 3 runs within a pass. Timers, query
    // set, median rule and the JSON contract are untouched: the policy
    // only decides WHICH pass's numbers are reported ([[choosePass]])
    // and how the artifact self-adjudicates.
    val maxRetries =
      GraftSession.envNum(sys.env, "SPARK_GRAFT_BENCH_RETRIES", 2L).max(0L)
    var passes = Vector(Pass(1, res1, stealPre0, mid1, post1, reasons1))
    while (passes.last.reasons.nonEmpty && passes.length <= maxRetries) {
      System.err.println(s"[bench] pass ${passes.length} contaminated: " +
        passes.last.reasons.mkString("; "))
      val pre = awaitQuietWindow()
      val (res, mid) = measurePass(spark, sfDir, sorted, runs, pre)
      val post = tools.StealProbe.measureDefault()
      passes :+= Pass(passes.length + 1, res, pre, mid, post,
        contaminationOf(pre, res, mid, post, bandsApply))
    }
    val retried = passes.length > 1
    if (retried && passes.last.reasons.nonEmpty)
      System.err.println(s"[bench] final retry also contaminated: " +
        passes.last.reasons.mkString("; "))
    val chosen = choosePass(passes)
    val verdict = if (chosen.reasons.isEmpty) "quiet" else "contaminated"
    val reasons = weatherReasons(passes)
    val (results, stealPre, stealMid, stealPost) =
      (chosen.res, chosen.pre, chosen.mid, chosen.post)
    val failed = results.filterNot(_.ok).map(_.name)
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.length} queries FAILED " +
        s"(excluded from total): ${failed.mkString(", ")}")
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map(r => "\"" + r.name + "\":" + fmt(r.median))
      .mkString("{", ",", "}")
    val spread = results.map(r =>
      "\"" + r.name + "\":[" + fmt(r.min) + "," + fmt(r.max) + "]")
      .mkString("{", ",", "}")
    val total = results.filter(_.ok).map(_.median).sum
    def fmt1(v: Double): String = BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
    val canaryJson = {
      // a crashed canary's time-to-crash must not masquerade as a
      // fast quiet-posture reading (the headline total already
      // excludes failures for the same reason) — only fully-passing
      // canaries report a median; a failed one reports "failed" so
      // the adjudication sees the gap instead of a phantom floor
      val byName = results.map(r => r.name -> (r.median, r.ok)).toMap
      CanaryQueries.flatMap(c => byName.get(c).map { case (m, ok) =>
        "\"" + c + "\":" + (if (ok)
          BigDecimal(m).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
        else "\"failed\"")
      }).mkString("{", ",", "}")
    }
    // valid-JSON hardening: escape backslashes, swap double quotes for
    // apostrophes (reasons are prose, not data), strip control chars —
    // a weather reason routed from an exception message must not be
    // able to corrupt the official artifact
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "'")
        .map(c => if (c < ' ') ' ' else c) + "\""
    val reasonsJson = reasons.map(jstr).mkString("[", ",", "]")
    val midJson = stealMid.map(fmt1).mkString("[", ",", "]")
    val weather = s""""steal_pct_pre":${fmt1(stealPre)},"steal_pct_mid":$midJson,"steal_pct_post":${fmt1(stealPost)},"canaries":$canaryJson,"weather_verdict":${jstr(verdict)},"retried":$retried,"weather_reasons":$reasonsJson"""
    // The driver records only the LAST ~2000 chars of output (a
    // headline printed FIRST is cut and parses as null), so ordering
    // is: the full line with spreads first (humans, full captures),
    // then LAST a line guaranteed to survive a tail capture and parse —
    // per-query medians if that fits the tail budget, otherwise just
    // the headline total.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,"n_failed":${failed.length},$weather,"queries":$qs,"spread":$spread,"sf":"$sfDir"}""")
    def fmt2(v: Double): String = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val qs2 = results.map(r => "\"" + r.name + "\":" + fmt2(r.median))
      .mkString("{", ",", "}")
    val mediansLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,$weather,"queries":$qs2,"sf":"$sfDir"}"""
    // tail budget: 2000-char capture minus sbt's trailing "[success]
    // Total time" line (~60 chars) leaves ~1930 for the final line.
    // weather + verdict stay in EVERY variant — the self-adjudication
    // fields are the whole point of the artifact.
    println(if (mediansLine.length <= 1900) mediansLine
      else s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,$weather,"n_queries":${results.length},"sf":"$sfDir"}""")
    // The driver's tail capture cannot fit the per-query medians map,
    // so per-query history would be invisible without a committed
    // artifact: write the full detail to a file (default
    // BENCH_DETAIL.json in the cwd, overridable) that gets checked in,
    // so medians can be diffed from the repo alone instead of
    // re-running the whole bench.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "BENCH_DETAIL.json")
    val detail = results.map { r =>
      val failTag = if (r.ok) "" else """, "failed": true"""
      // per-query steal stamp: the rolling probe covering the ~20-query
      // window this row ran in — localizes a wave from the artifact
      s"""    "${r.name}": {"median": ${fmt(r.median)}, "min": ${fmt(r.min)}, "max": ${fmt(r.max)}, "steal": ${fmt1(r.steal)}$failTag}"""
    }.mkString(",\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath),
      s"""{
  "sf": "$sfDir",
  "runs": $runs,
  "cpus": $cpus,
  "total_sec": ${fmt(total)},
  "n_failed": ${failed.length},
  "steal_pct_pre": ${fmt1(stealPre)},
  "steal_pct_mid": $midJson,
  "steal_pct_post": ${fmt1(stealPost)},
  "canaries": $canaryJson,
  "weather_verdict": ${jstr(verdict)},
  "weather_reasons": $reasonsJson,
  "retried": $retried,
  "queries": {
$detail
  }
}
""")
    spark.stop()
  }
}
