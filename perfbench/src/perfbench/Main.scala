package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.pipeline.FilePipeline
import graft.pipeline.FilePipeline.RunReport
import graft.tools.StealProbe

/** Benchmark harness. One invocation runs one workload with one seed and
  * prints, as its last stdout line, the result object
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
  * metrics untraced, or the per-layer split with `--trace 1`. The line
  * before it holds the workload's detail (tail percentile and sample
  * count, host steal, workload-specific figures).
  *
  * Modes (`--mode`): `run` (default), `gen` (write one workload's input
  * tree), `digests` (dump query results for the DuckDB cross-check),
  * `selftest` (checks of the statistics and naming rules) and `train`
  * (one cold pass over every workload's code, run by the build to record
  * the class-data-sharing archive every benchmark JVM starts from). */
object Main {

  val Workloads: Seq[String] = Seq("ingest_bulk", "ingest_daily", "query_mix")

  /** Reference throughput: ~20 GB/day (BASELINE.md). */
  val ReferenceMbS = 0.23

  private val MB = 1024.0 * 1024.0

  case class Opts(mode: String = "run", workload: String = "",
      seed: Long = 1L, seconds: Int = 10, trace: Boolean = false,
      smoke: Boolean = false, benchDir: Path = Paths.get("perfbench"),
      out: Option[Path] = None)

  def parse(args: Seq[String]): Opts = args match {
    case Seq() => Opts()
    case "--mode" +: v +: rest => parse(rest).copy(mode = v)
    case "--workload" +: v +: rest => parse(rest).copy(workload = v)
    case "--seed" +: v +: rest => parse(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest => parse(rest).copy(seconds = v.toInt)
    case "--trace" +: v +: rest => parse(rest).copy(trace = v == "1")
    case "--scale" +: v +: rest =>
      require(v == "smoke" || v == "full", s"unknown scale $v")
      parse(rest).copy(smoke = v == "smoke")
    case "--bench-dir" +: v +: rest => parse(rest).copy(benchDir = Paths.get(v))
    case "--out" +: v +: rest => parse(rest).copy(out = Some(Paths.get(v)))
    case other => throw new IllegalArgumentException(
      s"unrecognised arguments: ${other.mkString(" ")}")
  }

  /** Operation and check tally behind `attempted`/`failed`. */
  final class Tally {
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
      attempted += 1
      if (!ok) {
        failed += 1
        failures += s"$name: $detail"
        System.err.println(s"[perfbench] check failed: $name $detail")
      }
      ok
    }
    /** Runs one operation; an exception counts as its failure. */
    def op[T](name: String)(body: => T): Option[T] =
      try { val v = body; attempted += 1; Some(v) }
      catch { case e: Exception =>
        check(name, ok = false, String.valueOf(e.getMessage).take(300)); None }
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Starts the session; returns it with its start time in seconds. */
  def startSession(work: Path, cores: Int): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val s = session(work, cores)
    (s, secondsSince(t0))
  }

  /** Runs `body` `min` times, then again while one more round (at the
    * mean round time so far) still ends within `seconds`. */
  def repeat(min: Int, seconds: Int)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < min || secondsSince(t0) * (n + 1) / n <= seconds) {
      body
      n += 1
    }
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val jvmStart = System.nanoTime()

  /** Progress on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${secondsSince(jvmStart)}%7.2f s $msg")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
    try all.forEach(f => Files.deleteIfExists(f)) finally all.close()
  }

  /** Heap in use after full collections: the least of three readings,
    * each taken after two collections a moment apart, so objects that
    * Spark's cleaner threads release only after the first collection are
    * gone and allocations racing the reading do not count. */
  def heapLiveMb(): Double = (0 until 3).map { _ =>
    System.gc(); Thread.sleep(100); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
  }.min

  /** What one workload run measured. */
  case class Result(setupS: Double, passTotal: Double, opP50: Double,
      opSamples: Seq[Double], heapMb: Double,
      detail: Map[String, Double], layer: Map[String, Double])

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toSeq)
    o.mode match {
      case "run" => run(o)
      case "gen" =>
        val out = o.out.getOrElse(sys.error("--out is required"))
        Gen.generate(out, o.seed, Ingest.spec(o.workload, o.smoke))
        println(out.resolve("manifest.json"))
      case "digests" =>
        val out = o.out.getOrElse(sys.error("--out is required"))
        val work = out.resolve("work")
        val spark = session(work, Runtime.getRuntime.availableProcessors())
        try QueryMix.dumpDigests(spark, QueryMix.load(o.benchDir), out)
        finally spark.stop()
      case "selftest" => sys.exit(if (SelfTest.run()) 0 else 1)
      case "train" => train(o)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  /** One pipeline run, one backfill and one cold query of each kind:
    * the classes every workload loads, for the build's class-data-sharing
    * archive. */
  def train(o: Opts): Unit = {
    val work = Paths.get(".bench_build", "work", "train").toAbsolutePath
    deleteTree(work)
    val spark = session(work, Runtime.getRuntime.availableProcessors())
    try {
      Gen.generate(work.resolve("gen"), o.seed, Ingest.SmokeDaily)
      val root = work.resolve("root")
      Ingest.stage(work.resolve("gen"), 0, root)
      FilePipeline.run(spark, root.toString)
      FilePipeline.backfillEnrichment(spark, root.toString)
      val mix = QueryMix.load(o.benchDir)
      mix.queries.foreach(e => QueryMix.exec(QueryMix.build(spark, mix, e.name)))
    } finally {
      spark.stop()
      deleteTree(work)
    }
  }

  def run(o: Opts): Unit = {
    require(Workloads.contains(o.workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(".bench_build", "work",
      s"${o.workload}-${ProcessHandle.current().pid()}").toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work)
    val stealPre = StealProbe.measure(cores, 250L)
    val tally = new Tally
    val tracePath = Paths.get(".bench_build", "traces",
      s"${o.workload}-seed${o.seed}.jsonl").toAbsolutePath
    try {
      val r = o.workload match {
        case "query_mix" => queryMix(o, work, cores, tally, tracePath)
        case w => ingest(o, w, work, cores, tally, tracePath)
      }
      val stealPost = StealProbe.measure(cores, 250L)
      log("done")
      val tail = Stats.tail(r.opSamples)
      val e2e = Map(
        "setup_s" -> r.setupS,
        "total_s" -> r.passTotal,
        "op_p50_s" -> r.opP50,
        "heap_live_mb" -> r.heapMb)
      val failRatio = tally.failed.toDouble / math.max(1, tally.attempted)
      val detail = r.detail ++ e2e ++ Map(
        "op_tail_s" -> tail.value, "tail_percentile" -> tail.percentile,
        "tail_n" -> tail.n.toDouble,
        "steal_pct_pre" -> stealPre, "steal_pct_post" -> stealPost,
        "op_fail_ratio" -> failRatio, "reference_mb_s" -> ReferenceMbS)
      val detailJson = detail.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString(", ")
      val failuresJson = tally.failures.map(f => "\"" +
        f.replace("\\", "\\\\").replace("\"", "'").filter(_ >= ' ') + "\"")
        .mkString("[", ", ", "]")
      println(s"""{"workload": "${o.workload}", "seed": ${o.seed}, "trace": ${o.trace}, $detailJson, "check_failures": $failuresJson}""")
      val metrics: Seq[(String, Double, String)] =
        if (!o.trace) Metrics.EndToEnd.map { case (n, u) => (n, e2e(n), u) }
        else {
          val layer = r.layer ++ Map(
            "trace.total_s" -> r.passTotal, "op_fail_ratio" -> failRatio,
            "host.steal_pre_pct" -> stealPre, "host.steal_post_pct" -> stealPost)
          Metrics.PerLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
        }
      val metricsJson = metrics.map { case (n, v, u) =>
        s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": ${tally.failed == 0}, "attempted": ${math.max(1, tally.attempted)}, "failed": ${tally.failed}, "metrics": {$metricsJson}}""")
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
      deleteTree(work)
    }
  }

  /** Wraps a call into a layer in a trace span when tracing. */
  private def call[T](trace: Option[Trace], name: String, layer: String)(
      body: => T): T = trace match {
    case Some(t) => t.span(name, layer)(body)
    case None => body
  }

  /** One pass of an ingest workload: each run's wall time (counted
    * whether or not its checks pass), the runs' reports, and the backfill's
    * wall time and row count. */
  case class Pass(times: Seq[Double], reports: Seq[RunReport],
      backfillS: Double, backfillRows: Long)

  def ingest(o: Opts, workload: String, work: Path, cores: Int,
      tally: Tally, tracePath: Path): Result = {
    val gen = work.resolve("gen")
    val tree = Gen.generate(gen, o.seed, Ingest.spec(workload, o.smoke))
    // the throwaway pass of set-up: on bulk the measured tree itself, as a
    // first cold run takes 2-3x as long as the next while the JIT compiles
    // the parse and write paths; on the daily feed a small tree
    val (warm, warmTree) =
      if (workload == "ingest_bulk") (gen, tree)
      else {
        val w = work.resolve("gen-warmup")
        (w, Gen.generate(w, o.seed ^ 0x9E3779B97F4A7C15L,
          if (o.smoke) Ingest.SmokeWarmup else Ingest.WarmupSpec))
      }
    log("generated inputs")
    val (spark, startS) = startSession(work, cores)
    log("session ready")

    /** The generated tree `t` under `src` once into the fresh root `root`:
      * one run per arrival (the bulk tree has one) into one growing
      * warehouse, then, on the daily feed, one backfill for the metadata
      * that landed late. */
    def pass(src: Path, t: Gen.Tree, root: Path, label: String,
        trace: Option[Trace]): Pass = {
      val times = mutable.ArrayBuffer.empty[Double]
      val reports = mutable.ArrayBuffer.empty[RunReport]
      for (k <- 0 until t.arrivals) {
        Ingest.stage(src, k, root)
        val t0 = System.nanoTime()
        val rep = tally.op("FilePipeline.run") {
          call(trace, Trace.RunSpan, "pipeline")(FilePipeline.run(spark, root.toString))
        }
        times += secondsSince(t0)
        log(s"$label run $k ${times.last} s")
        rep.foreach { r =>
          reports += r
          tally.check(s"${label}_report_$k", r == Ingest.expectedReport(t, k), r.toString)
        }
      }
      var backfillS = 0.0
      var backfillRows = 0L
      if (workload == "ingest_daily") {
        val t0 = System.nanoTime()
        tally.op("FilePipeline.backfillEnrichment") {
          call(trace, Trace.BackfillSpan, "pipeline")(
            FilePipeline.backfillEnrichment(spark, root.toString))
        }.foreach { n =>
          backfillRows = n
          tally.check(s"${label}_backfill_rows", n == t.lateRows,
            s"$n vs ${t.lateRows}")
        }
        backfillS = secondsSince(t0)
      }
      Pass(times.toSeq, reports.toSeq, backfillS, backfillRows)
    }

    val w0 = System.nanoTime()
    pass(warm, warmTree, work.resolve("warmup"), "warmup", None)
    val warmS = secondsSince(w0)
    deleteTree(work.resolve("warmup"))
    log(s"warm-up pass $warmS s")
    val trace = if (o.trace) Some(new Trace(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Pass]
    var root: Path = null
    def measure(): Unit = {
      if (root != null) deleteTree(root)
      root = work.resolve(s"root-${passes.size}")
      passes += pass(gen, tree, root, s"pass${passes.size}", trace)
    }
    // bulk: a cold run of the whole tree into a fresh root, at least three
    // times; the daily feed once
    if (workload == "ingest_bulk") repeat(3, o.seconds)(measure()) else measure()
    val runTimes = passes.flatMap(_.times).toSeq
    // the last pass's warehouse is the one checked
    val last = passes.last
    val reports = last.reports
    val (backfillS, backfillRows) = (last.backfillS, last.backfillRows)
    log("measured")
    val heap = heapLiveMb()
    val layer = trace.map(_.finish(tracePath, cores)).getOrElse(Map.empty)
    val blockMb = blockMemMb(spark)
    val wh = tally.op("read_warehouse")(Ingest.checkWarehouse(spark, root, tree,
      backfilled = workload == "ingest_daily"))
    wh.foreach(_.checks.foreach { case (n, ok, d) => tally.check(n, ok, d) })
    log("checked")
    // the bulk tree is ingested once per iteration, the daily feed once
    val inputBytes = tree.inputBytes.toDouble *
      (if (workload == "ingest_bulk") runTimes.size else 1)
    val warehouseBytes = Ingest.bytesUnder(root.resolve("warehouse")).toDouble
    val storageRatio = warehouseBytes / tree.inputBytes
    val runTail = Stats.tail(runTimes)
    val counts = Map(
      "pipeline.files_in" ->
        reports.map(r => r.csvFilesIngested + r.metadataFilesIngested).sum.toDouble,
      "pipeline.files_ingested" -> reports.map(r =>
        r.csvFilesIngested - r.failures + r.metadataFilesIngested).sum.toDouble,
      "pipeline.files_quarantined" -> Ingest.filesUnder(root.resolve("incoming")).size.toDouble,
      "pipeline.files_archived" -> Ingest.filesUnder(root.resolve("archive")).size.toDouble,
      "pipeline.fact_rows" -> wh.map(_.factRows.toDouble).getOrElse(0.0),
      "pipeline.dim_rows" -> wh.map(_.dimRows.toDouble).getOrElse(0.0),
      "warehouse.files" -> Ingest.warehouseFiles(root).toDouble,
      "warehouse.storage_ratio" -> storageRatio,
      "ops.backfill_rows" -> backfillRows.toDouble,
      "ops.backfill_s" -> backfillS,
      "spark.block_mem_mb" -> blockMb)
    Result(
      setupS = startS + warmS,
      passTotal = if (workload == "ingest_bulk") Stats.median(runTimes)
        else runTimes.sum + backfillS,
      opP50 = Stats.median(runTimes),
      opSamples = runTimes,
      heapMb = heap,
      detail = Map(
        "ingest_mb_s" -> inputBytes / MB / runTimes.sum,
        "run_p50_s" -> Stats.median(runTimes),
        "run_tail_s" -> runTail.value,
        "backfill_s" -> backfillS,
        "storage_ratio" -> storageRatio,
        "input_mb" -> tree.inputBytes / MB,
        "runs" -> runTimes.size.toDouble),
      layer = layer ++ counts)
  }

  def blockMemMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum / MB

  def queryMix(o: Opts, work: Path, cores: Int, tally: Tally,
      tracePath: Path): Result = {
    val full = QueryMix.load(o.benchDir)
    val mix = if (o.smoke) full.copy(queries = full.queries.take(3)) else full
    val modules = QueryMix.modules(mix.queries.map(_.name))
    val rng = new SplittableRandom(o.seed)
    def permuted(): Seq[QueryMix.Expected] = {
      val a = mix.queries.toArray
      for (i <- a.length - 1 to 1 by -1) {
        val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }
    val (spark, startS) = startSession(work, cores)
    // warm-up: one cold pass that builds every session memo and checks
    // each query's result against the frozen digest
    val t0 = System.nanoTime()
    permuted().foreach { e =>
      tally.op(e.name)(QueryMix.digest(QueryMix.build(spark, mix, e.name)))
        .foreach(got => tally.check(s"result_${e.name}", QueryMix.check(e, got),
          s"got rows=${got._1} digest=${got._2}, want rows=${e.rows} digest=${e.digest.getOrElse("-")}"))
    }
    val coldS = secondsSince(t0)
    log(s"cold pass $coldS s")
    val trace = if (o.trace) Some(new Trace(spark)) else None
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var passes = 0
    repeat(5, o.seconds) {
      permuted().foreach { e =>
        val layer = modules(e.name)
        val q0 = System.nanoTime()
        tally.op(e.name) {
          val df = call(trace, Trace.BuildSpan, layer)(QueryMix.build(spark, mix, e.name))
          call(trace, Trace.ExecSpan, layer)(QueryMix.exec(df))
        }
        // a failed query's time counts too; the tally flags the failure
        perQuery.getOrElseUpdate(e.name, mutable.ArrayBuffer.empty) += secondsSince(q0)
      }
      passes += 1
    }
    log(s"measured $passes passes")
    val heap = heapLiveMb()
    val layer = trace.map(_.finish(tracePath, cores)).getOrElse(Map.empty)
    val blockMb = blockMemMb(spark)
    // each query's warm time is its median over the passes; the typical
    // call is the median over every warm call, finer than a median of the
    // few per-query medians
    val medians = perQuery.map { case (n, xs) => n -> Stats.median(xs.toSeq) }
    val samples = perQuery.values.flatten.toSeq
    val tail = Stats.tail(samples)
    Result(
      setupS = startS + coldS,
      passTotal = medians.values.sum,
      opP50 = Stats.median(samples),
      opSamples = samples,
      heapMb = heap,
      detail = Map(
        "query_total_s" -> medians.values.sum,
        "query_p50_s" -> Stats.median(samples),
        "query_tail_s" -> tail.value,
        "queries" -> mix.queries.size.toDouble,
        "passes" -> passes.toDouble) ++
        medians.map { case (n, m) => s"q.$n" -> m },
      layer = layer ++ Map("spark.block_mem_mb" -> blockMb))
  }
}
