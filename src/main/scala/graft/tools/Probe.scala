package graft.tools

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession, SparkEntry, Tables}
import graft.ext.Similarity
import graft.ops.Skew

/** The dev probe over registered queries, one session per invocation
  * (`$SPARK_GRAFT_CPUS` cores, as Bench). Every mode materializes
  * through the `noop` sink, as Bench does: under `count()` Catalyst
  * prunes columns and drops sorts, so a query whose cost lives in a
  * pruned branch would measure near zero. Queries are picked by name
  * prefix, in name order; none = every registered query. The timing
  * modes warm a query with [[WarmRounds]] untimed runs per side first.
  *
  *   - `time <sfDir> [q...]` — [[Runs]] timed runs per query, split
  *     into what the scheduler saw: jobs, stages, tasks, executor run
  *     and CPU time, GC, shuffle read/write and spill (per-run
  *     averages).
  *   - `ab <sfDir> k=v,... [q...]` — interleaved A/B: session A applies
  *     the listed confs, session B keeps the defaults; after the
  *     interleaved warm rounds, [[Runs]] alternating rounds A, B, A,
  *     B... so co-tenant weather hits both sides alike.
  *     Reports each side's MIN (the noise-robust statistic on a host
  *     with steal waves), the ratio, and every round.
  *   - `plan <sfDir> [--exec] [--out dir] [q...]` — the formatted
  *     physical plan; `--exec` also runs the query and prints the final
  *     adaptive plan (AQE stage reuse only shows after execution);
  *   `--out dir` writes `dir/<query>.txt` instead of printing.
  *   - `scale <sfDir> <outDir> [q...]` — writes the [[Replicas]]-fold
  *     tree of `sfDir` into `outDir` ([[synthesize]]), then times each
  *     query once per directory and prints 1x, 10x and the ratio, with
  *     the host steal measured before every [[Bench.ProbeEvery]]-row
  *     window. Besides the registry it offers [[ScaleVariants]].
  *
  * `sbt "runMain graft.tools.Probe time /path/to/sf0.1 q107_bigram_logprob"` */
object Probe {
  private type Query = (SparkSession, String) => DataFrame

  private val Runs = 4
  /** Untimed rounds before a query is timed: after one, the first
    * timed round still ran 1.3–2× the later ones. */
  private val WarmRounds = 2

  /** Copies of each fact-like table in the `scale` tree. */
  private val Replicas = 10
  /** Key shifts per replica of the replicated tables. Every key on
    * either side of a join shifts by the same step, so a replica joins
    * only itself: fanout and group cardinality grow 10x instead of the
    * join growing 100x. `l_partkey`/`p_partkey` shift by 10^5 only, so
    * sf0.1's 10x keys stay under 2^20 (q96's version packing); leaving
    * them fixed would densify the part co-occurrence graph instead of
    * growing it. Tables not listed (supplier, nation, region) are
    * dimensions, copied once. */
  private val KeyShifts: Map[String, Seq[(String, Long)]] = Map(
    "lineitem" -> Seq("l_orderkey" -> 10000000L, "l_partkey" -> 100000L),
    "part" -> Seq("p_partkey" -> 100000L),
    "orders" -> Seq("o_orderkey" -> 10000000L, "o_custkey" -> 10000000L),
    "customer" -> Seq("c_custkey" -> 10000000L),
    "documents" -> Seq("doc_id" -> 10000000L),
    "embeddings" -> Seq("vec_id" -> 10000000L),
    "events" -> Seq("event_id" -> 10000000L, "user_id" -> 10000000L))

  /** `scale`-only cases, named outside the registry:
    *   - q66's salted join with half of lineitem rewritten to one
    *     supplier key, so the salt carries a hot key that grows 10x
    *     (the registered q66 runs on near-uniform keys);
    *   - q47 with the corpus-derived `nBits`: the registered q47 pins
    *     8 bits for its oracle, and at 10x that measures bucket growth,
    *     not scaling. */
  private val ScaleVariants: Map[String, Query] = Map(
    "q47_neardup_lsh_autobits" -> ((s: SparkSession, d: String) =>
      Similarity.neardupPairsLsh(s, d)),
    "q66_salted_skewed" -> { (s: SparkSession, d: String) =>
      val li = Tables(s, d, "lineitem")
        .withColumn("l_suppkey",
          when(col("l_orderkey") % 2 === 0, lit(1L))
            .otherwise(col("l_suppkey")))
      val sup = Tables(s, d, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      Skew.saltedJoin(li, sup, "l_suppkey", factor = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).as("sum_qty"))
    })

  private class Counters extends SparkListener {
    val jobs, stages, tasks, runMs, cpuNs, gcMs, shufR, shufW, spill =
      new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      tasks.incrementAndGet()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    def reset(): Unit = Seq(jobs, stages, tasks, runMs, cpuNs, gcMs,
      shufR, shufW, spill).foreach(_.set(0))
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Wall seconds of one noop materialization of `q`. */
  private def timed(s: SparkSession, dir: String, q: Query): Double = {
    val t0 = System.nanoTime()
    noop(q(s, dir))
    (System.nanoTime() - t0) / 1e9
  }

  private def failed(n: String, why: String): Unit =
    println(f"$n%-26s FAILED: $why")

  private def time(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    // the listener bus is asynchronous: deliver every event before reading
    def settle(): Unit = GraftBus.drain(spark.sparkContext)
    println(f"${"query"}%-26s ${"s/run"}%7s ${"jobs"}%5s ${"stage"}%5s ${"tasks"}%6s ${"runS"}%7s ${"cpuS"}%7s ${"gcS"}%6s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"spillMB"}%7s")
    val qs = SparkEntry.queries
    names.foreach { n =>
      try {
        val q = qs(n)
        (1 to WarmRounds).foreach(_ => timed(spark, dir, q))
        settle()
        c.reset()
        val wall = (1 to Runs).map(_ => timed(spark, dir, q)).sum / Runs
        settle()
        def per(v: AtomicLong, scale: Double): Double = v.get / scale / Runs
        println(f"$n%-26s $wall%7.3f ${c.jobs.get / Runs}%5d ${c.stages.get / Runs}%5d ${c.tasks.get / Runs}%6d ${per(c.runMs, 1e3)}%7.2f ${per(c.cpuNs, 1e9)}%7.2f ${per(c.gcMs, 1e3)}%6.2f ${per(c.shufR, 1e6)}%7.1f ${per(c.shufW, 1e6)}%7.1f ${per(c.spill, 1e6)}%7.1f")
      } catch { case e: Throwable => failed(n, e.getMessage) }
    }
  }

  private def ab(spark: SparkSession, dir: String, confs: String,
      names: Seq[String]): Unit = {
    val sA = spark.newSession()
    val sB = spark.newSession()
    confs.split(',').map(_.trim).filter(_.nonEmpty).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      sA.conf.set(k, v)
    }
    def fmt(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(",")
    println(f"${"query"}%-26s ${"A_min"}%7s ${"B_min"}%7s ${"A/B"}%6s  rounds")
    val qs = SparkEntry.queries
    names.foreach { n =>
      try {
        val q = qs(n)
        (1 to WarmRounds).foreach { _ => timed(sA, dir, q); timed(sB, dir, q) }
        val rounds = (1 to Runs).map(_ => (timed(sA, dir, q), timed(sB, dir, q)))
        val (as, bs) = rounds.unzip
        println(f"$n%-26s ${as.min}%7.3f ${bs.min}%7.3f ${as.min / bs.min}%6.2f  A=${fmt(as)} B=${fmt(bs)}")
      } catch { case e: Throwable => failed(n, e.getMessage) }
    }
  }

  private def plan(spark: SparkSession, dir: String, args: Seq[String]): Unit = {
    val exec = args.contains("--exec")
    val outIdx = args.indexOf("--out")
    val out = if (outIdx >= 0) Some(Paths.get(args(outIdx + 1))) else None
    val names = queryNames(args.zipWithIndex.collect {
      case (a, i) if !a.startsWith("--") && (outIdx < 0 || i != outIdx + 1) => a
    })
    out.foreach(Files.createDirectories(_))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        val text = new StringBuilder(
          df.queryExecution.explainString(FormattedMode))
        if (exec) {
          noop(df)
          text ++= "\n== Executed (final adaptive) plan ==\n" +
            df.queryExecution.executedPlan.toString
        }
        out match {
          case Some(d) =>
            Files.writeString(d.resolve(s"$n.txt"), text.toString)
            println(s"[probe] wrote $n")
          case None => println(s"\n===== $n =====\n$text")
        }
      } catch { case e: Throwable => failed(n, e.getMessage) }
    }
  }

  /** Per-replica rewrite of the content no key shift separates, so no
    * two replicas share an exact text or vector: replica r moves each
    * word of `documents.text` r places along the table's sorted
    * vocabulary (`n_chars` follows) and rotates each
    * `embeddings.embedding` by r coordinates. Both are bijections, so
    * a replica keeps the 1x table's duplicate, shingle and distance
    * structure within itself instead of duplicating the 1x rows across
    * replicas; replica 0 is the 1x table. */
  private def perturb(t: String, src: DataFrame): (DataFrame, Int) => DataFrame =
    t match {
      case "documents" =>
        val vocab = src.select(explode(split(col("text"), " "))).distinct()
          .collect().map(_.getString(0)).sorted
        require(vocab.length >= Replicas,
          s"${vocab.length} words cannot tell $Replicas replicas apart")
        (d, r) => {
          val moved = typedLit(vocab.indices
            .map(i => vocab(i) -> vocab((i + r) % vocab.length)).toMap)
          d.withColumn("text", array_join(
              transform(split(col("text"), " "), w => element_at(moved, w)), " "))
            .withColumn("n_chars", length(col("text")).cast("long"))
        }
      case "embeddings" =>
        val e = col("embedding")
        (d, r) => d.withColumn("embedding",
          transform(e, (_, i) => element_at(e, pmod(i + r, size(e)) + 1)))
      case _ => (d, _) => d
    }

  /** Writes the [[Replicas]]-fold tree of every table in `sfDir` into
    * `outDir`: each table of [[KeyShifts]] as `Replicas` copies with
    * its keys shifted and its content [[perturb]]ed per copy, every
    * other table once. */
  private[graft] def synthesize(spark: SparkSession, sfDir: String,
      outDir: String): Unit = {
    val tables = Option(new File(sfDir).list()).toSeq.flatten
      .collect { case f if f.endsWith(".parquet") => f.stripSuffix(".parquet") }
    require(tables.nonEmpty, s"no <table>.parquet under $sfDir")
    tables.sorted.foreach { t =>
      val src = Tables(spark, sfDir, t)
      val shifts = KeyShifts.getOrElse(t, Nil)
      val copies = if (shifts.isEmpty) 1 else Replicas
      val content = perturb(t, src)
      (0 until copies).map { r =>
        content(shifts.foldLeft(src) { case (d, (k, step)) =>
          d.withColumn(k, col(k) + lit(r * step))
        }, r)
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  private def scale(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String], cases: Map[String, Query]): Unit = {
    val t0 = System.nanoTime()
    synthesize(spark, sfDir, outDir)
    println(f"[scale] synthesis ${(System.nanoTime() - t0) / 1e9}%.1f s")
    def steal(): Double = StealProbe.measure(
      Runtime.getRuntime.availableProcessors(), Bench.RollingProbeMs)
    println(f"${"query"}%-26s ${"1x(s)"}%8s ${"10x(s)"}%8s ${"ratio"}%6s ${"steal%"}%7s")
    var lastSteal = -1.0
    names.zipWithIndex.foreach { case (n, i) =>
      // probe BEFORE the window, so each stamp covers the rows it heads
      if (i % Bench.ProbeEvery == 0) lastSteal = steal()
      try {
        val q = cases(n)
        // warm both trees: session memos are keyed by directory, so each
        // side's one-time derivation stays out of its timed run
        (1 to WarmRounds).foreach { _ => timed(spark, sfDir, q); timed(spark, outDir, q) }
        val (a, b) = (timed(spark, sfDir, q), timed(spark, outDir, q))
        println(f"$n%-26s $a%8.2f $b%8.2f ${b / a}%6.1f $lastSteal%7.1f")
      } catch { case e: Throwable => failed(n, e.getMessage) }
    }
    println(f"[scale] steal_pct after the last row: ${steal()}%.1f")
  }

  /** The names among `all` that start with one of `prefixes`, in name
    * order; no prefixes = all of them. A prefix that matches no name
    * prints a FAILED line. */
  private def queryNames(prefixes: Seq[String],
      all: Iterable[String] = SparkEntry.queries.keys): Seq[String] = {
    val sorted = all.toSeq.sorted
    prefixes.filterNot(p => sorted.exists(_.startsWith(p)))
      .foreach(failed(_, "no query name starts with it"))
    if (prefixes.isEmpty) sorted
    else sorted.filter(n => prefixes.exists(n.startsWith))
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe time <sfDir> [q...] | " +
      "ab <sfDir> k=v,... [q...] | plan <sfDir> [--exec] [--out dir] [q...] | " +
      "scale <sfDir> <outDir> [q...]"
    val modeOk = args.length >= 2 && (args(0) match {
      case "time" | "plan" => true
      case "ab" | "scale" => args.length >= 3
      case _ => false
    })
    if (!modeOk) {
      System.err.println(usage)
      sys.exit(2)
    }
    val (mode, dir, rest) = (args(0), args(1), args.drop(2).toSeq)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try mode match {
      case "time" => time(spark, dir, queryNames(rest))
      case "ab" => ab(spark, dir, rest.head, queryNames(rest.tail))
      case "scale" =>
        val cases = SparkEntry.queries ++ ScaleVariants
        scale(spark, dir, rest.head, queryNames(rest.tail, cases.keys), cases)
      case _ => plan(spark, dir, rest)
    } finally spark.stop()
  }
}
