package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}

/** The dev probe over registered queries, one session per invocation
  * (`$SPARK_GRAFT_CPUS` cores, as Bench). Every mode materializes
  * through the `noop` sink, as Bench does: under `count()` Catalyst
  * prunes columns and drops sorts, so a query whose cost lives in a
  * pruned branch would measure near zero. No query names = every
  * registered query, in name order.
  *
  *   - `time <sfDir> [q...]` — one warm run, then [[Runs]] timed runs
  *     per query, split into what the scheduler saw: jobs, stages,
  *     tasks, executor run and CPU time, GC, shuffle read/write and
  *     spill (per-run averages).
  *   - `ab <sfDir> k=v,... [q...]` — interleaved A/B: session A applies
  *     the listed confs, session B keeps the defaults; after
  *     [[WarmRounds]] interleaved warm rounds, [[Runs]] alternating
  *     rounds A, B, A, B... so co-tenant weather hits both sides alike.
  *     Reports each side's MIN (the noise-robust statistic on a host
  *     with steal waves), the ratio, and every round.
  *   - `plan <sfDir> [--exec] [--out dir] [q...]` — the formatted
  *     physical plan; `--exec` also runs the query and prints the final
  *     adaptive plan (AQE stage reuse only shows after execution);
  *   `--out dir` writes `dir/<query>.txt` instead of printing.
  *
  * `sbt "runMain graft.tools.Probe time /path/to/sf0.1 q107_bigram_logprob"` */
object Probe {
  private val Runs = 4
  /** Untimed A, B rounds before `ab` times anything: after one, the
    * first timed round still ran 1.3–2× the later ones. */
  private val WarmRounds = 2

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

  /** Wall seconds of one noop materialization of query `n`. */
  private def timed(s: SparkSession, dir: String, n: String): Double = {
    val t0 = System.nanoTime()
    noop(SparkEntry.queries(n)(s, dir))
    (System.nanoTime() - t0) / 1e9
  }

  private def time(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    // the listener bus is asynchronous: deliver every event before reading
    def settle(): Unit = GraftBus.drain(spark.sparkContext)
    println(f"${"query"}%-26s ${"s/run"}%7s ${"jobs"}%5s ${"stage"}%5s ${"tasks"}%6s ${"runS"}%7s ${"cpuS"}%7s ${"gcS"}%6s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"spillMB"}%7s")
    names.foreach { n =>
      try {
        timed(spark, dir, n) // warm: codegen cache, session memos, JIT
        settle()
        c.reset()
        val wall = (1 to Runs).map(_ => timed(spark, dir, n)).sum / Runs
        settle()
        def per(v: AtomicLong, scale: Double): Double = v.get / scale / Runs
        println(f"$n%-26s $wall%7.3f ${c.jobs.get / Runs}%5d ${c.stages.get / Runs}%5d ${c.tasks.get / Runs}%6d ${per(c.runMs, 1e3)}%7.2f ${per(c.cpuNs, 1e9)}%7.2f ${per(c.gcMs, 1e3)}%6.2f ${per(c.shufR, 1e6)}%7.1f ${per(c.shufW, 1e6)}%7.1f ${per(c.spill, 1e6)}%7.1f")
      } catch { case e: Throwable => println(f"$n%-26s FAILED: ${e.getMessage}") }
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
    names.foreach { n =>
      try {
        (1 to WarmRounds).foreach { _ => timed(sA, dir, n); timed(sB, dir, n) }
        val rounds = (1 to Runs).map(_ => (timed(sA, dir, n), timed(sB, dir, n)))
        val (as, bs) = rounds.unzip
        println(f"$n%-26s ${as.min}%7.3f ${bs.min}%7.3f ${as.min / bs.min}%6.2f  A=${fmt(as)} B=${fmt(bs)}")
      } catch { case e: Throwable => println(s"$n FAILED: ${e.getMessage}") }
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
      } catch { case e: Throwable => println(s"$n FAILED: ${e.getMessage}") }
    }
  }

  private def queryNames(args: Seq[String]): Seq[String] =
    if (args.nonEmpty) args else SparkEntry.queries.keys.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe time <sfDir> [q...] | " +
      "ab <sfDir> k=v,... [q...] | plan <sfDir> [--exec] [--out dir] [q...]"
    val modeOk = args.length >= 2 && (args(0) match {
      case "time" | "plan" => true
      case "ab" => args.length >= 3
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
      case _ => plan(spark, dir, rest)
    } finally spark.stop()
  }
}
