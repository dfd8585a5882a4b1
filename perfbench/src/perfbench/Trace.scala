package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run recorder. It wraps each call the benchmark makes into a
  * layer in a span, and listens to Spark for job, stage and task spans
  * (with parent links) and for the planning phases of every query
  * execution. Everything stays in memory until [[finish]], which detaches
  * the listeners, writes the spans out and returns the per-layer split.
  *
  * A job belongs to the layer of the first `graft.*` frame (class and
  * method) of its long call site, or of its SQL execution's call site
  * when the job was launched from a Spark thread (broadcasts, subquery
  * pre-execution). A job with no `graft.*` frame at all, such as the
  * `noop` write of a query the benchmark built, belongs to the layer the
  * enclosing call span names. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[CallSpan]
  private val open = mutable.Stack.empty[CallSpan]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  private val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  private val tasks = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val sqlFrames = mutable.HashMap.empty[Long, Seq[String]]
  private var planMs = 0L
  private var queryExecutions = 0

  /** Time `body` as a call into `layer`, nested in any open span. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val s = CallSpan(spans.length, open.headOption.map(_.id).getOrElse(-1),
      name, layer, System.currentTimeMillis())
    spans += s
    open.push(s)
    try body finally { s.end = System.currentTimeMillis(); open.pop() }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val last = e.stageInfos.maxBy(_.stageId)
      val sql = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      jobs(e.jobId) = JobRec(e.jobId, e.time, frames(last.details), sql)
      e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        val i = e.stageInfo
        stageSubmit((i.stageId, i.attemptNumber())) =
          i.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      val info = e.taskInfo
      a.tasks += 1
      if (!info.successful) a.failures += 1
      tasks += ((e.stageId, info.launchTime, info.finishTime))
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { sub =>
        a.schedWaitMs += math.max(0L, info.launchTime - sub)
      }
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.deserMs += m.executorDeserializeTime
        a.inBytes += m.inputMetrics.bytesRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        sqlFrames(s.executionId) = frames(s.details)
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val p = qe.tracker.phases
      planMs += Seq("analysis", "optimization", "planning")
        .flatMap(p.get).map(_.durationMs).sum
      queryExecutions += 1
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Detach, write every span to `out` (one JSON object per line) and
    * return the per-layer metrics of everything recorded. */
  def finish(out: Path, cores: Int): Map[String, Double] = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    synchronized {
      writeSpans(out)
      summary(cores)
    }
  }

  /** Layer a job is charged to: its own frames, then its SQL execution's,
    * then the innermost call span open when it started. */
  private def layerOf(j: JobRec): String =
    (j.frames ++ j.sqlId.flatMap(sqlFrames.get).getOrElse(Nil))
      .find(_.startsWith("graft.")).map(moduleOf)
      .getOrElse(enclosing(j).map(_.layer).getOrElse("other"))

  private def enclosing(j: JobRec): Option[CallSpan] =
    spans.filter(s => s.start <= j.start && j.start <= s.end)
      .sortBy(s => -s.start).headOption

  private def allFrames(j: JobRec): Seq[String] =
    j.frames ++ j.sqlId.flatMap(sqlFrames.get).getOrElse(Nil)

  private def jobAgg(j: JobRec): StageAgg = {
    val a = new StageAgg
    stageJob.collect { case (s, id) if id == j.id => s }
      .flatMap(stages.get).foreach(a.add)
    a
  }

  private def done: Seq[JobRec] = jobs.values.filter(_.end >= 0).toSeq

  /** Wall seconds inside the span intervals `ss` not covered by any job. */
  private def driverOnlyS(ss: Seq[CallSpan]): Double = ss.map { s =>
    val inside = done.filter(j => j.start >= s.start && j.start <= s.end)
      .map(j => (j.start, math.min(j.end, s.end)))
    (s.end - s.start - unionMs(inside)) / 1000.0
  }.sum

  /** The jobs started inside spans `ss`. */
  private def jobsIn(ss: Seq[CallSpan]): Seq[JobRec] =
    done.filter(j => ss.exists(s => j.start >= s.start && j.start <= s.end))

  private def spansNamed(name: String): Seq[CallSpan] =
    spans.filter(_.name == name).toSeq

  private def summary(cores: Int): Map[String, Double] = {
    val all = new StageAgg
    stages.values.foreach(all.add)
    val js = done
    val jobUnionS = unionMs(js.map(j => (j.start, j.end))) / 1000.0
    val top = spans.filter(_.parent < 0).toSeq
    def secs(jobs: Seq[JobRec]) = jobs.map(_.wallMs).sum / 1000.0
    val byLayer = js.groupBy(layerOf)
    val layerMetrics = Layers.flatMap { l =>
      val lj = byLayer.getOrElse(l, Nil)
      Seq(s"$l.job_s" -> secs(lj), s"$l.jobs" -> lj.size.toDouble)
    }
    def flagged(p: Seq[String] => Boolean) = js.filter(j => p(allFrames(j)))
    val ledger = flagged(fs => fs.exists(f =>
      f.startsWith("graft.ops.Ledger$.") ||
        f == "graft.pipeline.FilePipeline$.newFiles"))
    val meta = flagged(_.contains(
      "graft.pipeline.FilePipeline$.ingestMetadataFiles")).diff(ledger)
    val fact = flagged(_.contains(
      "graft.pipeline.FilePipeline$.ingestCsvFiles")).diff(ledger)
    val memo = flagged(_.contains("graft.SessionMemo$.apply"))
    val runs = spansNamed(RunSpan)
    val backfillOut = jobsIn(spansNamed(BackfillSpan))
      .map(jobAgg).map(_.outBytes).sum
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> stageSubmit.size.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.tasks_per_job" -> (if (js.isEmpty) 0.0 else all.tasks.toDouble / js.size),
      "spark.plan_s" -> planMs / 1000.0,
      "spark.query_executions" -> queryExecutions.toDouble,
      "spark.driver_only_s" -> driverOnlyS(top),
      "spark.sched_wait_s" -> all.schedWaitMs / 1000.0,
      "spark.deser_s" -> all.deserMs / 1000.0,
      "spark.executor_run_s" -> all.runMs / 1000.0,
      "spark.executor_cpu_s" -> all.cpuNs / 1e9,
      "spark.gc_s" -> all.gcMs / 1000.0,
      "spark.job_s" -> jobUnionS,
      "spark.slot_util" ->
        (if (jobUnionS <= 0) 0.0 else all.runMs / 1000.0 / (jobUnionS * cores)),
      "spark.input_mb" -> all.inBytes / MB,
      "spark.output_mb" -> all.outBytes / MB,
      "spark.shuffle_read_mb" -> all.shReadBytes / MB,
      "spark.shuffle_write_mb" -> all.shWriteBytes / MB,
      "spark.spill_mb" -> all.spillBytes / MB,
      "spark.task_failures" -> all.failures.toDouble,
      "pipeline.ledger_s" -> secs(ledger),
      "pipeline.meta_s" -> secs(meta),
      "pipeline.fact_s" -> secs(fact),
      "pipeline.driver_only_s" -> driverOnlyS(runs),
      "pipeline.jobs_per_run" ->
        (if (runs.isEmpty) 0.0 else jobsIn(runs).size.toDouble / runs.size),
      "ops.backfill_rewritten_mb" -> backfillOut / MB,
      "memo.builds" -> memo.size.toDouble,
      "memo.build_s" -> secs(memo),
      "query.build_s" -> spansNamed(BuildSpan).map(_.wallS).sum,
      "query.exec_s" -> spansNamed(ExecSpan).map(_.wallS).sum
    ) ++ layerMetrics
  }

  private def writeSpans(out: Path): Unit = {
    Files.createDirectories(out.getParent)
    val sb = new StringBuilder
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "'") + "\""
    spans.foreach { s =>
      sb ++= s"""{"kind":"call","id":${s.id},"parent":${s.parent},"name":${q(s.name)},"layer":${q(s.layer)},"start_ms":${s.start},"end_ms":${s.end}}\n"""
    }
    done.foreach { j =>
      val parent = enclosing(j).map(_.id).getOrElse(-1)
      val site = allFrames(j).find(_.startsWith("graft.")).getOrElse("")
      sb ++= s"""{"kind":"job","id":${j.id},"parent":$parent,"layer":${q(layerOf(j))},"site":${q(site)},"start_ms":${j.start},"end_ms":${j.end}}\n"""
    }
    stages.foreach { case (id, a) =>
      sb ++= s"""{"kind":"stage","id":$id,"parent":${stageJob.getOrElse(id, -1)},"tasks":${a.tasks},"run_ms":${a.runMs},"sched_wait_ms":${a.schedWaitMs}}\n"""
    }
    tasks.foreach { case (stage, start, end) =>
      sb ++= s"""{"kind":"task","parent":$stage,"start_ms":$start,"end_ms":$end}\n"""
    }
    Files.writeString(out, sb.toString)
  }
}

object Trace {
  /** The program's layers that jobs are charged to. */
  val Layers: Seq[String] = Seq("pipeline", "ops", "queries", "ext", "plans", "memo")

  val RunSpan = "FilePipeline.run"
  val BackfillSpan = "FilePipeline.backfillEnrichment"
  val BuildSpan = "query.build"
  val ExecSpan = "query.exec"

  private val MB = 1024.0 * 1024.0

  case class CallSpan(id: Int, parent: Int, name: String, layer: String,
      start: Long) {
    var end: Long = start
    def wallS: Double = (end - start) / 1000.0
  }

  case class JobRec(id: Int, start: Long, frames: Seq[String],
      sqlId: Option[Long]) {
    var end: Long = -1L
    def wallMs: Long = end - start
  }

  final class StageAgg {
    var tasks, failures = 0L
    var runMs, cpuNs, gcMs, deserMs, schedWaitMs = 0L
    var inBytes, outBytes, shReadBytes, shWriteBytes, spillBytes = 0L
    def add(o: StageAgg): Unit = {
      tasks += o.tasks; failures += o.failures; runMs += o.runMs
      cpuNs += o.cpuNs; gcMs += o.gcMs; deserMs += o.deserMs
      schedWaitMs += o.schedWaitMs; inBytes += o.inBytes
      outBytes += o.outBytes; shReadBytes += o.shReadBytes
      shWriteBytes += o.shWriteBytes; spillBytes += o.spillBytes
    }
  }

  /** `class.method` of every frame of a long call site, line dropped. */
  def frames(longForm: String): Seq[String] =
    Option(longForm).toSeq.flatMap(_.split("\n")).map(_.trim)
      .filter(_.nonEmpty).map { f =>
        val call = f.takeWhile(_ != '(')
        call.substring(call.lastIndexOf('/') + 1)
      }

  /** Layer of a `graft.*` frame: its package under `graft`, with the
    * session caches charged to `memo` and the query registry to
    * `queries`. */
  def moduleOf(frame: String): String = {
    val parts = frame.split('.')
    if (parts.length < 3) "other"
    else parts(1) match {
      case "SessionMemo$" | "SessionMemo" | "Tables$" | "Tables" => "memo"
      case "SparkEntry$" | "SparkEntry" => "queries"
      case p => layerOfPackage(p)
    }
  }

  /** Layer of a package under `graft`; the `functions` kernels run inside
    * the `ext` operators' jobs. */
  def layerOfPackage(pkg: String): String = pkg match {
    case "functions" => "ext"
    case p if Layers.contains(p) => p
    case _ => "other"
  }

  /** Sum of the lengths of a set of [start, end] intervals, overlaps
    * counted once. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
