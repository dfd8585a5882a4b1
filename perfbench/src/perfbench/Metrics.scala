package perfbench

/** Every metric the result line can carry, with its unit. */
object Metrics {

  /** End-to-end metrics, reported untraced by every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "total_s" -> "s", "op_p50_s" -> "s",
    "heap_live_mb" -> "MB")

  /** Per-layer metrics, reported by every workload's traced run (0 where
    * a workload does not reach the layer). */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.tasks_per_job" -> "count",
    "spark.query_executions" -> "count", "spark.plan_s" -> "s",
    "spark.driver_only_s" -> "s", "spark.sched_wait_s" -> "s",
    "spark.deser_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.job_s" -> "s", "spark.slot_util" -> "ratio",
    "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.task_failures" -> "count",
    "spark.block_mem_mb" -> "MB",
    "query.build_s" -> "s", "query.exec_s" -> "s") ++
    Trace.Layers.flatMap(l => Seq(s"$l.job_s" -> "s", s"$l.jobs" -> "count")) ++
    Seq(
      "pipeline.ledger_s" -> "s", "pipeline.meta_s" -> "s",
      "pipeline.fact_s" -> "s", "pipeline.driver_only_s" -> "s",
      "pipeline.jobs_per_run" -> "count",
      "pipeline.files_in" -> "count", "pipeline.files_ingested" -> "count",
      "pipeline.files_quarantined" -> "count",
      "pipeline.files_archived" -> "count", "pipeline.fact_rows" -> "count",
      "pipeline.dim_rows" -> "count", "warehouse.files" -> "count",
      "warehouse.storage_ratio" -> "ratio", "ops.backfill_rows" -> "count",
      "ops.backfill_rewritten_mb" -> "MB", "ops.backfill_s" -> "s",
      "memo.builds" -> "count", "memo.build_s" -> "s",
      "trace.total_s" -> "s", "op_fail_ratio" -> "ratio",
      "host.steal_pre_pct" -> "%", "host.steal_post_pct" -> "%")
}
