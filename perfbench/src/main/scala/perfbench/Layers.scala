package perfbench

/** Every per-layer metric, with its unit, in report order. A traced run
  * reports all of them on every workload. */
object Layers {
  val scanQueries: Seq[String] = Seq(
    "q03_top_revenue_orders", "q10_window_rank_top_customers",
    "q54_asof_join", "q61_cosine_topk_fused",
    "q104_neardup_components")

  /** `scan.<id>_ms` name of a scan query: its `qNN` prefix. */
  def scanMetric(q: String): String = s"scan.${q.takeWhile(_ != '_')}_ms"

  /** Median latency of each op kind's completed ops, as (metric, ms). */
  def kindMedians(ops: Seq[OpRec], kinds: Seq[(String, String)]): Seq[(String, Double, String)] =
    kinds.flatMap { case (kind, metric) =>
      val l = ops.filter(o => o.kind == kind && o.ok).map(_.latencyMs)
      if (l.isEmpty) None else Some((metric, Stats.median(l), "ms"))
    }

  val dmlKinds: Seq[String] = Seq(
    "sql.copy", "sql.insert", "sql.update", "sql.delete", "sql.delete_vec", "sql.merge",
    "sql.select_tt", "ann.maintain", "ann.query")

  val all: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.single_task_stage_share" -> "ratio",
    "spark.jobs_unattributed" -> "count",
    "spark.job_busy_ms_per_op" -> "ms",
    "spark.task_run_ms_per_op" -> "ms",
    "spark.core_use" -> "ratio",
    "spark.shuffle_write_bytes_per_op" -> "bytes",
    "spark.input_bytes_per_op" -> "bytes",
    "spark.output_bytes_per_op" -> "bytes",
    "catalyst.executions_per_op" -> "count",
    "catalyst.analysis_ms_per_op" -> "ms",
    "catalyst.optimization_ms_per_op" -> "ms",
    "catalyst.planning_ms_per_op" -> "ms",
    "driver.residual_ms_per_op" -> "ms",
    "op.wall_ms_p50" -> "ms",
    "jvm.gc_ms_per_op" -> "ms",
    "setup.cold_s" -> "s") ++
    dmlKinds.map(k => s"${k}_ms" -> "ms") ++
    Seq(
      "manifest.versions" -> "count",
      "manifest.files_per_version" -> "count",
      "manifest.meta_bytes_per_version" -> "bytes",
      "manifest.dv_files" -> "count") ++
    scanQueries.map(q => scanMetric(q) -> "ms") ++
    Seq(
      "stream.trigger_ms" -> "ms",
      "stream.get_offset_ms" -> "ms",
      "stream.get_batch_ms" -> "ms",
      "stream.query_planning_ms" -> "ms",
      "stream.add_batch_ms" -> "ms",
      "stream.wal_commit_ms" -> "ms",
      "stream.commit_offsets_ms" -> "ms",
      "stream.versions_per_batch" -> "count",
      "stream.no_data_batch_share" -> "ratio",
      "stream.state_rows" -> "count",
      "stream.state_mem_bytes" -> "bytes",
      "stream.backlog_versions_max" -> "count",
      "gen.append_ms" -> "ms",
      "gen.late_ms_max" -> "ms")
}
