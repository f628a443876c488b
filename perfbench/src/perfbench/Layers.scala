package perfbench

/** The per-layer metric names every traced run reports, and the
  * scheduler / planner / codegen figures shared by all workloads.
  * A metric a workload does not exercise (the queue source in a batch
  * workload, say) is reported as 0. */
object Layers {
  val Modules: Seq[String] = Seq("Relational", "EventOps", "TemporalJoins")

  val Names: Seq[String] = Seq(
    "sources.latest_offset_ms", "sources.get_batch_ms", "sources.spool_files",
    "sources.rows_per_trigger", "sources.backlog_max", "sources.backlog_end",
    "sources.publish_ms", "sources.gen_lag_ms",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.query_planning_ms",
    "streaming.wal_commit_ms", "streaming.jobs_per_trigger", "streaming.stages_per_trigger",
    "streaming.trigger_tail_ratio", "streaming.bottleneck_share",
    "streaming.state_rows", "streaming.state_memory_bytes", "streaming.state_commit_ms",
    "streaming.rows_dropped_by_watermark", "streaming.sink_rows_in",
    "streaming.sink_rows_written", "streaming.sink_useful_ratio", "streaming.files_written",
    "planning.analysis_ms", "planning.optimization_ms", "planning.physical_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.runtime_exchanges",
    "exec.reused_exchanges", "exec.stage_wall_ms", "exec.scheduler_delay_ms",
    "exec.ms_per_exchange", "exec.executor_run_ms", "exec.executor_cpu_ms",
    "exec.cpu_busy_share", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.shuffle_records", "exec.spill_bytes", "exec.input_bytes", "exec.gc_ms",
    "codegen.compile_ms", "codegen.max_method_bytes", "codegen.fallbacks") ++
    Modules.flatMap(m => Seq(s"operators.$m.wall_s", s"operators.$m.cpu_ms")) ++
    Seq("trace.overhead_share")

  /** Every name in [[Names]], zero where the workload has no value. */
  def complete(m: Map[String, Double]): Map[String, Double] =
    Names.map(n => n -> m.get(n).filter(v => !v.isNaN && !v.isInfinite).getOrElse(0.0)).toMap

  /** Scheduler, planner and codegen figures for a set of jobs, per
    * measured unit (`units` = batch passes or micro-batches). */
  def exec(tr: Trace, jobs: Seq[JobRec], units: Double, wallMs: Double,
           nproc: Int): Map[String, Double] = {
    val st = tr.stagesOf(jobs)
    val ex = tr.execsOf(jobs)
    def per(x: Double) = x / units
    val runMs = st.map(_.runMs).sum.toDouble
    Map(
      "exec.jobs" -> per(jobs.size),
      "exec.stages" -> per(st.size),
      "exec.tasks" -> per(st.map(_.tasks).sum),
      "exec.runtime_exchanges" -> per(ex.map(_.runtimeExchanges).sum),
      "exec.reused_exchanges" -> per(ex.map(_.reusedExchanges).sum),
      "exec.stage_wall_ms" -> per(st.map(s => s.complete - s.submit).sum),
      "exec.scheduler_delay_ms" -> per(st.map(_.schedDelayMs).sum),
      "exec.executor_run_ms" -> per(runMs),
      "exec.executor_cpu_ms" -> per(st.map(_.cpuNs).sum / 1e6),
      "exec.cpu_busy_share" -> (if (wallMs > 0) runMs / (wallMs * nproc) else 0.0),
      "exec.shuffle_write_bytes" -> per(st.map(_.shuffleWrite).sum),
      "exec.shuffle_read_bytes" -> per(st.map(_.shuffleRead).sum),
      "exec.shuffle_records" -> per(st.map(_.shuffleRecords).sum),
      "exec.spill_bytes" -> per(st.map(_.spill).sum),
      "exec.input_bytes" -> per(st.map(_.input).sum),
      "exec.gc_ms" -> per(st.map(_.gcMs).sum),
      "planning.analysis_ms" -> per(ex.map(_.analysisMs).sum),
      "planning.optimization_ms" -> per(ex.map(_.optimizationMs).sum),
      "planning.physical_ms" -> per(ex.map(_.planningMs).sum),
      "codegen.compile_ms" -> per(tr.compileMicros.sum() / 1000.0),
      "codegen.fallbacks" -> tr.fallbacks.size.toDouble,
      "codegen.max_method_bytes" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE
          .getSnapshot.getMax.toDouble)
  }
}

/** Expected result schemas (Spark catalog strings) per query, kept next
  * to the benchmark so a changed output shape counts as a wrong result. */
object Schemas {
  def load(path: String): Map[String, String] = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.JsonMethods.parse(new java.io.File(path)).extract[Map[String, String]]
  }
}
