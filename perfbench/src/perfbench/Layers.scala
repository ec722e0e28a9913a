package perfbench

/** Per-layer numbers of a traced run, computed from the spans of the
  * measured operations (`ops`) and the Spark jobs that started inside
  * them. Calibration samples (`pauses`) inside an operation are not part
  * of it. Sums are divided by `per` (the number of passes a query run
  * made; 1 for the ETL run).
  */
object Layers {

  /** Layers whose job time is reported as `<layer>.job_s`. */
  val jobLayers: Seq[String] =
    Seq("queries", "operators", "functions", "fetch", "storage", "upsert", "audit", "runner", "sink")

  /** Spans whose self time is reported as `self.<name>_s`. */
  val selfSpans: Seq[String] =
    Seq("build", "exec", "customer", "call", "staffgroup", "report")

  /** Every per-layer metric with its unit, in report order. A traced run
    * reports all of them; one that does not apply to the workload is 0.
    */
  val all: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.exec_s" -> "s", "queries.job_s" -> "s",
    "queries.relational_s" -> "s", "queries.operators_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.executions" -> "count",
    "driver.gap_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.job_s" -> "s", "exec.task_s" -> "s",
    "exec.core_util" -> "ratio", "exec.job_overlap" -> "ratio", "exec.gc_s" -> "s",
    "exec.shuffle_read_mb" -> "MB", "exec.shuffle_write_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.input_mb" -> "MB", "exec.output_mb" -> "MB",
    "operators.job_s" -> "s", "functions.job_s" -> "s", "sink.job_s" -> "s",
    "fetch.job_s" -> "s", "fetch.pages" -> "count", "fetch.docs" -> "count",
    "fetch.refusals" -> "count", "fetch.reread_ratio" -> "ratio", "fetch.source_s" -> "s",
    "storage.job_s" -> "s", "storage.files" -> "count", "storage.mb" -> "MB",
    "storage.files_per_cycle" -> "count", "storage.bytes_per_doc" -> "B",
    "upsert.job_s" -> "s", "upsert.rows_written" -> "count", "upsert.write_amp" -> "ratio",
    "incremental.warm_s" -> "s", "audit.job_s" -> "s", "audit.rows" -> "count",
    "runner.job_s" -> "s", "runner.customer_s" -> "s", "runner.call_s" -> "s",
    "runner.staffgroup_s" -> "s", "runner.report_s" -> "s", "runner.report_slope_s" -> "s",
    "etl.cycles" -> "count", "unattributed.job_s" -> "s",
    "self.build_s" -> "s", "self.exec_s" -> "s", "self.customer_s" -> "s",
    "self.call_s" -> "s", "self.staffgroup_s" -> "s", "self.report_s" -> "s",
    "trace.coverage" -> "ratio", "trace.overhead" -> "ratio")

  /** The per-layer metrics of `out` in report order, zero where absent. */
  def complete(out: Outcome): Seq[(String, (Double, String))] = {
    val unknown = out.perLayer.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from Layers.all: $unknown")
    all.map { case (n, u) => n -> out.perLayer.getOrElse(n, (0.0, u)) }
  }

  def inside(tr: Tracer, ops: Seq[Span]): Seq[JobRec] =
    tr.jobs.values.filter(j => !j.end.isNaN &&
      ops.exists(o => j.start >= o.start && j.start < o.end)).toSeq

  def compute(tr: Tracer, ops: Seq[Span], pauses: Seq[(Double, Double)], cores: Int,
      per: Double, out: Outcome): Unit = {
    def put(name: String, v: Double, unit: String) = out.perLayer(name) = (v, unit)
    val jobs = inside(tr, ops)
    def union(js: Seq[JobRec]) = Stats.unionLength(js.map(j => (j.start, j.end))) / 1000.0
    val jobS = union(jobs)
    val taskS = jobs.map(_.runMs).sum / 1000.0
    val mb = 1024.0 * 1024.0
    put("exec.jobs", jobs.size / per, "count")
    put("exec.stages", jobs.map(_.stages).sum / per, "count")
    put("exec.tasks", jobs.map(_.tasks).sum / per, "count")
    put("exec.job_s", jobS / per, "s")
    put("exec.task_s", taskS / per, "s")
    put("exec.core_util", if (jobS > 0) taskS / (jobS * cores) else 0.0, "ratio")
    put("exec.job_overlap",
      if (jobS > 0) jobs.map(j => j.end - j.start).sum / 1000.0 / jobS else 0.0, "ratio")
    put("exec.gc_s", jobs.map(_.gcMs).sum / 1000.0 / per, "s")
    put("exec.shuffle_read_mb", jobs.map(_.shuffleRead).sum / mb / per, "MB")
    put("exec.shuffle_write_mb", jobs.map(_.shuffleWrite).sum / mb / per, "MB")
    put("exec.spill_mb", jobs.map(_.spill).sum / mb / per, "MB")
    put("exec.input_mb", jobs.map(_.input).sum / mb / per, "MB")
    put("exec.output_mb", jobs.map(_.output).sum / mb / per, "MB")
    val gaps = ops.map { o =>
      val js = tr.jobIntervals(j => j.start >= o.start && j.start < o.end)
      o.length - Stats.unionLength(Stats.clip(js ++ pauses, o.start, o.end))
    }
    put("driver.gap_s", gaps.sum / 1000.0 / per, "s")
    val plans = tr.plans.synchronized(tr.plans.toList)
      .filter(p => ops.exists(o => p.time >= o.start && p.time < o.end))
    put("catalyst.analysis_s", plans.map(_.analysisMs).sum / 1000.0 / per, "s")
    put("catalyst.optimization_s", plans.map(_.optimizationMs).sum / 1000.0 / per, "s")
    put("catalyst.planning_s", plans.map(_.planningMs).sum / 1000.0 / per, "s")
    put("catalyst.executions", plans.size / per, "count")
    jobLayers.foreach(l => put(s"$l.job_s", union(jobs.filter(_.layer == l)) / per, "s"))
    put("unattributed.job_s",
      union(jobs.filter(j => !jobLayers.contains(j.layer))) / per, "s")
    val opIds = ops.map(_.id).toSet
    def descendants(name: String) = tr.spans.filter(s => s.name == name && {
      var p = s.parent
      while (p >= 0 && !opIds.contains(p)) p = tr.spans(p).parent
      p >= 0
    })
    selfSpans.foreach { n =>
      put(s"self.${n}_s", descendants(n).map(tr.selfTime).sum / 1000.0 / per, "s")
    }
    // Share of each operation's wall time covered by its child spans and
    // the jobs started inside it; the run reports the worst operation.
    val coverage = ops.map { o =>
      val kids = tr.spans.filter(_.parent == o.id).map(k => (k.start, k.end)).toSeq
      val js = tr.jobIntervals(j => j.start >= o.start && j.start < o.end)
      val busy = o.length - Stats.unionLength(Stats.clip(pauses, o.start, o.end))
      if (busy <= 0) 1.0
      else Stats.unionLength(Stats.clip(kids ++ js, o.start, o.end)) / busy
    }
    put("trace.coverage", if (coverage.isEmpty) 0.0 else coverage.min, "ratio")
    val byLayer = jobs.groupBy(_.layer).map { case (l, js) => l -> js.size }
    out.detail("jobs_by_layer") = byLayer
    out.detail("unattributed_call_sites") =
      jobs.filter(j => !jobLayers.contains(j.layer)).map(_.cls).distinct.take(20)
  }
}
