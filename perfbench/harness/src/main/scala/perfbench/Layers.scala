package perfbench

/** The per-layer metrics of a traced run, all per timed op unless the unit
  * says otherwise. The list is the `per_layer` list of BENCHMARK.json;
  * a layer a workload does not exercise reports 0. */
object Layers {
  private val groupMetrics: Seq[(String, String)] = QueryGroups.all.flatMap(g =>
    Seq(s"$g.build_ms" -> "ms", s"$g.action_ms" -> "ms", s"$g.jobs" -> "count"))

  val metrics: Seq[(String, String)] = Seq(
    "harness.warm_s" -> "s",
    "harness.hygiene_ms" -> "ms",
    "harness.failed_frac" -> "frac",
    "harness.unattributed_frac" -> "frac",
    "harness.traced_op_gmean_ms" -> "ms",
    "core.tables_load_ms" -> "ms",
    "lang.parse_ms" -> "ms",
    "lang.typecheck_ms" -> "ms",
    "lang.normalize_ms" -> "ms",
    "lang.optimize_ms" -> "ms",
    "lang.interp_ms" -> "ms",
    "lang.result_ms" -> "ms",
    "lang.compile_ms" -> "ms",
    "lang.jobs" -> "count",
  ) ++ groupMetrics ++ Seq(
    "streaming.batches" -> "count",
    "streaming.batch_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "catalyst.plan_nodes" -> "count",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.task_run_s" -> "s",
    "exec.task_cpu_s" -> "s",
    "exec.task_wait_s" -> "s",
    "exec.gc_s" -> "s",
    "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB",
    "exec.input_rows" -> "count",
    "exec.rows_read_per_row_out" -> "ratio",
    "exec.cached_mb_peak" -> "MB",
    "exec.cached_rdds_end" -> "count",
    "server.client_ms" -> "ms",
    "server.engine_ms" -> "ms",
    "server.overhead_ms" -> "ms",
    "server.response_kb" -> "kB",
    "server.status_5xx" -> "count",
    "server.repeat_frac" -> "frac",
  )

  /** Span self times per op over the timed window [t0n, t1n] (nanoTime),
    * keyed `<span name>_ms`, plus the unattributed share of op wall. */
  def spanMetrics(t0n: Long, t1n: Long, ops: Int): Map[String, Double] = {
    val ss = Trace.all.filter(s => s.start >= t0n && s.start <= t1n)
    val self = Trace.selfNs(ss)
    val n = math.max(ops, 1).toDouble
    val roots = ss.filter(_.parent < 0)
    val byName = ss.filter(_.parent >= 0).groupMapReduce(_.name)(s => self(s.id))(_ + _)
    val wall = roots.map(_.durNs).sum.toDouble
    byName.map { case (k, v) => s"${k}_ms" -> v / 1e6 / n } ++ Map(
      "harness.unattributed_frac" ->
        (if (wall > 0) roots.map(r => self(r.id)).sum / wall else 0.0))
  }

  def report(probes: Probes, ops: Seq[OpResult], w0: Long, w1: Long,
      t0n: Long, t1n: Long, extra: Map[String, Double],
      tracePath: java.nio.file.Path): Map[String, (String, Double)] = {
    Trace.writeJsonl(tracePath)
    val n = ops.size
    val engine = probes.summary(w0, w1, n)
    val all = engine ++ spanMetrics(t0n, t1n, n) ++ extra
    val rowsOut = all.getOrElse("harness.rows_out", 0.0)
    val client = all.getOrElse("server.client_ms", 0.0)
    val derived = Map(
      "exec.rows_read_per_row_out" ->
        (if (rowsOut > 0) all.getOrElse("exec.input_rows", 0.0) / rowsOut else 0.0),
      "server.engine_ms" -> (if (client > 0) all.getOrElse("engine.job_ms", 0.0) else 0.0),
      "server.overhead_ms" ->
        (if (client > 0) client - all.getOrElse("engine.job_ms", 0.0) else 0.0))
    val merged = all ++ derived
    metrics.map { case (k, u) => k -> (u, merged.getOrElse(k, 0.0)) }.toMap
  }
}
