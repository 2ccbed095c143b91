package graftbench

/** Per-layer numbers shared by every workload, computed from the traced
  * run's operations, jobs and stages. Counts and bytes are means per
  * operation; times are medians per operation. A metric that a
  * workload never exercises reads 0. */
object Layers {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def common(t: Tracer, cores: Int): Map[String, Double] = {
    val ops = t.ops.toSeq
    val perOp = ops.map { op =>
      val js = t.jobsOf(op)
      val ss = t.stagesOf(js)
      def layer(l: String) = js.filter(_.layer == l)
      def jobS(j: Seq[JobRec]) = j.map(x => (x.endMs - x.startMs) / 1e3).sum
      Map(
        "exec.jobs" -> js.size.toDouble,
        "exec.stages" -> ss.size.toDouble,
        "exec.tasks" -> ss.map(_.tasks).sum.toDouble,
        "exec.task_s" -> ss.map(_.runMs).sum / 1e3,
        "exec.shuffle_read_bytes" -> ss.map(_.shuffleRead).sum.toDouble,
        "exec.shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
        "exec.spill_bytes" -> ss.map(_.spill).sum.toDouble,
        "scan.input_bytes" -> ss.map(_.input).sum.toDouble,
        "nql.build_jobs" -> js.count(_.group.endsWith("|nql.build")).toDouble,
        "traverse.jobs" -> layer("traverse").size.toDouble,
        "traverse.job_s" -> jobS(layer("traverse")),
        "ckpt.jobs" -> layer("ckpt").size.toDouble,
        "ckpt.job_s" -> jobS(layer("ckpt")),
        "catalyst.executions" -> op.sqlExecutions.toDouble)
    }
    val means = if (perOp.isEmpty) Map.empty[String, Double]
      else perOp.head.keys.map(k => k -> mean(perOp.map(_(k)))).toMap
    val wallS = ops.map(o => (o.endNs - o.startNs) / 1e9).sum
    val taskS = perOp.map(_("exec.task_s")).sum
    def phase(p: String) = median(ops.flatMap(_.phaseMs(p)))
    def cat(p: String) = median(ops.filter(_.catalyst.nonEmpty)
      .map(_.catalyst.getOrElse(p, 0.0)))
    def plan(p: String) = mean(ops.filter(_.plan.nonEmpty).map(_.plan(p)))
    means ++ Map(
      "nql.parse_ms" -> phase("nql.parse"),
      "nql.build_ms" -> phase("nql.build"),
      "exec.action_ms" -> phase("exec.action"),
      "exec.parallelism" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
      "catalyst.analysis_ms" -> cat("analysis"),
      "catalyst.optimization_ms" -> cat("optimization"),
      "catalyst.planning_ms" -> cat("planning"),
      "plan.exchanges" -> plan("plan.exchanges"),
      "plan.smj" -> plan("plan.smj"),
      "plan.bhj" -> plan("plan.bhj"),
      "plan.nodes" -> plan("plan.nodes"),
      "storage.mem_peak_bytes" ->
        (if (ops.isEmpty) 0.0 else ops.map(_.storageMemBytes).max.toDouble),
      "storage.blocks_live_after_op" -> median(ops.map(_.blocksLive.toDouble)))
  }

  /** Block-manager memory and live blocks after each operation, in
    * order — the per-op drift record of the traced run. */
  def storageSeries(t: Tracer): Seq[Map[String, Any]] = t.ops.toSeq.map { op =>
    Map("i" -> op.index, "name" -> op.name, "mem_bytes" -> op.storageMemBytes,
      "blocks" -> op.blocksLive)
  }
}
