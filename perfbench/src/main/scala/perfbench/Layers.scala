package perfbench

import perfbench.Stats.Span

/** Per-layer figures shared by the workloads' traced runs. */
object Layers {

  /** Layers the self-time rollup reports, remainder last. */
  val SelfLayers: Seq[String] =
    Seq("http", "engine", "catalyst", "catalog", "queries", "spark", "core", "unaccounted")

  /** Spark work inside [w0, w1] per op, from the benchmark's listeners. */
  def sparkTotals(ctx: Ctx, w0: Long, w1: Long, ops: Double): Unit = {
    val lis = ctx.listeners.get
    val tasks = lis.tasksWithin(w0, w1)
    val jobs = lis.jobsWithin(w0, w1)
    val per = math.max(ops, 1.0)
    def put(k: String, v: Double): Unit = ctx.layer(s"spark.$k") = v / per
    put("jobs", jobs.size.toDouble)
    put("tasks", tasks.size.toDouble)
    put("job_ms", jobs.map(_.durNs).sum / 1e6)
    put("executor_run_ms", tasks.map(_.runMs).sum.toDouble)
    put("executor_cpu_ms", tasks.map(_.cpuNs).sum / 1e6)
    put("gc_ms", tasks.map(_.gcMs).sum.toDouble)
    put("shuffle_read_bytes", tasks.map(_.shuffleRead).sum.toDouble)
    put("shuffle_write_bytes", tasks.map(_.shuffleWrite).sum.toDouble)
    put("spill_bytes", tasks.map(_.spill).sum.toDouble)
  }

  /** Mean time per op with no Spark job running. */
  def driverGapMs(roots: Seq[Span], lis: Listeners): Double =
    if (roots.isEmpty) 0.0
    else roots.map(r => Stats.uncoveredNs(r.startNs, r.endNs,
      lis.jobsWithin(r.startNs, r.endNs).map(j => (j.startNs, j.endNs)))).sum / 1e6 / roots.size

  def driverGap(ctx: Ctx, roots: Seq[Span], lis: Listeners): Unit =
    ctx.layer("spark.driver_gap_ms") = driverGapMs(roots, lis)

  /** Mean per-op self time of each layer under `roots`. The layer times
    * and the remainder add up to each root's wall time; the largest
    * mismatch is recorded so a broken rollup shows.
    */
  def selfTimes(ctx: Ctx, roots: Seq[Span], spans: Seq[Span]): Unit = {
    val byOp = spans.groupBy(_.op)
    val per = roots.map(r => r -> Stats.selfTimeNs(r, byOp.getOrElse(r.op, Nil)))
    SelfLayers.foreach { l =>
      ctx.layer(s"self.${l}_ms") =
        per.map(_._2.getOrElse(l, 0L)).sum / 1e6 / math.max(1, roots.size)
    }
    val mismatch = per.map { case (r, m) => math.abs(m.values.sum - r.durNs) }.maxOption.getOrElse(0L)
    ctx.extra("self_time_max_mismatch_ns") = mismatch.toString
    ctx.extra("self_time_ops") = roots.size.toString
  }
}
