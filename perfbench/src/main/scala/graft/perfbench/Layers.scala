package graft.perfbench

/** Turns one op's trace events into per-layer numbers.
  *
  * Self times partition the op's wall time: every instant goes to the
  * first layer active at it, in the order exec (a Spark job running) >
  * plan (a query's analysis / optimization / planning phase) > build
  * (a client-side graft call that builds a result, e.g.
  * `GraphQl.execute`) > stream (a streaming trigger outside its jobs:
  * offsets, commit log, planning) > collect (the client's result step,
  * `collect` of the JSON rows, outside its plan phases and jobs: stage
  * scheduling between jobs, broadcast builds, row decoding). Spark does
  * not place codegen compile time on the timeline; it happens on the
  * driver during an action, so it is taken out of the collect self time
  * (inside a streaming trigger it stays in stream). `unattributed_ms` is
  * the time no traced interval covers. `driver.gap_ms` is the op's wall
  * time outside every Spark job.
  */
object Layers {
  def account(t: Trace, op: Int, s: Double, e: Double, search: Boolean, cgClasses: Long, cgMs: Double,
              gcMs: Double): Map[String, Double] = {
    val wall = e - s
    val jobs = t.take(t.jobs, (j: Trace.Job) => j.end, s, e)
    val stages = t.take(t.stages, (x: Trace.Stage) => x.end, s, e)
    val tasks = t.take(t.tasks, (x: Trace.Task) => x.end, s, e)
    val qes = t.take(t.qes, (x: Trace.Qe) => x.end, s, e)
    val prog = t.take(t.progress, (x: Trace.Progress) => x.end, s, e)
    val spans = t.spans.reverseIterator.takeWhile(_.op == op).toSeq
    val top = spans.filter(sp => sp.parent < 0 || t.spans(sp.parent).op != op)
    val (collects, builds) = top.partition(_.name == "Client.collect")
    val phase = (k: String) => qes.flatMap(_.phases.get(k))
    val self = Trace.selfTimes(Seq(
      "exec" -> jobs.map(j => (j.start, j.end)),
      "plan" -> qes.flatMap(_.phases.values),
      "build" -> builds.map(sp => (sp.start, sp.end)),
      "stream" -> prog.map(p => (p.start, p.start + p.durations.getOrElse("triggerExecution", 0.0))),
      "collect" -> collects.map(sp => (sp.start, sp.end))),
      s, e)
    val codegen = math.min(cgMs, self("collect"))
    val dur = (ps: Seq[(Double, Double)]) => ps.map { case (a, b) => b - a }.sum
    def progSum(ks: String*) = prog.map(p => ks.map(p.durations.getOrElse(_, 0.0)).sum).sum
    val buildSpans = spans.filter(_.name == "SparkEntry.build")
    val nTasks = tasks.size.toDouble
    val byName = spans.groupBy(_.name).map { case (n, ss) =>
      s"$n.ms" -> ss.map(sp => sp.end - sp.start).sum }
    byName ++ Map(
      "wall_ms" -> wall,
      "search" -> (if (search) 1.0 else 0.0),
      "exec.self_ms" -> self("exec"), "plan.self_ms" -> self("plan"),
      "build.self_ms" -> self("build"), "stream.self_ms" -> self("stream"),
      "collect.self_ms" -> (self("collect") - codegen),
      "codegen.self_ms" -> codegen,
      "unattributed_ms" -> math.max(0.0, wall - self.values.sum),
      "driver.gap_ms" -> (wall - self("exec")),
      "plan.analysis_ms" -> dur(phase("analysis")),
      "plan.optimization_ms" -> dur(phase("optimization")),
      "plan.planning_ms" -> dur(phase("planning")),
      "codegen.compile_ms" -> cgMs, "codegen.classes" -> cgClasses.toDouble,
      "SparkEntry.build_jobs" -> jobs.count(j => buildSpans.exists(b =>
        j.start >= b.start - 1 && j.end <= b.end + 1)).toDouble,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> stages.map(_.tasks).sum.toDouble,
      "exec.run_ms" -> stages.map(_.runMs).sum,
      "exec.cpu_ms" -> stages.map(_.cpuMs).sum,
      "exec.sched_delay_ms" -> tasks.map(_.schedDelayMs).sum,
      "exec.gc_ms" -> stages.map(_.gcMs).sum,
      "exec.shuffle_read_bytes" -> stages.map(_.shRead).sum,
      "exec.shuffle_write_bytes" -> stages.map(_.shWrite).sum,
      "exec.spill_bytes" -> stages.map(_.spill).sum,
      "exec.task_fail_ratio" -> (if (nTasks == 0) 0.0 else tasks.count(_.failed) / nTasks),
      "Tables.rows_read" -> stages.map(_.rowsIn).sum,
      "Tables.bytes_read" -> stages.map(_.bytesIn).sum,
      "StreamOps.trigger_ms" -> progSum("triggerExecution"),
      "StreamOps.addBatch_ms" -> progSum("addBatch"),
      "StreamOps.log_commit_ms" -> progSum("walCommit", "commitOffsets"),
      "StreamOps.plan_ms" -> progSum("queryPlanning", "getBatch", "latestOffset"),
      "jvm.gc_pause_ms" -> gcMs)
  }

  /** Set-up layers: the median over repetitions of each span total. */
  def setup(spans: Seq[Span], sessionMs: Seq[Double]): Map[String, Double] = {
    def median(xs: Seq[Double]) =
      if (xs.isEmpty) 0.0 else { val v = xs.sorted; v(v.size / 2) }
    val reps = math.max(1, sessionMs.size)
    spans.filter(_.parent < 0).groupBy(_.name).map { case (n, ss) =>
      s"$n.ms" -> ss.map(sp => sp.end - sp.start).sum / reps
    } + ("Sessions.start_ms" -> median(sessionMs))
  }
}
