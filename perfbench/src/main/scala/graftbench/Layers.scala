package graftbench

/** Per-layer aggregates of the traced run, computed from the recorded spans
  * and the listener records once the run has ended.
  */
object Layers {
  val Cores = 4

  /** Scheduler, executor and shuffle aggregates of the jobs that started in
    * [lo, hi).
    */
  def jobWindow(sched: SchedListener, lo: Double, hi: Double): Map[String, Double] = {
    val jobs = sched.jobList.filter(j => j.start >= lo && j.start < hi)
    val stages = jobs.flatMap(_.stages).distinct.flatMap(sched.stageOf)
    def sum(f: StageRec => Double) = stages.map(f).sum
    val ivs = jobs.map(j => (j.start, if (j.end.isNaN) hi else j.end))
    val infer = jobs.filter(_.isTablesInfer)
    Map(
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> stages.count(_.tasks > 0).toDouble,
      "sched.tasks" -> sum(_.tasks.toDouble),
      "sched.driver_only_ms" -> ((hi - lo) - Intervals.covered(ivs, lo, hi)),
      "sched.util" -> (if (hi > lo) sum(_.runMs) / ((hi - lo) * Cores) else 0.0),
      "exec.run_ms" -> sum(_.runMs),
      "exec.cpu_ms" -> sum(_.cpuMs),
      "exec.gc_ms" -> sum(_.gcMs),
      "exec.deser_ms" -> sum(_.deserMs),
      "shuffle.write_bytes" -> sum(_.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> sum(_.shuffleRead.toDouble),
      "shuffle.spill_bytes" -> sum(_.spill.toDouble),
      "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs),
      "tables.infer_jobs" -> infer.size.toDouble,
      "tables.infer_ms" -> infer.map(j => (if (j.end.isNaN) hi else j.end) - j.start).sum,
    )
  }

  private def jobIntervals(sched: SchedListener, p: JobRec => Boolean): Seq[(Double, Double)] =
    sched.jobList.filter(p).map(j => (j.start, if (j.end.isNaN) j.start else j.end))

  /** Layer metrics of one batch pass plus the self-time attribution of its
    * wall time. Attribution (sums to the pass wall time):
    *  - tables:   schema-inference jobs of `Tables.read` while building;
    *  - entry:    the rest of DataFrame building (builder code, eager jobs);
    *  - catalyst: analysis + optimizer + planning of the forcing action;
    *  - exec:     executor-busy share of the job wall time while forcing;
    *  - sched:    the rest of forcing (job wall not covered by executor
    *              work, and driver time between jobs);
    *  - cleanup:  `Cleanup.drain`;
    *  - residue:  pass time outside every query span (harness code).
    */
  def batchPass(spans: Seq[Span], sched: SchedListener, pass: Span): Map[String, Double] = {
    val queries = spans.filter(s => s.parent == pass.id)
    val parts = spans.filter(s => queries.exists(_.id == s.parent)).groupBy(_.name)
    def part(n: String) = parts.getOrElse(n, Nil)
    val allJobs = jobIntervals(sched, _ => true)
    val inferJobs = jobIntervals(sched, _.isTablesInfer)
    val builds = part("build"); val forces = part("force"); val drains = part("drain")
    val buildMs = builds.map(_.ms).sum
    val forceMs = forces.map(_.ms).sum
    val drainMs = drains.map(_.ms).sum
    val tablesMs = builds.map(b => Intervals.covered(inferJobs, b.start, b.end)).sum
    val cat = CatalystListener.all.filter(r => pass.contains(r.start))
    var catalystMs, execMs, schedMs = 0.0
    forces.foreach { f =>
      val jobsWall = Intervals.covered(allJobs, f.start, f.end)
      val c = math.min(cat.filter(r => f.contains(r.start)).map(_.total).sum, f.ms - jobsWall)
      val run = jobWindow(sched, f.start, f.end)("exec.run_ms")
      val e = math.min(jobsWall, run / Cores)
      catalystMs += math.max(c, 0.0); execMs += e
      schedMs += f.ms - math.max(c, 0.0) - e
    }
    val buildJobs = builds.map(b => sched.jobList.count(j => b.contains(j.start))).sum
    jobWindow(sched, pass.start, pass.end) ++ Map(
      "entry.build_ms" -> buildMs,
      "entry.build_jobs" -> buildJobs.toDouble,
      "entry.force_ms" -> forceMs,
      "catalyst.analysis_ms" -> cat.map(_.analysis).sum,
      "catalyst.optimizer_ms" -> cat.map(_.optimizer).sum,
      "catalyst.planning_ms" -> cat.map(_.planning).sum,
      "cleanup.drain_ms" -> drainMs,
      "attr.tables_ms" -> tablesMs,
      "attr.entry_ms" -> (buildMs - tablesMs),
      "attr.catalyst_ms" -> catalystMs,
      "attr.sched_ms" -> schedMs,
      "attr.exec_ms" -> execMs,
      "attr.cleanup_ms" -> drainMs,
      "attr.residue_ms" -> (pass.ms - queries.map(_.ms).sum),
    )
  }
}
