package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same time base as Spark's listener events and progress timestamps.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double,
                      attrs: Map[String, Any] = Map.empty) {
  def ms: Double = end - start
  def contains(t: Double): Boolean = t >= start && t < end
}

/** In-memory span store. Spans are only written out (by the traced run) when
  * the run ends, so recording costs a synchronized append.
  */
final class Spans(val traceId: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 1
  def reserve(): Int = synchronized { val id = next; next += 1; id }
  def put(s: Span): Span = synchronized { buf += s; s }
  def add(name: String, parent: Int, start: Double, end: Double,
          attrs: Map[String, Any] = Map.empty): Span =
    put(Span(reserve(), name, parent, start, end, attrs))
  def all: Seq[Span] = synchronized(buf.toList)
}

final class JobRec(val id: Int, val group: String, val site: String, val start: Double,
                   val stages: Seq[Int]) {
  @volatile var end: Double = Double.NaN
  /** A schema-inference job of the table reader (its call site is Tables). */
  def isTablesInfer: Boolean = site.contains("Tables.scala")
}

final class StageRec(val id: Int) {
  var submit, complete = Double.NaN
  var tasks = 0L
  var runMs, cpuMs, gcMs, deserMs, fetchWaitMs = 0.0
  var shuffleWrite, shuffleRead, spill = 0L
}

/** Job, stage and task aggregates from the scheduler's listener bus. */
final class SchedListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // the result stage is the last one; its name is the job's short call site
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, group, site, e.time.toDouble, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    e.stageInfo.submissionTime.foreach(t => s.submit = t.toDouble)
    e.stageInfo.completionTime.foreach(t => s.complete = t.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuMs += m.executorCpuTime / 1e6
      s.gcMs += m.jvmGCTime
      s.deserMs += m.executorDeserializeTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def jobList: Seq[JobRec] = synchronized(jobs.values.toList)
  def stageOf(id: Int): Option[StageRec] = synchronized(stages.get(id))
}

/** Catalyst phase durations of every executed query, from
  * `QueryExecution.tracker`. Registered through
  * `spark.sql.queryExecutionListeners`, so every session (the fresh
  * per-pass sessions and the operators' child sessions too) reports here.
  */
class CatalystListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    CatalystListener.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    CatalystListener.record(qe)
}

object CatalystListener {
  /** (start ms, analysis ms, optimizer ms, planning ms) */
  final case class Rec(start: Double, analysis: Double, optimizer: Double, planning: Double) {
    def total: Double = analysis + optimizer + planning
  }
  private val recs = mutable.ArrayBuffer.empty[Rec]
  def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val start = if (ph.isEmpty) System.currentTimeMillis().toDouble
                else ph.values.map(_.startTimeMs).min.toDouble
    synchronized { recs += Rec(start, d("analysis"), d("optimization"), d("planning")) }
  }
  def all: Seq[Rec] = synchronized(recs.toList)
}

/** Interval arithmetic over [start, end) pairs in epoch ms. */
object Intervals {
  def union(xs: Seq[(Double, Double)]): Seq[(Double, Double)] =
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  /** Total length of the union of `xs` clipped to [lo, hi). */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    union(xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }).map { case (a, b) => b - a }.sum
}
