package graftbench

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, data: String, work: String, seconds: Int, trace: Boolean,
                      seed: Long, spawnMs: Double, corrupt: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), m.getOrElse("data", ""), get("work"), get("seconds").toInt,
      get("trace") == "1", get("seed").toLong, get("spawn-ms").toDouble,
      m.get("corrupt").contains("1"))
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default); NaN when empty. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = (s.size - 1) * q / 100.0
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Result and trace files as JSON. A NaN (an empty sample) is written as
  * the bare token NaN, which `perfbench/run.py` reads as null.
  */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Env {
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  def processCpuMs(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => Double.NaN
  }
}

/** Benchmark entry point: one workload, one seed, one process. Writes
  * `<work>/result.json` (and `<work>/trace.json` when traced); the
  * orchestrator (`perfbench/run.py`) checks outputs and prints the metrics.
  */
object PerfBench {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = session(a, a.work)
    val sched = if (a.trace) {
      val l = new SchedListener; spark.sparkContext.addSparkListener(l); Some(l)
    } else None
    val spans = new Spans(s"${a.workload}-${a.seed}-${System.currentTimeMillis()}")
    val wl = spans.reserve()
    val stream = if (a.workload == "router_stream") Some(StreamWorkload.start(spark, a.work)) else None
    val ready = Clock.ms
    val setupS = (ready - a.spawnMs) / 1000.0

    var e2e = Map.empty[String, Double]
    var layers = Map.empty[String, Double]
    var attempted = 0
    var failed = Seq.empty[String]
    val notes = Seq.newBuilder[String]
    var extra = Map.empty[String, Any]
    stream match {
      case Some(st) =>
        val o = StreamWorkload.run(spark, st, a, spans, wl, sched)
        e2e = o.e2e; layers = o.layers; attempted = o.attempted
        failed = Seq.fill(o.failed)("chunk")
        notes ++= o.notes
      case None =>
        val spec = BatchWorkload.specs.getOrElse(a.workload, sys.error(s"unknown workload ${a.workload}"))
        val o = BatchWorkload.run(spark, spec, a, spans, wl)
        val rss = Env.rssPeakMb()
        val warm = o.passes.drop(2)
        // per-query latency: each query's median over the measured passes
        val queryMs = o.ops.filter(_.pass > 1).groupBy(_.name).values.map(q => Stats.median(q.map(_.ms))).toSeq
        e2e = Map(
          "first_pass_s" -> o.passes.head.span.ms / 1000.0,
          "pass_s" -> Stats.median(warm.map(_.span.ms)) / 1000.0,
          "p50_ms" -> Stats.pct(queryMs, 50),
          "p95_ms" -> Stats.pct(queryMs, 95),
          "rss_peak_mb" -> rss)
        attempted = o.ops.size
        failed = o.ops.filterNot(_.ok).map(_.name)
        extra = Map(
          "passes" -> o.passes.map(p => Map("pass" -> p.index, "ms" -> p.span.ms,
            "persisted_rdds" -> p.persistedRdds, "gc_ms" -> p.gcMs, "heap_mb" -> p.heapMb)),
          "ops" -> o.ops.map(op => Map("pass" -> op.pass, "name" -> op.name, "ms" -> op.ms, "ok" -> op.ok)))
        sched.foreach { s =>
          org.apache.spark.ListenerBusDrain(spark.sparkContext)
          // attribute the median warm pass (the lower middle one)
          val mid = warm.sortBy(_.span.ms).apply((warm.size - 1) / 2)
          val all = spans.all
          val probe = all.filter(x => x.name == "tables_probe" && x.attrs.get("pass").contains(mid.index))
          layers = Layers.batchPass(all, s, mid.span) ++ Map(
            "tables.read_ms" -> probe.map(_.ms).sum,
            "cleanup.persisted_rdds" -> mid.persistedRdds.toDouble,
            "jvm.gc_ms" -> mid.gcMs,
            "jvm.heap_mb" -> mid.heapMb)
          notes += f"attributed pass ${mid.index} (${mid.span.ms}%.0f ms; persisted RDDs after each pass: " +
            o.passes.map(_.persistedRdds).mkString(",") + ")"
        }
        // untimed: results for the oracle comparison
        failed ++= BatchWorkload.writeResults(spark, spec, a).map(n => s"result:$n")
    }
    if (a.trace && stream.isDefined) {
      layers ++= Map("jvm.gc_ms" -> BatchWorkload.gcMs(), "jvm.heap_mb" -> BatchWorkload.heapMb())
    }
    sched.foreach { s =>
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      // each job under the innermost span its start falls in; stages under their job
      val owners = spans.all.filter(_.name != "pass").sortBy(_.ms)
      s.jobList.foreach { j =>
        val parent = owners.find(_.contains(j.start)).map(_.id).getOrElse(wl)
        val js = spans.add(s"job ${j.id}", parent, j.start, if (j.end.isNaN) j.start else j.end,
          Map("site" -> j.site, "group" -> j.group))
        j.stages.flatMap(s.stageOf).filter(st => !st.submit.isNaN).foreach(st =>
          spans.add(s"stage ${st.id}", js.id, st.submit, st.complete, Map("tasks" -> st.tasks)))
      }
      spans.put(Span(wl, a.workload, 0, ready, Clock.ms))
      write(a.work, "trace.json", Map(
        "trace_id" -> spans.traceId,
        "spans" -> spans.all.sortBy(_.start).map(x => Map("id" -> x.id, "name" -> x.name,
          "parent" -> x.parent, "start" -> x.start, "end" -> x.end, "trace_id" -> spans.traceId,
          "attrs" -> x.attrs))))
    }
    val cpuMs = Env.processCpuMs()
    val wallMs = Clock.ms - a.spawnMs
    val conf = spark.conf.getAll.filter(_._1.startsWith("spark.")).toSeq.sortBy(_._1).toMap
    write(a.work, "result.json", Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "setup_s" -> setupS, "e2e" -> e2e, "per_layer" -> layers,
      "attempted" -> attempted, "failed" -> failed, "notes" -> notes.result(),
      "env" -> Map("jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version, "spark_conf" -> conf, "cpu_over_wall" -> cpuMs / wallMs)) ++ extra)
    spark.stop()
  }

  def session(a: Args, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${Layers.Cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Layers.Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.broadcastTimeout", "1800")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (a.trace) b.config("spark.sql.queryExecutionListeners", classOf[CatalystListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def write(dir: String, name: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name), Json(v))
  }
}
