package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one session factory and per-query loop of the measuring and
  * checking mains: `Bench`, `Verify`, `ScaleProbe` and the modes of `main`
  * below. Every one of them runs on `session()`, so the plans `explain`
  * prints are the plans `Bench` times and `Verify` checks.
  *
  * Modes (`runMain graft.Harness <mode> ...`):
  *   - `time <sfDir> <reps> <name> [name ...]` times named
  *     `SparkEntry.queries` entries in one JVM, for an interleaved A/B of two
  *     builds without a full sweep. It prints one
  *     `QBENCH <name> rep=<i> secs=<s>` line per execution, plus the box load
  *     before and after. Read the medians of the later reps: rep 1 carries
  *     JIT and codegen warm-up, as a query's position in a long sweep does.
  *   - `explain <sfDir> [name ...]` prints the formatted physical plan of
  *     each named query, or of all of them.
  *   - `profile <sfDir> <name|trainer:name> [reps] [outJfr]` runs the query
  *     once unrecorded (JIT warm-up), then `reps` times under a JFR
  *     recording with 5 ms execution sampling, dumps the .jfr and prints the
  *     top leaf methods (self time) and top inclusive frames. `trainer:<name>`
  *     profiles a `SparkEntry.trainerWarmers` entry instead, retraining on
  *     every rep in a fresh child session (the memos are keyed on session
  *     identity). In local mode the executor threads are in-process, so the
  *     samples cover the real query work.
  *
  * Every name is checked before the session starts.
  */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a contended shared box can stall a small-side build past the 300 s
      // default and silently fail one query — measurements and correctness
      // dumps prefer waiting
      .config("spark.sql.broadcastTimeout", "1800")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `df` through the noop sink, which materializes every output
    * column — `count()` would let Catalyst prune unaggregated projections
    * and under-measure scan+compute queries.
    */
  def force(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Touches each table once and exercises the codegen and shuffle
    * machinery, so JVM and session start-up do not land on whichever query
    * runs first.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      Seq("lineitem", "orders", "customer", "documents", "embeddings", "events")
        .foreach(n => force(Tables.read(spark, sfDir, n).limit(1000)))
      force(spark.range(1000000).selectExpr("sum(id) as s"))
    } catch { case NonFatal(e) => System.err.println(s"[harness] warm-up failed: ${firstLine(e)}") }

  /** 1-minute load average from /proc/loadavg, or -1 where unreadable.
    * Every timed reading carries it, with this JVM's CPU/wall ratio, so a
    * swing is attributable to load (high loadavg, depressed CPU ratio on an
    * unchanged plan) or to code (normal load, ratio unchanged) from the
    * payload alone.
    */
  def loadAvg(): Double =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/loadavg"))
      .get(0).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Cumulative CPU nanos burned by THIS JVM (all threads), or -1. */
  def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }

  /** One timed execution: wall seconds, process-CPU-seconds / wall-seconds
    * (0..cpus; drops under external contention), 1-min loadavg at finish.
    */
  final case class Run(sec: Double, cpu: Double, load: Double)

  def timedRun(body: => Unit): Run = {
    val c0 = processCpuNanos(); val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu =
      if (c0 >= 0 && wall > 0) (processCpuNanos() - c0) / 1e9 / wall else -1.0
    Run(wall, cpu, loadAvg())
  }

  /** One query of a loop: `build` it and hand the result to `sink`, timed
    * together; then drain the checkpoints the build registered (untimed,
    * and also when either step throws). A failure prints one stderr line
    * `[tag] name failed: ...` and its time still counts, so one query
    * cannot end a sweep whose other results the caller still reports.
    */
  def step[A](tag: String, name: String)(build: => A)(sink: A => Unit): Run =
    try timedRun {
      try sink(build)
      catch { case e: Throwable => System.err.println(s"[$tag] $name failed: ${firstLine(e)}") }
    } finally Cleanup.drain()

  private def firstLine(e: Throwable): String = e.toString.linesIterator.nextOption().getOrElse("")

  /** `names` that are not `SparkEntry.queries` keys. */
  private[graft] def unknown(names: Seq[String]): Seq[String] =
    names.filterNot(SparkEntry.queries.keySet)

  /** Prints `msg` to stderr and exits with status 2; called before any
    * session exists, so a bad argument costs no Spark start-up.
    */
  private[graft] def exit(msg: String): Nothing = { System.err.println(msg); sys.exit(2) }

  private val Usage =
    """usage: graft.Harness time <sfDir> <reps> <name> [name ...]
      |       graft.Harness explain <sfDir> [name ...]
      |       graft.Harness profile <sfDir> <name|trainer:name> [reps] [outJfr]""".stripMargin

  /** The work `args` select, to run on the session; Left is why they
    * select none. Every name is checked here.
    */
  private[graft] def mode(args: Seq[String]): Either[String, SparkSession => Unit] = {
    def known(names: Seq[String])(work: SparkSession => Unit) = unknown(names) match {
      case Seq() => Right(work)
      case bad => Left(s"unknown query: ${bad.mkString(" ")}")
    }
    args match {
      case Seq("time", sfDir, reps, names @ _*) if names.nonEmpty && reps.toIntOption.isDefined =>
        known(names)(time(_, sfDir, reps.toInt, names))
      case Seq("explain", sfDir, named @ _*) =>
        val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
        known(names)(explain(_, sfDir, names))
      case Seq("profile", sfDir, name, rest @ _*)
          if rest.size <= 2 && rest.headOption.forall(_.toIntOption.isDefined) =>
        val trainer = name.stripPrefix("trainer:")
        val work = profile(_: SparkSession, sfDir, name, rest.headOption.fold(3)(_.toInt),
          rest.lift(1).getOrElse("/tmp/graft_profile.jfr"))
        if (trainer == name) known(Seq(name))(work)
        else if (SparkEntry.trainerWarmers.contains(trainer)) Right(work)
        else Left(s"unknown trainer: $trainer")
      case _ => Left(Usage)
    }
  }

  def main(args: Array[String]): Unit = {
    val work = mode(args.toSeq).fold(exit, identity)
    val spark = session()
    try work(spark) finally spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String]): Unit = {
    warmUp(spark, sfDir)
    println(f"QBENCH load_start=${loadAvg()}%.1f")
    for (rep <- 1 to reps; name <- names) {
      val r = step("qbench", name)(SparkEntry.queries(name)(spark, sfDir))(force)
      println(f"QBENCH $name rep=$rep secs=${r.sec}%.3f")
    }
    println(f"QBENCH load_end=${loadAvg()}%.1f")
  }

  private def explain(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"\n========== $n ==========")
      step("explain", n)(SparkEntry.queries(n)(spark, sfDir))(df =>
        println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)))
    }

  private def profile(spark: SparkSession, sfDir: String, name: String, reps: Int,
                      out: String): Unit = {
    def once(): Run =
      if (name.startsWith("trainer:"))
        step("profile", name)(
          SparkEntry.trainerWarmers(name.stripPrefix("trainer:"))(spark.newSession(), sfDir))(_ => ())
      else step("profile", name)(SparkEntry.queries(name)(spark, sfDir))(force)

    once() // unrecorded JIT warm-up
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ExecutionSample")
      .withPeriod(java.time.Duration.ofMillis(5))
    rec.start()
    val t0 = System.nanoTime()
    (1 to reps).foreach(_ => once())
    val secs = (System.nanoTime() - t0) / 1e9
    rec.stop()
    val path = java.nio.file.Paths.get(out)
    rec.dump(path)
    rec.close()

    val samples = RecordingFileSummary.executionSamples(path)
    println(f"PROFILE query=$name reps=$reps secs=$secs%.2f samples=${samples.size} jfr=$out")
    def fmtTop(counts: Map[String, Int], tag: String): Unit =
      counts.toSeq.sortBy(-_._2).take(20).foreach { case (m, c) =>
        println(f"PROFILE $tag ${100.0 * c / math.max(samples.size, 1)}%5.1f%% $c%6d  $m")
      }
    fmtTop(samples.groupBy(_.head).view.mapValues(_.size).toMap, "leaf ")
    // inclusive: a frame counts once per sample it appears in (dedup
    // within a stack so recursion doesn't double-count)
    val inclusive = samples.flatMap(_.distinct)
      .groupBy(identity).view.mapValues(_.size).toMap
    fmtTop(inclusive, "frame")
  }
}

/** JFR parsing split out for testability: reads jdk.ExecutionSample
  * events and returns each sample's stack as leaf-first method names.
  */
object RecordingFileSummary {
  def executionSamples(path: java.nio.file.Path): Seq[Seq[String]] = {
    val events = jdk.jfr.consumer.RecordingFile.readAllEvents(path).asScala
    events.iterator
      .filter(_.getEventType.getName == "jdk.ExecutionSample")
      .flatMap { e =>
        Option(e.getStackTrace).map(_.getFrames.asScala.toSeq.map { f =>
          val m = f.getMethod
          s"${m.getType.getName}.${m.getName}"
        })
      }
      .filter(_.nonEmpty)
      .toSeq
  }
}
