package graftbench

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.{Cleanup, SparkEntry, Tables}

/** The closed-loop batch workloads: one caller runs every query of the list
  * per pass (build, force into the noop sink, `Cleanup.drain`), the first
  * pass cold, then warm passes until the measuring time is used up.
  */
object BatchWorkload {
  final case class Spec(queries: Seq[String], warmers: Seq[String], tables: Seq[String],
                        freshSessionPerPass: Boolean)

  val specs: Map[String, Spec] = Map(
    "sql_short" -> Spec(
      Seq("q01_pricing_summary", "q03_shipping_priority", "q05_revenue_by_nation",
        "q06_forecast_revenue", "q12_delay_priority", "q13_custdist", "q21_waiting_supplier",
        "route_first_match"),
      warmers = Nil,
      tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents"),
      freshSessionPerPass = false),
    "corpus_pipeline" -> Spec(
      Seq("dedup_clusters", "vocab_bpe_merges", "mm_audio_neardups", "docs_curation_pipeline"),
      // the build-once cluster artifact is retrained in every pass, as a
      // fresh pipeline run retrains it
      warmers = Seq("cluster_build"),
      tables = Seq("documents"),
      freshSessionPerPass = true),
  )

  /** Warm passes measured after the settling pass (pass 1), which is
    * excluded because the JVM is still warming up through it.
    */
  val MeasuredPasses = 3

  final case class Op(pass: Int, name: String, ms: Double, ok: Boolean)
  final case class Pass(index: Int, span: Span, persistedRdds: Int, gcMs: Double, heapMb: Double)
  final case class Outcome(passes: Seq[Pass], ops: Seq[Op])

  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
  }
  def heapMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def run(spark: SparkSession, spec: Spec, a: Args, spans: Spans, wl: Int): Outcome = {
    val sc = spark.sparkContext
    val passes = Seq.newBuilder[Pass]
    val ops = Seq.newBuilder[Op]
    val t0 = Clock.ms
    var p = 0
    // the cold pass, a settling pass and at least three measured warm
    // passes, then passes until the measuring time is used up
    while (p < 2 + MeasuredPasses || Clock.ms - t0 < a.seconds * 1000.0) {
      val s = if (spec.freshSessionPerPass) spark.newSession() else spark
      val order = spec.warmers ++ new scala.util.Random(a.seed * 7919L + p).shuffle(spec.queries)
      val passId = spans.reserve()
      val gc0 = gcMs()
      val p0 = Clock.ms
      order.foreach { name =>
        val qid = spans.reserve()
        sc.setJobGroup(s"op-$qid", name, interruptOnCancel = false)
        val b0 = Clock.ms
        var b1, f1 = Double.NaN
        var ok = true
        try {
          SparkEntry.trainerWarmers.get(name) match {
            case Some(warm) => warm(s, a.data); b1 = Clock.ms; f1 = b1
            case None =>
              val df = SparkEntry.queries(name)(s, a.data)
              b1 = Clock.ms
              df.write.mode("overwrite").format("noop").save()
              f1 = Clock.ms
          }
        } catch {
          case NonFatal(e) =>
            ok = false
            System.err.println(s"[perfbench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        val now = Clock.ms
        if (b1.isNaN) b1 = now
        if (f1.isNaN) f1 = now
        Cleanup.drain()
        val d1 = Clock.ms
        spans.add("build", qid, b0, b1)
        spans.add("force", qid, b1, f1)
        spans.add("drain", qid, f1, d1)
        spans.put(Span(qid, name, passId, b0, d1, Map("pass" -> p, "ok" -> ok)))
        ops += Op(p, name, d1 - b0, ok)
      }
      val p1 = Clock.ms
      sc.clearJobGroup()
      val pass = spans.put(Span(passId, "pass", wl, p0, p1, Map("pass" -> p)))
      passes += Pass(p, pass, sc.getPersistentRDDs.size, gcMs() - gc0, heapMb())
      if (a.trace) spec.tables.foreach { t =>
        val r0 = Clock.ms
        Tables.read(s, a.data, t)
        spans.add("tables_probe", wl, r0, Clock.ms, Map("pass" -> p, "table" -> t))
      }
      p += 1
    }
    Outcome(passes.result(), ops.result())
  }

  /** Untimed: write each query's result once for the oracle comparison. */
  def writeResults(spark: SparkSession, spec: Spec, a: Args): Seq[String] = {
    val out = s"${a.work}/results"
    val failed = spec.queries.filterNot { name =>
      try {
        SparkEntry.queries(name)(spark, a.data).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$name")
        true
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] result of $name failed: ${e.getMessage}"); false
      } finally Cleanup.drain()
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => spec.queries.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), Json(oracle))
    failed
  }
}
