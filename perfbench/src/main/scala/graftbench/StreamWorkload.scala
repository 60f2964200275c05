package graftbench

import java.util.SplittableRandom
import java.util.concurrent.TimeUnit
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import graft.config.{PlanCodec, PlanResolver, ResolvedSpliter}
import graft.fixtures.RefRoutePlan
import graft.router.Router
import graft.streaming.StreamRouter

/** Messages with the reference load corpus's mix (FIXTURES.md section B):
  * ~96% 19-character noise, 1% syslog hits, rare ceph hits, 2% prefix-less
  * near-miss decoys, plus CIDR hits and CIDR near misses for the regex
  * split and a few drop-split hits. Each row carries the topic the
  * reference semantics route it to (null: dropped), as an oracle that is
  * independent of the router. A chunk is a pure function of its coordinates.
  */
object Messages {
  final case class Chunk(phase: Int, idx: Int, rows: Int)

  private val Alnum = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
  private def noise(r: SplittableRandom, n: Int): String = {
    val b = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { b.append(Alnum.charAt(r.nextInt(Alnum.length))); i += 1 }
    b.toString
  }

  /** (key, value, expected topic) rows of one chunk; keys are unique. */
  def rows(seed: Long, c: Chunk): Array[(String, String, String)] = {
    val r = new SplittableRandom(seed * 1000003L + c.phase * 100000007L + c.idx)
    Array.tabulate(c.rows) { i =>
      val u = r.nextInt(10000)
      val (v, topic) =
        if (u < 100) (noise(r, 8) + "source\":\"/var/log/syslog" + noise(r, 6), "forti-match")
        else if (u < 150)
          (s"""x"source":"10.220.${64 + r.nextInt(8)}.${r.nextInt(256)}"""" + noise(r, 4), "office-match")
        else if (u < 170)
          (s"""x"source":"10.220.${72 + r.nextInt(8)}.${r.nextInt(256)}"""" + noise(r, 4), "os-unmatched")
        else if (u < 172) ("source\":\"/var/log/ceph/ceph.log" + noise(r, 5), "os-match")
        else if (u < 173) (noise(r, 4) + "source\":\"/var/log/ceph/ceph-mon" + noise(r, 8), "os-debug")
        else if (u < 183) (noise(r, 3) + "source\":\"/var/log/ceph/ceph-osd", null)
        else if (u < 283) (noise(r, 6) + "/var/log/ceph/ceph.logweWIx", "os-unmatched")
        else if (u < 383) (noise(r, 6) + "/var/log/ceph/ceph-monowowowowo", "os-unmatched")
        else (noise(r, 19), "os-unmatched")
      (s"${c.phase}-${c.idx}-$i", v, topic)
    }
  }

  /** All rows of `chunks` as a DataFrame (key, value, expected). */
  def frame(spark: SparkSession, seed: Long, chunks: Seq[Chunk], parts: Int): DataFrame = {
    import spark.implicits._
    spark.createDataset(chunks).repartition(parts)
      .flatMap(c => rows(seed, c)).toDF("key", "value", "expected")
  }
}

/** The reference's own job through the production Kafka-less path:
  * MemoryStream -> `StreamRouter.routeStream` -> `StreamRouter.toPartitionedFiles`
  * with the reference's near-realtime 10 ms trigger.
  */
object StreamWorkload {
  /** Open-loop rates (rows/s), fixed at about 10% and 40% of the closed-loop
    * capacity measured when the benchmark was introduced (0.11-0.15 M rows/s
    * on 4 cores); the generator's chunk period; the closed-loop batch size.
    */
  val RateLo = 12500
  val RateHi = 50000
  val PeriodMs = 20
  val BatchRows = 100000

  /** The openstack plan as the deployment ships it (reference topic.yaml
    * shape), decoded and resolved by the config layer at start-up.
    */
  val PlanYaml: String =
    s"""spliters_templates:
       |  - input_topic: openstack-in
       |    actions:
       |      matched: os-match
       |      unmatched: os-unmatched
       |      debug: os-debug
       |    splits:
       |      - extractor: {pattern: '${RefRoutePlan.cidrPattern}', use_regex: true}
       |        output_topic: office-match
       |      - extractor: {pattern: 'source":"/var/log/syslog'}
       |        output_topic: forti-match
       |      - extractor: {pattern: 'source":"/var/log/ceph/ceph-mon'}
       |        action: debug
       |      - extractor: {pattern: 'source":"/var/log/ceph/ceph.log'}
       |      - extractor: {pattern: 'source":"/var/log/ceph/ceph-osd'}
       |        action: drop-missing
       |""".stripMargin

  final case class Progress(batchId: Long, start: Double, durations: Map[String, Double],
                            rows: Long, startOffset: Long, endOffset: Long) {
    def trigger: Double = durations.getOrElse("triggerExecution", 0.0)
    def end: Double = start + trigger
  }

  final class ProgressListener extends StreamingQueryListener {
    val all = mutable.ArrayBuffer.empty[Progress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def off(s: String) = Option(s).map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).map(_.toLong).getOrElse(-1L)
      import scala.jdk.CollectionConverters._
      val src = p.sources.headOption
      synchronized {
        all += Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap, p.numInputRows,
          src.map(s => off(s.startOffset)).getOrElse(-1L), src.map(s => off(s.endOffset)).getOrElse(-1L))
      }
    }
    def list: Seq[Progress] = synchronized(all.toList)
  }

  final case class ChunkRec(phase: Int, idx: Int, rows: Int, offset: Long, due: Double, added: Double)

  final case class Running(mem: MemoryStream[(String, String)], q: StreamingQuery,
                           listener: ProgressListener, plan: ResolvedSpliter, resolveMs: Double,
                           sinkDir: String)

  private val streamIds = new java.util.concurrent.atomic.AtomicInteger(1)

  /** Decode the plan, start the routed stream, and commit one empty batch. */
  def start(spark: SparkSession, work: String): Running = {
    import spark.implicits._
    val r0 = Clock.ms
    val b64 = java.util.Base64.getEncoder.encodeToString(PlanYaml.getBytes("UTF-8"))
    val plan = PlanResolver.resolve(PlanCodec.fromBase64(b64)).head
    val resolveMs = Clock.ms - r0
    require(plan == RefRoutePlan.openstack, s"decoded plan differs from RefRoutePlan.openstack: $plan")
    val listener = new ProgressListener
    spark.streams.addListener(listener)
    // one partition per core, as a multi-partition input topic would give
    val mem = MemoryStream[(String, String)](streamIds.getAndIncrement(), spark,
      Some(Layers.Cores))
    val routed = StreamRouter.routeStream(mem.toDF().toDF("key", "value"), plan)
    val sinkDir = s"$work/sink"
    val q = StreamRouter.toPartitionedFiles(routed, sinkDir, s"$work/checkpoint",
      Trigger.ProcessingTime(10, TimeUnit.MILLISECONDS)).start()
    mem.addData(Seq.empty[(String, String)])
    q.processAllAvailable()
    Running(mem, q, listener, plan, resolveMs, sinkDir)
  }

  final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
                           attempted: Int, failed: Int, notes: Seq[String])

  def run(spark: SparkSession, st: Running, a: Args, spans: Spans, wl: Int,
          schedOpt: Option[SchedListener]): Outcome = {
    val chunks = mutable.ArrayBuffer.empty[ChunkRec]
    val notes = mutable.ArrayBuffer.empty[String]
    def offsetOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
      o.json().trim.stripPrefix("\"").stripSuffix("\"").toLong
    def committed(): Long = Option(st.q.lastProgress).flatMap(_.sources.headOption)
      .flatMap(s => Option(s.endOffset)).map(_.trim.stripPrefix("\"").stripSuffix("\"").toLong)
      .getOrElse(-1L)

    // one closed-loop batch: add B ready rows, wait for their commit
    def closedBatch(phase: Int, idx: Int): Double = {
      val rows = Messages.rows(a.seed, Messages.Chunk(phase, idx, BatchRows)).map(r => (r._1, r._2))
      val t0 = Clock.ms
      val off = offsetOf(st.mem.addData(rows.toSeq))
      st.q.processAllAvailable()
      val ms = Clock.ms - t0
      chunks += ChunkRec(phase, idx, rows.length, off, t0, t0)
      ms
    }

    // open loop: one generator thread adds pre-built chunks on a fixed
    // schedule; every chunk is timed from its due time
    final case class Phase(id: Int, name: String, start: Double, end: Double, backlogRows: Long) {
      def contains(t: Double): Boolean = t >= start && t < end
    }
    def openLoop(phase: Int, name: String, rate: Int, secs: Double): Phase = {
      val n = math.max(1, (secs * 1000 / PeriodMs).toInt)
      val perChunk = math.max(1, rate * PeriodMs / 1000)
      val data = (0 until n).map(i =>
        Messages.rows(a.seed, Messages.Chunk(phase, i, perChunk)).map(r => (r._1, r._2)).toSeq)
      val recs = new Array[ChunkRec](n)
      val first = Clock.ms + 20
      val gen = new Thread(() => {
        var i = 0
        while (i < n) {
          val due = first + i.toLong * PeriodMs
          var wait = due - Clock.ms
          while (wait > 0) { LockSupport.parkNanos((wait * 1e6).toLong); wait = due - Clock.ms }
          val added = Clock.ms
          recs(i) = ChunkRec(phase, i, perChunk, offsetOf(st.mem.addData(data(i))), due, added)
          i += 1
        }
      }, s"perfbench-generator-$name")
      gen.start(); gen.join()
      val done = committed()
      val backlog = recs.filter(_.offset > done).map(_.rows.toLong).sum
      st.q.processAllAvailable()
      chunks ++= recs
      Phase(phase, name, first, Clock.ms, backlog)
    }

    // cold first batch, a closed-loop warm-up, the two open-loop rates, then
    // the measured closed loop on the warmed-up JVM
    val cold = closedBatch(0, 0)
    val w0 = Clock.ms
    var warmups = 0
    while (warmups < 3 || Clock.ms - w0 < a.seconds * 250.0) { closedBatch(4, warmups); warmups += 1 }
    val warmup = Phase(4, "warmup", w0, Clock.ms, 0)
    val lo = openLoop(1, "lo", RateLo, a.seconds * 0.25)
    val hi = openLoop(2, "hi", RateHi, a.seconds * 0.25)
    val c0 = Clock.ms
    val closedMs = mutable.ArrayBuffer.empty[Double]
    while (closedMs.size < 5 || Clock.ms - c0 < a.seconds * 250.0)
      closedMs += closedBatch(3, closedMs.size)
    val closed = Phase(3, "closed", c0, Clock.ms, 0)
    val rss = Env.rssPeakMb()
    st.q.stop()
    org.apache.spark.ListenerBusDrain(spark.sparkContext)

    // micro-batch timing per chunk: due -> commit of the batch holding it
    val prog = st.listener.list.filter(_.rows >= 0)
    def batchOf(c: ChunkRec): Option[Progress] =
      prog.find(p => p.startOffset < c.offset && c.offset <= p.endOffset)
    val uncommitted = chunks.filter(c => batchOf(c).isEmpty)
    def lat(phase: Int) = chunks.filter(_.phase == phase).flatMap(c => batchOf(c).map(_.end - c.due)).toSeq
    val loLat = lat(1); val hiLat = lat(2)
    val capacity = closedMs.size * BatchRows / (closedMs.sum / 1000.0)

    // phase spans, micro-batch spans and their progress phases
    val phases = Seq(warmup, lo, hi, closed)
    val phaseSpans = phases.map(p => spans.add(p.name, wl, p.start, p.end, Map("backlog_rows_end" -> p.backlogRows)))
    val order = Seq("latestOffset", "getBatch", "setOffsetRange", "getEndOffset", "walCommit",
      "queryPlanning", "addBatch", "commitOffsets")
    prog.foreach { p =>
      val parent = phaseSpans.find(_.contains(p.start)).map(_.id).getOrElse(wl)
      val b = spans.add("micro_batch", parent, p.start, p.end, Map("batch" -> p.batchId, "rows" -> p.rows))
      var t = p.start
      order.flatMap(k => p.durations.get(k).map(k -> _)).foreach { case (k, d) =>
        spans.add(k, b.id, t, t + d); t += d
      }
    }

    // correctness: sink content vs a batch routeKeep census of the same input
    val (failedChunks, sinkStats) = verify(spark, st, a, chunks.toSeq, notes)
    val failed = (failedChunks ++ uncommitted.map(c => s"${c.phase}-${c.idx}")).distinct
    if (uncommitted.nonEmpty) notes += s"${uncommitted.size} chunks never committed"

    val e2e = Map(
      "first_pass_s" -> cold / 1000.0,
      "pass_s" -> Stats.median(closedMs.toSeq) / 1000.0,
      "p50_ms" -> Stats.pct(loLat, 50),
      "p95_ms" -> Stats.pct(hiLat, 95),
      "rss_peak_mb" -> rss)

    var layers = Map.empty[String, Double]
    if (a.trace) {
      // per-batch means over the open-loop and closed-loop batches, so the
      // phase means sum to the trigger mean
      val inPhases = prog.filter(p => Seq(lo, hi, closed).exists(_.contains(p.start)) && p.rows > 0)
      def mean(f: Progress => Double) = if (inPhases.isEmpty) 0.0 else inPhases.map(f).sum / inPhases.size
      def d(keys: String*)(p: Progress) = keys.flatMap(p.durations.get).sum
      val offsets = mean(d("latestOffset", "getBatch", "setOffsetRange", "getEndOffset"))
      val planning = mean(d("queryPlanning")); val add = mean(d("addBatch"))
      val wal = mean(d("walCommit")); val commit = mean(d("commitOffsets")); val trig = mean(_.trigger)
      val openChunks = chunks.filter(c => c.phase == 1 || c.phase == 2)
      val queue = openChunks.flatMap(c => batchOf(c).map(_.start - c.due))
      val closedBatches = prog.count(p => closed.start <= p.start && p.start < closed.end).max(1)
      val sched = schedOpt.map(Layers.jobWindow(_, closed.start, closed.end)).getOrElse(Map.empty)
        .filterNot(_._1.startsWith("tables.")).map {
          case (k, v) if k == "sched.util" => k -> v
          case (k, v) => k -> v / closedBatches
        }
      layers = sched ++ routerProbe(spark, st.plan, a) ++ sinkStats ++ Map(
        "config.resolve_ms" -> st.resolveMs,
        "stream.batches" -> inPhases.size.toDouble,
        "stream.rows_per_batch" -> mean(_.rows.toDouble),
        "stream.offsets_ms" -> offsets,
        "stream.planning_ms" -> planning,
        "stream.add_batch_ms" -> add,
        "stream.wal_ms" -> wal,
        "stream.commit_ms" -> commit,
        "stream.other_ms" -> (trig - offsets - planning - add - wal - commit),
        "stream.trigger_ms" -> trig,
        "stream.queue_wait_ms" -> Stats.median(queue.toSeq),
        "stream.backlog_rows_end" -> (lo.backlogRows + hi.backlogRows).toDouble,
        "stream.gen_late_ms" -> Stats.pct(openChunks.map(c => c.added - c.due).toSeq, 95),
        "stream.capacity_rows_per_s" -> capacity,
        "stream.lo_p50_ms" -> Stats.pct(loLat, 50), "stream.lo_p95_ms" -> Stats.pct(loLat, 95),
        "stream.hi_p50_ms" -> Stats.pct(hiLat, 50), "stream.hi_p95_ms" -> Stats.pct(hiLat, 95),
      )
    }
    notes += f"capacity ${capacity / 1e6}%.3f M rows/s closed-loop; lo p50 ${Stats.pct(loLat, 50)}%.1f ms, " +
      f"lo p95 ${Stats.pct(loLat, 95)}%.1f ms, hi p50 ${Stats.pct(hiLat, 50)}%.1f ms, hi p95 ${Stats.pct(hiLat, 95)}%.1f ms"
    Outcome(e2e, layers, chunks.size, failed.size, notes.toSeq)
  }

  /** Compare the sink's per-topic content with `Router.routeKeep` over the
    * same seeded input (and the census with the generator's own expected
    * topics). Returns the chunks with any lost, duplicated, misrouted or
    * leaked row, and the sink's size.
    */
  def verify(spark: SparkSession, st: Running, a: Args, chunks: Seq[ChunkRec],
             notes: mutable.Buffer[String]): (Seq[String], Map[String, Double]) = {
    val input = Messages.frame(spark, a.seed, chunks.map(c => Messages.Chunk(c.phase, c.idx, c.rows)), 4)
    val census = Router.routeKeep(input, st.plan)
    var sink = spark.read.parquet(st.sinkDir).select("key", "value", "topic")
    if (a.corrupt) // negative self-test: misroute one delivered row
      sink = sink.withColumn("topic", when(col("key") === "1-0-0", lit("corrupted")).otherwise(col("topic")))
    val got = sink.groupBy("key").agg(count(lit(1)).as("n"), first("topic").as("got_topic"),
      first("value").as("got_value"))
    val chunkOf = regexp_extract(col("key"), "^([0-9]+-[0-9]+)-", 1)
    val bad = census.join(got, Seq("key"), "full_outer")
      .filter(
        !(col("topic") <=> col("expected")) ||                      // router vs generator oracle
        (col("topic").isNotNull && (col("n").isNull || col("n") =!= 1 ||
          col("got_topic") =!= col("topic") || col("got_value") =!= col("value"))) || // lost/dup/misrouted
        (col("topic").isNull && col("n").isNotNull))                  // dropped or unknown row delivered
      .select(chunkOf.as("chunk")).distinct().collect().map(_.getString(0)).toSeq
    val sinkCounts = sink.groupBy("topic").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val censusCounts = census.groupBy("topic").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("(dropped)") -> r.getLong(1)).toMap
    notes += s"per-topic sink counts ${sinkCounts.toSeq.sorted.mkString(", ")}; census ${censusCounts.toSeq.sorted.mkString(", ")}"
    val files = Option(new java.io.File(st.sinkDir)).toSeq.flatMap(Env.walk)
      .filter(f => f.getName.endsWith(".parquet"))
    (bad, Map(
      "sink.records" -> sinkCounts.values.sum.toDouble,
      "sink.bytes" -> files.map(_.length.toDouble).sum,
      "sink.files" -> files.size.toDouble))
  }

  /** Batch `Router.route` over a cached message mix, forced with noop. */
  def routerProbe(spark: SparkSession, plan: ResolvedSpliter, a: Args): Map[String, Double] = {
    val chunks = (0 until 100).map(i => Messages.Chunk(9, i, 10000))
    val mix = Messages.frame(spark, a.seed, chunks, 4).select("key", "value").cache()
    val n = mix.count().toDouble
    def rate(df: DataFrame): Double = {
      val routed = Router.route(df, plan)
      Stats.median((1 to 3).map { _ =>
        val t0 = Clock.ms
        routed.write.mode("overwrite").format("noop").save()
        n / ((Clock.ms - t0) / 1000.0)
      })
    }
    val rps = rate(mix)
    val rps1 = rate(mix.coalesce(1))
    val byTopic = Router.routeKeep(mix, plan).groupBy("topic").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1).toDouble).toMap
    mix.unpersist()
    val dropped = byTopic.getOrElse(None, 0.0)
    val unmatched = byTopic.getOrElse(plan.unmatchedTopic, 0.0)
    Map(
      "router.rows_per_s" -> rps,
      "router.rows_per_s_1t" -> rps1,
      "router.routed_frac" -> (n - dropped - unmatched) / n,
      "router.unmatched_frac" -> unmatched / n,
      "router.dropped_frac" -> dropped / n)
  }
}
