package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The contract of `Tables.read`'s schema memo: a table's schema is inferred
  * once per file version and parquet conf values, every later read starts
  * no Spark job, and what a read returns is unchanged — the same schema as
  * plain inference, the same `events.ts` instants, the same partition
  * column and pruning.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark.{spark, sf0001}
  import spark.implicits._

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val group = "tables-spec"
  private val jobs = new AtomicInteger
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
        jobs.incrementAndGet()
  }

  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(listener)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** `f`'s result and the Spark jobs it started, counted once the listener
    * bus has delivered every event.
    */
  private def jobsOf[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val before = jobs.get
    sc.setJobGroup(group, "TablesSpec", interruptOnCancel = false)
    val a = try f finally sc.clearJobGroup()
    ListenerBusDrain(sc)
    (a, jobs.get - before)
  }

  private def tmp(): String = Files.createTempDirectory("graft-tables").toFile.getAbsolutePath

  /** A one-file `events` table whose `ts` column has the parquet type `tsType`. */
  private def eventsFixture(tsType: String, ts: Seq[Long]): String = {
    val dir = tmp()
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 ts ($tsType); }")
    val conf = new Configuration()
    val out = HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf)
    val w = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
    val g = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (t, i) =>
      w.write(g.newGroup().append("event_id", i.toLong).append("ts", t))
    } finally w.close()
    dir
  }

  test("a second read starts no Spark job, in the same session or a fresh one") {
    // negative control: plain inference is a job the listener does count
    assert(jobsOf(spark.read.parquet(s"$sf0001/lineitem.parquet"))._2 > 0)
    Tables.read(spark, sf0001, "lineitem")
    assert(jobsOf(Tables.read(spark, sf0001, "lineitem"))._2 == 0)
    // the memo key is the files and the parquet confs, not the session
    val fresh = spark.newSession()
    fresh.conf.set(NanosAsLong, spark.conf.get(NanosAsLong))
    val (df, n) = jobsOf(Tables.read(fresh, sf0001, "lineitem"))
    assert(n == 0)
    assert(df.count() == Tables.read(spark, sf0001, "lineitem").count())
  }

  test("a table rewritten under the same path reads with its new schema") {
    val dir = tmp()
    Seq((1, "a")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
    assert(Tables.read(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    Seq((2L, 0.5, true)).toDF("key", "score", "flag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = Tables.read(spark, dir, "t")
    assert(t.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(t.as[(Long, Double, Boolean)].collect().toSeq == Seq((2L, 0.5, true)))
  }

  test("flipping nanosAsLong misses the memo; each value keeps its own entry") {
    val dir = tmp()
    Seq(1, 2).toDF("x").write.parquet(s"$dir/t.parquet")
    val s = spark.newSession()
    def readJobs(asLong: Boolean): Int = {
      s.conf.set(NanosAsLong, asLong.toString)
      jobsOf(Tables.read(s, dir, "t"))._2
    }
    assert(readJobs(asLong = false) > 0, "the first read infers")
    assert(readJobs(asLong = false) == 0, "the second read hits")
    assert(readJobs(asLong = true) > 0, "another nanosAsLong value is another key")
    assert(readJobs(asLong = true) == 0)
    assert(readJobs(asLong = false) == 0)
  }

  test("events: NANOS and NTZ ts read as the same microsecond instants, memoized or not") {
    val nanos = Seq(1704067200123456789L, 1706745599999999999L, 1704153600000000999L)
    // DuckDB's ns→µs load truncates; the NTZ file holds those microseconds
    val micros = nanos.map(_ / 1000)
    Seq(eventsFixture("TIMESTAMP(NANOS,false)", nanos),
        eventsFixture("TIMESTAMP(MICROS,false)", micros)).foreach { dir =>
      val first = Tables.events(spark, dir)
      val (second, n) = jobsOf(Tables.events(spark, dir))
      assert(n == 0, s"second events read of $dir inferred again")
      Seq(first, second).foreach { df =>
        assert(df.schema("ts").dataType == TimestampType)
        assert(df.orderBy("event_id").select(unix_micros($"ts")).as[Long].collect().toSeq == micros)
      }
    }
  }

  test("a partitionBy table keeps its partition column and prunes on it") {
    val dir = tmp()
    Tables.read(spark, sf0001, "lineitem")
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      .write.partitionBy("ship_month").parquet(s"$dir/lineitem_by_month.parquet")
    val plain = spark.read.parquet(s"$dir/lineitem_by_month.parquet")
    val expect = plain.filter($"ship_month" === "1995-06").count()
    assert(expect > 0, "fixture month is empty — pick a covered month")
    (1 to 2).foreach { _ =>
      val t = Tables.read(spark, dir, "lineitem_by_month")
      assert(t.schema == plain.schema)
      val q = t.filter($"ship_month" === "1995-06")
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [isnotnull(ship_month"),
        s"partition predicate did not reach the scan:\n$p")
      assert(!p.contains("PushedFilters: [IsNotNull(ship_month"),
        s"partition column leaked into the row-level pushdown:\n$p")
      assert(q.count() == expect)
    }
  }

  test("every sf0.001 table has the schema plain inference gives, nullability included") {
    val names = new java.io.File(sf0001).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(names.contains("lineitem") && names.contains("events"))
    names.foreach { n =>
      val got = (1 to 2).map(_ => Tables.read(spark, sf0001, n).schema)
      // after Tables.read: `events` has set the nanosAsLong conf it needs
      val plain = spark.read.parquet(s"$sf0001/$n.parquet").schema
      // `events.ts` is the one documented change: it arrives as TIMESTAMP
      val expect = if (n != "events") plain else StructType(plain.map(f =>
        if (f.name == "ts") f.copy(dataType = TimestampType) else f))
      got.foreach(s => assert(s.fields.toSeq == expect.fields.toSeq, s"table $n"))
    }
  }
}
