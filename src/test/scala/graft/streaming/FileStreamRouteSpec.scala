package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.config._
import graft.router.Router

/** End-to-end streaming routing over a FILE source into a FILE sink (the
  * second source/sink pair besides MemoryStream; the Kafka connector is
  * absent offline). Demonstrates that the router core is source-agnostic
  * and that checkpoint recovery is exactly-once on the file sink, and
  * at-least-once through a sink that crashes in the middle of a batch.
  */
class FileStreamRouteSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val spliter = PlanResolver.resolveSpliter(Spliter(
    "files", Map("matched" -> "m", "unmatched" -> "u"),
    Seq(
      Split(Extractor("alpha"), outputTopic = Some("t-alpha")),
      Split(Extractor("beta")), // implicit matched -> m
    )))

  test("text-file stream routes with first-match semantics; restart is exactly-once") {
    val inDir = Files.createTempDirectory("graft-fs-in").toFile
    val ckDir = Files.createTempDirectory("graft-fs-ck").toFile
    val outDir = Files.createTempDirectory("graft-fs-out").toFile
    val lines = Seq(
      "line with alpha marker",
      "line with beta marker",
      "nothing interesting",
      "alpha and beta both", // first-match: alpha split wins
    )
    Files.write(new java.io.File(inDir, "batch1.txt").toPath,
      lines.mkString("\n").getBytes("UTF-8"))

    def runOnce(): Unit = {
      val src = spark.readStream.text(inDir.getAbsolutePath)
        .select(lit(null).cast("binary").as("key"), col("value"))
      val q = StreamRouter.routeStream(src, spliter)
        .select($"value".cast("string").as("value"), $"topic")
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckDir.getAbsolutePath)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }

    runOnce()
    val out = spark.read.parquet(outDir.getAbsolutePath)
      .as[(String, String)].collect().toMap
    assert(out == Map(
      "line with alpha marker" -> "t-alpha",
      "line with beta marker" -> "m",
      "nothing interesting" -> "u",
      "alpha and beta both" -> "t-alpha",
    ))

    // restart with the same checkpoint: no new files => no new rows
    // (exactly-once on the file sink's manifest)
    runOnce()
    assert(spark.read.parquet(outDir.getAbsolutePath).count() == 4)

    // restart WITH new data: exactly the new rows are appended, old batch
    // is not re-emitted — exactly-once across the checkpoint boundary
    Files.write(new java.io.File(inDir, "batch2.txt").toPath,
      Seq("late alpha line", "late nothing").mkString("\n").getBytes("UTF-8"))
    runOnce()
    val all = spark.read.parquet(outDir.getAbsolutePath)
      .as[(String, String)].collect().toMap
    assert(all.size == 6)
    assert(all("late alpha line") == "t-alpha")
    assert(all("late nothing") == "u")
  }

  test("a sink that crashes mid-batch loses no row on restart; duplicates stay in that batch") {
    val inDir = Files.createTempDirectory("graft-crash-in").toFile
    val ckDir = Files.createTempDirectory("graft-crash-ck").toFile
    val words = Seq("alpha", "beta", "nothing", "alpha beta")
    val files = (0 until 3).map(f => (0 until 8).map(i => s"file $f row $i ${words(i % words.size)}"))
    files.zipWithIndex.foreach { case (ls, f) =>
      Files.write(new java.io.File(inDir, s"batch$f.txt").toPath, ls.mkString("\n").getBytes("UTF-8"))
    }
    val crashBatch = 1L
    val crashed = new AtomicBoolean(false)
    // (batch id, value, topic) in delivery order, across both runs
    val delivered = new ConcurrentLinkedQueue[(Long, String, String)]()

    def runOnce(): Unit = {
      val src = spark.readStream.option("maxFilesPerTrigger", 1).text(inDir.getAbsolutePath)
        .select(lit(null).cast("binary").as("key"), col("value"))
      val q = Router.routeKeep(src, spliter)
        .select($"value".cast("string").as("value"), $"topic")
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val rows = batch.as[(String, String)].collect().sortBy(_._1)
          rows.zipWithIndex.foreach { case ((v, t), i) =>
            // the first attempt of crashBatch dies after half its rows
            if (id == crashBatch && i == rows.length / 2 && crashed.compareAndSet(false, true))
              throw new IllegalStateException("sink crashed mid-batch")
            delivered.add((id, v, t))
          }
        }
        .option("checkpointLocation", ckDir.getAbsolutePath)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }

    val e = intercept[StreamingQueryException](runOnce())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => Option(x.getMessage).exists(_.contains("sink crashed mid-batch"))), e)
    assert(crashed.get)
    val beforeRestart = delivered.size
    assert(beforeRestart == files.head.size + files(1).size / 2)
    runOnce() // same checkpoint: the failed batch is replayed, then the rest

    val got = delivered.asScala.toSeq
    val input = files.flatten
    val census = Router.routeKeep(input.toDF("value"), spliter)
      .select($"value", $"topic").as[(String, String)].collect().toMap
    // no input row is lost, and every delivery carries the batch route
    assert(got.map(_._2).toSet == input.toSet)
    got.foreach { case (_, v, t) => assert(t == census(v), v) }
    // duplicates: exactly the rows the crashed attempt wrote, again in the
    // same (replayed) batch id
    val dups = got.groupBy(_._2).filter(_._2.size > 1)
    assert(dups.size == files(1).size / 2)
    dups.foreach { case (v, ds) =>
      assert(ds.size == 2 && ds.forall(_._1 == crashBatch), s"$v delivered as $ds")
    }
    assert(got.size == input.size + dups.size)
  }
}
