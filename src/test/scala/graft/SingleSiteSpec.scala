package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Single-site rules: each pattern may appear in `src/main` only in its
  * allowed files.
  *   - `.read.parquet(` only in `Tables.scala`: every other parquet read goes
  *     through `Tables.read`, so none bypasses its schema memo or the
  *     `events` timestamp dispatch, and a duplicate reader (the old
  *     `Analytics.read`) cannot come back.
  *   - `SparkSession.builder` only in `Harness.scala` and the production
  *     `Main.scala`: the measuring and checking mains share one session
  *     config, so the plans `explain` prints are the plans `Bench` times.
  */
class SingleSiteSpec extends AnyFunSuite {

  private val parquetRead = """\.read\s*\.parquet\s*\(""".r
  private val sessionBuilder = """SparkSession\s*\.\s*builder\b""".r

  private val rules: Seq[(String, Regex, Seq[String])] = Seq(
    (".read.parquet(", parquetRead, Seq("Tables.scala")),
    ("SparkSession.builder", sessionBuilder, Seq("Harness.scala", "Main.scala")))

  /** `text` with its comments blanked; newlines are kept, so offsets map to
    * the same lines.
    */
  private def code(text: String): String =
    """(?s)/\*.*?\*/|//[^\n]*""".r.replaceAllIn(text,
      m => java.util.regex.Matcher.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))

  /** Sites of `pattern` in one source text, as "name:line". */
  private def sites(pattern: Regex, name: String, text: String): Seq[String] = {
    val c = code(text)
    pattern.findAllMatchIn(c).map(m => s"$name:${c.take(m.start).count(_ == '\n') + 1}").toSeq
  }

  private val root = Paths.get("src/main/scala")

  rules.foreach { case (label, pattern, allowed) =>
    test(s"no main source outside ${allowed.mkString(" or ")} calls $label") {
      assert(Files.isDirectory(root), s"source root not found from ${Paths.get("").toAbsolutePath}")
      val owners = allowed.map(a => root.resolve(s"graft/$a")).toSet
      val all = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .sorted.map(f => f -> sites(pattern, f.toString, Files.readString(f)))
      owners.foreach(o => assert(all.exists { case (f, s) => f == o && s.nonEmpty },
        s"$o no longer calls $label — the scan is looking at the wrong tree"))
      val others = all.collect { case (f, s) if !owners(f) => s }.flatten
      assert(others.isEmpty, s"$label belongs only in ${allowed.mkString(", ")}:\n  ${others.mkString("\n  ")}")
    }
  }

  test("the scan finds split and plain reads and ignores comments") {
    val src =
      """val a = spark.read.parquet(p)
        |// spark.read.parquet(p) in a comment
        |/** the old form: spark.read.parquet(s"$dir/$t.parquet") */
        |val b = spark.read
        |  .parquet(q)""".stripMargin
    assert(sites(parquetRead, "planted", src) == Seq("planted:1", "planted:4"))
  }

  test("the scan finds split and plain session builders and ignores comments") {
    val src =
      """val a = SparkSession.builder().master("local[4]").getOrCreate()
        |// SparkSession.builder() in a comment
        |/** the old form: SparkSession.builder().master("local[32]") */
        |val b = SparkSession
        |  .builder()
        |val c = SparkSession.builderLike""".stripMargin
    assert(sites(sessionBuilder, "planted", src) == Seq("planted:1", "planted:4"))
  }
}
