package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One table reader: `Tables.scala` is the only main source that calls
  * `.read.parquet(`. Every other parquet read goes through `Tables.read`,
  * so none bypasses its schema memo or the `events` timestamp dispatch,
  * and a duplicate reader (the old `Analytics.read`) cannot come back.
  */
class OneTableReaderSpec extends AnyFunSuite {

  private val site = """\.read\s*\.parquet\s*\(""".r

  /** `text` with its comments blanked; newlines are kept, so offsets map to
    * the same lines.
    */
  private def code(text: String): String =
    """(?s)/\*.*?\*/|//[^\n]*""".r.replaceAllIn(text,
      m => java.util.regex.Matcher.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))

  /** Parquet reader sites of one source text, as "name:line". */
  private def sites(name: String, text: String): Seq[String] = {
    val c = code(text)
    site.findAllMatchIn(c).map(m => s"$name:${c.take(m.start).count(_ == '\n') + 1}").toSeq
  }

  test("no main source outside Tables.scala calls .read.parquet(") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"source root not found from ${Paths.get("").toAbsolutePath}")
    val reader = root.resolve("graft/Tables.scala")
    val all = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sorted.map(f => f -> sites(f.toString, Files.readString(f)))
    assert(all.exists { case (f, s) => f == reader && s.nonEmpty },
      "Tables.scala no longer reads parquet — the scan is looking at the wrong tree")
    val others = all.collect { case (f, s) if f != reader => s }.flatten
    assert(others.isEmpty,
      s"parquet tables are read only through graft.Tables.read:\n  ${others.mkString("\n  ")}")
  }

  test("the scan finds split and plain reads and ignores comments") {
    val src =
      """val a = spark.read.parquet(p)
        |// spark.read.parquet(p) in a comment
        |/** the old form: spark.read.parquet(s"$dir/$t.parquet") */
        |val b = spark.read
        |  .parquet(q)""".stripMargin
    assert(sites("planted", src) == Seq("planted:1", "planted:4"))
  }
}
