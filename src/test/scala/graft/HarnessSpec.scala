package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Harness`'s argument check, which runs before any session is built, and
  * its per-query step: build, sink, then drain, also when the query fails.
  */
class HarnessSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def accepts(args: String*) = Harness.mode(args).isRight

  test("every mode checks its names and arguments before a session exists") {
    val q = "q01_pricing_summary"
    assert(accepts("time", "dir", "2", q, "q06_forecast_revenue"))
    assert(!accepts("time", "dir", "2", q, "no_such_query"))
    assert(!accepts("time", "dir", "two", q))
    assert(!accepts("time", "dir", "2"))
    assert(!accepts("explain"), "the sf dir is required")
    assert(accepts("explain", "dir"))
    assert(accepts("explain", "dir", q))
    assert(!accepts("explain", "dir", q, "no_such_query"))
    assert(accepts("profile", "dir", q))
    assert(accepts("profile", "dir", q, "2", "/tmp/p.jfr"))
    assert(accepts("profile", "dir", "trainer:cluster_build"))
    assert(!accepts("profile", "dir"), "the query name is required")
    assert(!accepts("profile", "dir", "q01_agg_pushdown"))
    assert(!accepts("profile", "dir", "trainer:no_such_trainer"))
    assert(!accepts("profile", "dir", q, "two"))
    assert(!accepts("profile", "dir", q, "2", "/tmp/p.jfr", "extra"))
    assert(!accepts())
    assert(!accepts("bench"))
  }

  test("step hands the built frame to the sink and drains, also when the sink throws") {
    Cleanup.drain()
    var seen = -1L
    Harness.step("spec", "ok")(Cleanup.register(Seq(1, 2, 3).toDF("x").localCheckpoint()))(
      df => seen = df.count())
    assert(seen == 3)
    assert(Cleanup.pendingCount == 0)
    val r = Harness.step("spec", "failing")(Cleanup.register(Seq(1).toDF("x").localCheckpoint()))(
      _ => throw new IllegalStateException("planted"))
    assert(r.sec >= 0)
    assert(Cleanup.pendingCount == 0)
  }
}
