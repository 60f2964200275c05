package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

class AnalyticsSpec extends AnyFunSuite {
  import TestSpark.{spark, sf0001}
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("asOfJoin: latest right value at or before each left row, per key") {
    val left = Seq(
      (1L, 10L, t("2024-01-01 05:00:00")),
      (2L, 10L, t("2024-01-01 07:00:00")),
      (3L, 11L, t("2024-01-01 05:00:00")), // key 11 has no prior right row
    ).toDF("lid", "k", "lt")
    val right = Seq(
      (10L, t("2024-01-01 04:00:00"), 100.0),
      (10L, t("2024-01-01 06:00:00"), 200.0),
      (10L, t("2024-01-01 08:00:00"), 300.0),
    ).toDF("rk", "rt", "rv")
    val got = Analytics.asOfJoin(left, right, "k", "rk", "lt", "rt", "rv")
      .select($"lid", $"asof_val").as[(Long, Option[Double])].collect().toMap
    assert(got == Map(1L -> Some(100.0), 2L -> Some(200.0), 3L -> None))
  }

  test("asOfJoin: caller key names that collide with old temps still work") {
    // the internals are __asof_-prefixed, so a left key literally named
    // "t" (or "rv"/"is_left") must not become an ambiguous reference
    val left = Seq((1L, 10L, t("2024-01-01 05:00:00"))).toDF("lid", "t", "lt")
    val right = Seq((10L, t("2024-01-01 04:00:00"), 100.0)).toDF("rk", "rt", "rv")
    val got = Analytics.asOfJoin(left, right, "t", "rk", "lt", "rt", "rv")
      .select($"lid", $"asof_val").as[(Long, Option[Double])].collect().toMap
    assert(got == Map(1L -> Some(100.0)))
  }

  test("asOfJoin: right row at EXACTLY left time is included ('at or before')") {
    val left = Seq((1L, 5L, t("2024-01-01 06:00:00"))).toDF("lid", "k", "lt")
    val right = Seq((5L, t("2024-01-01 06:00:00"), 42.0)).toDF("rk", "rt", "rv")
    val got = Analytics.asOfJoin(left, right, "k", "rk", "lt", "rt", "rv")
      .select($"asof_val").as[Option[Double]].head()
    assert(got.contains(42.0))
  }

  test("bandedRangeJoin equals the naive theta join on real events") {
    val ev = Tables.events(spark, sf0001)
    val probes = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("probe_id"), $"user_id", $"ts".as("p_ts"))
    val hits = ev.filter($"event_type" === "error")
      .select($"event_id".as("hit_id"), $"user_id".as("h_user"), $"ts".as("h_ts"))
    val banded = Analytics.bandedRangeJoin(probes, hits, "user_id", "h_user", "p_ts", "h_ts", 3600L)
      .select("probe_id", "hit_id").as[(Long, Long)].collect().toSet
    val naive = probes.join(hits,
        $"user_id" === $"h_user" &&
          unix_timestamp($"h_ts").between(unix_timestamp($"p_ts") - 3600, unix_timestamp($"p_ts")))
      .select("probe_id", "hit_id").as[(Long, Long)].collect().toSet
    assert(banded == naive)
    assert(banded.nonEmpty)
  }

  test("pricing summary groups are complete and positive") {
    val rows = Analytics.pricingSummary(spark, sf0001)
    assert(rows.count() > 0)
    val r = rows.select($"sum_qty", $"count_order").as[(Double, Long)].collect()
    r.foreach { case (q, c) => assert(q > 0); assert(c > 0) }
  }

  test("q05 revenue that ends in an exact half cent rounds up, in every row order") {
    // Σ price·(1 − discount) = 407094.2050 exactly; summed as doubles in
    // this order it is 407094.20499999996, reversed 407094.205
    val lines = Seq((21770.52, 0.03), (98810.64, 0.0), (97821.80, 0.09),
      (67551.94, 0.0), (38091.37, 0.0), (94392.87, 0.02))
    for (order <- Seq(lines, lines.reverse)) {
      val dir = java.nio.file.Files.createTempDirectory("graft-q05").toFile.getAbsolutePath
      order.map { case (p, d) => (1L, p, d) }.toDF("l_suppkey", "l_extendedprice", "l_discount")
        .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
      Seq((1L, 0)).toDF("s_suppkey", "s_nationkey").write.parquet(s"$dir/supplier.parquet")
      Seq((0, "NATION_0")).toDF("n_nationkey", "n_name").write.parquet(s"$dir/nation.parquet")
      for (q <- Seq("q05_revenue_by_nation", "q05_salted")) {
        val got = graft.SparkEntry.queries(q)(spark, dir)
          .select($"n_name", $"revenue", $"n_items").as[(String, Double, Long)].collect().toSeq
        assert(got == Seq(("NATION_0", 407094.21, 6L)), s"$q, rows ${order.map(_._1).mkString(" ")}")
      }
    }
  }

  test("rollup emits leaf, subtotal and grand-total rows") {
    val rows = Analytics.ordersRollup(spark, sf0001)
      .select("status", "priority").as[(String, String)].collect()
    assert(rows.contains(("ALL", "ALL")))
    assert(rows.exists { case (s, p) => s != "ALL" && p == "ALL" })
    assert(rows.exists { case (s, p) => s != "ALL" && p != "ALL" })
  }

  test("approx_percentile tracks the exact percentile within 2% per group") {
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val joined = orders.groupBy($"o_orderpriority")
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("approx_percentile(o_totalprice, 0.5, 1000)").as("p50a"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        expr("approx_percentile(o_totalprice, 0.9, 1000)").as("p90a"))
      .select($"p50", $"p50a", $"p90", $"p90a")
      .as[(Double, Double, Double, Double)].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (p50, p50a, p90, p90a) =>
      assert(math.abs(p50 - p50a) / p50 < 0.02, s"p50 sketch drifted: $p50 vs $p50a")
      assert(math.abs(p90 - p90a) / p90 < 0.02, s"p90 sketch drifted: $p90 vs $p90a")
    }
  }

  test("globalCumsum equals the single-window prefix sum on a duplicate-heavy key") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(2000).select(
      (col("id") % 37).as("k"), col("id").as("rid"),
      ((col("id") * 7) % 100 + 1).as("v"))
    val got = Analytics.globalCumsum(df, "k", "rid", "v")
      .select($"rid", $"cum").as[(Long, Long)].collect().toMap
    val want = df.withColumn("cum",
        sum($"v").over(Window.orderBy($"k", $"rid")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select($"rid", $"cum").as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("globalRank/globalCumsum: forced (key, __b) two-phase equals the one-window form") {
    import org.apache.spark.sql.expressions.Window
    // duplicate-heavy value key (37 values over 2000 rows — the tie-group
    // funnel the round-9 measured sweep flagged) + full-range hash ids so
    // the decimal bucket arithmetic is exercised end to end
    val df = spark.range(2000).select(
      (col("id") % 37).as("k"), xxhash64(col("id")).as("rid"),
      ((col("id") * 7) % 100 + 1).as("v"))
    val wantRank = df.withColumn("global_rank",
        row_number().over(Window.orderBy($"k", $"rid")).cast("long"))
      .select($"rid", $"global_rank").as[(Long, Long)].collect().toMap
    for (buckets <- Seq(3, 64)) {
      val got = Analytics.globalRankAll(df, "k", "rid",
          posBuckets = buckets, autoDegradeBelow = 0)
        .select($"rid", $"global_rank").as[(Long, Long)].collect().toMap
      assert(got == wantRank, s"two-phase rank (posBuckets=$buckets) diverges")
    }
    val wantCum = df.withColumn("cum",
        sum($"v").over(Window.orderBy($"k", $"rid")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select($"rid", $"cum").as[(Long, Long)].collect().toMap
    val gotCum = Analytics.globalCumsum(df, "k", "rid", "v",
        autoDegradeBelow = 0)
      .select($"rid", $"cum").as[(Long, Long)].collect().toMap
    assert(gotCum == wantCum, "two-phase cumsum diverges from the one-window form")
    // the forced plan carries the sub-bucketed window
    val p = Analytics.globalRankAll(df, "k", "rid", autoDegradeBelow = 0)
      .queryExecution.optimizedPlan.toString
    val i = p.indexOf("windowspecdefinition(k")
    assert(i >= 0 && p.substring(i, i + 60).contains("__b"),
      s"forced two-phase rank lost its (key, __b) window:\n$p")
  }

  test("snapshotDiff emits exactly the added/removed/changed rows") {
    val oldS = Seq((1L, 11L), (2L, 22L), (3L, 33L), (4L, 44L))
      .toDF("id", "fp")
    val newS = Seq((2L, 22L), (3L, 99L), (4L, 44L), (5L, 55L))
      .toDF("id", "fp")
    val got = Analytics.snapshotDiff(oldS, newS, "id", "fp")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "removed"), (3L, "changed"), (5L, "added")))
  }

  test("zorderKey matches a reference Morton interleave; box locality holds") {
    def morton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val pts = spark.range(1500).select(
      (col("id") * 131 % 16384).as("x"), (col("id") * 37 % 16384).as("y"))
    val got = pts.select($"x", $"y", Analytics.zorderKey($"x", $"y").as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z == morton(x, y, 14), s"zorder($x,$y) = $z != ${morton(x, y, 14)}")
    }
    // locality: two points share a z-prefix of 2b bits iff they fall in
    // the same 2^(14-b)-aligned box on BOTH axes
    got.foreach { case (x, y, z) =>
      val b = 7
      assert((z >> (2 * b)) == morton(x >> b, y >> b, 14 - b),
        "z prefix does not address the enclosing box")
    }
  }

  test("profileTable: nulls, exact distincts, numeric ranges from one pass") {
    val df = Seq(
      (Some(1L), Some("a"), Some(2.5)),
      (Some(1L), None, Some(-1.0)),
      (Some(3L), Some("b"), None)
    ).toDF("k", "s", "v")
    val got = Analytics.profileTable(df, Seq("k", "s", "v"))
      .as[(String, Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("k") == (("k", 3L, 3L, 0L, 2L, Some(1.0), Some(3.0))))
    assert(got("s") == (("s", 3L, 2L, 1L, 2L, None, None)),
      "string column must report null min/max")
    assert(got("v") == (("v", 3L, 2L, 1L, 2L, Some(-1.0), Some(2.5))))
  }

  test("scoreDrift: per-bucket TVD deltas, disjoint buckets, cent snapping") {
    // ref: 4 docs at 0.70, 1 at 0.40; cur: 1 at 0.70, 3 at 0.40, 1 at 1.0
    val ref = Seq(0.7, 0.7, 0.7, 0.7, 0.4).toDF("q")
    val cur = Seq(0.7, 0.4, 0.4, 0.4, 1.0).toDF("q")
    val got = Analytics.scoreDrift(ref, cur, "q")
      .as[(Int, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // |0.8 − 0.2|·1e6 = 600000; |0.2 − 0.6|·1e6 = 400000; cur-only 1.0
    // bucket: |0 − 0.2|·1e6 = 200000 — and 0.7·100 must snap to 70, not 69
    assert(got(70) == ((70, 4L, 1L, 600000.0)))
    assert(got(40) == ((40, 1L, 3L, 400000.0)))
    assert(got(100) == ((100, 0L, 1L, 200000.0)))
    assert(got.keySet == Set(40, 70, 100))
    // identical snapshots drift zero in every bucket
    val zero = Analytics.scoreDrift(ref, ref, "q")
      .as[(Int, Long, Long, Double)].collect()
    assert(zero.forall(_._4 == 0.0) && zero.length == 2)
    // TVD = Σd/2e6: the headline number the monitor alerts on
    val tvd = got.values.map(_._4).sum / 2e6
    assert(math.abs(tvd - 0.6) < 1e-12)
  }

  test("scoreDriftBy: per-group totals; singleton group matches pooled; one-sided group saturates at 0.5") {
    val ref = Seq(("a", 0.7), ("a", 0.7), ("a", 0.4), ("b", 0.9), ("b", 0.9)).toDF("src", "q")
    val cur = Seq(("a", 0.7), ("a", 0.4), ("a", 0.4), ("c", 0.2)).toDF("src", "q")
    val got = Analytics.scoreDriftBy(ref, cur, "src", "q")
      .as[(String, Int, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // group a: shares computed against a's OWN totals (3 ref, 3 cur)
    val aExp = Analytics.scoreDrift(
        ref.filter($"src" === "a"), cur.filter($"src" === "a"), "q")
      .as[(Int, Long, Long, Double)].collect().map(r => ("a", r._1) -> r._4).toMap
    aExp.foreach { case (k, d) => assert(got(k)._5 == d, s"$k: grouped != pooled-on-group") }
    // group b vanished from cur: every bucket carries its ref share, group
    // TVD saturates at exactly 0.5 (the scaladoc's outage signature)
    assert(got(("b", 90)) == (("b", 90, 2L, 0L, 1000000.0)))
    val bTvd = got.collect { case ((g, _), r) if g == "b" => r._5 }.sum / 2e6
    assert(bTvd == 0.5)
    // group c is brand-new: same saturation from the other side
    assert(got(("c", 20)) == (("c", 20, 0L, 1L, 1000000.0)))
    // no cross-group contamination: keys are exactly the occupied pairs
    assert(got.keySet == Set(("a", 70), ("a", 40), ("b", 90), ("c", 20)))
  }

  test("driftBuild/scoreDriftWith: artifact path == raw path on synthetic and real scores") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Long, Long, Double)].collect().toSet
    val ref = Seq(0.7, 0.7, 0.7, 0.7, 0.4).toDF("q")
    val cur = Seq(0.7, 0.4, 0.4, 0.4, 1.0).toDF("q")
    val idx = Analytics.driftBuild(ref, "q")
    assert(rows(Analytics.scoreDriftWith(cur, idx, "q")) ==
      rows(Analytics.scoreDrift(ref, cur, "q")))
    // real corpus: the wired docs_score_drift split through the artifact
    val docs = spark.read.parquet(s"${graft.TestSpark.sf0001}/documents.parquet")
    val scored = TextAnalysis.qualityScore(docs, "text")
      .select($"doc_id", $"quality_score")
    val rIdx = Analytics.driftBuild(scored.filter($"doc_id" % 2 === 0), "quality_score")
      .persist()
    val even = scored.filter($"doc_id" % 2 === 0)
    val odd = scored.filter($"doc_id" % 2 === 1)
    assert(rows(Analytics.scoreDriftWith(odd, rIdx, "quality_score")) ==
      rows(Analytics.scoreDrift(even, odd, "quality_score")))
    rIdx.unpersist()
  }

  test("rrfFuse: shared id outranks either single-list leader; absent ranks contribute 0 and report -1") {
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rank")
    val b = Seq((3L, 1), (4L, 2)).toDF("doc_id", "rank")
    val got = Analytics.rrfFuse(Seq(a, b), "doc_id", kConst = 60L, topK = 10)
      .as[(Long, Double, Long, Long)].collect().sortBy(-_._2).toList
    // exact same arithmetic as the op: fixed fold order a-then-b
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_._1) == List(3L, 1L, 2L, 4L),
      s"id 3 (rank 3 ⊕ rank 1) must outrank both list leaders; ties (2, 4) break by id: $got")
    assert(got.head == ((3L, r6(1.0 / 63.0 + 1.0 / 61.0), 3L, 1L)))
    assert(got(1) == ((1L, r6(1.0 / 61.0), 1L, -1L)), "absent from B → contribution 0, rank -1")
    assert(got(3) == ((4L, r6(1.0 / 62.0), -1L, 2L)))
    // topK cut: k=1 keeps exactly the fused winner
    val cut = Analytics.rrfFuse(Seq(a, b), "doc_id", topK = 1)
      .as[(Long, Double, Long, Long)].collect().toList
    assert(cut.map(_._1) == List(3L))
  }

  test("contentDigest: order/partitioning-independent, mergeable, corruption-sensitive") {
    val docs = Tables.read(spark, sf0001, "documents")
    def dig(df: org.apache.spark.sql.DataFrame) =
      Analytics.contentDigest(df, Seq("source"), Seq("doc_id", "text"))
        .select($"source", $"n_rows", $"digest".cast("string"))
        .as[(String, Long, String)].collect().map { case (s, n, d) => (s, (n, d)) }.toMap
    val full = dig(docs)
    // order & partitioning independence: a reshuffled scan digests identically
    assert(dig(docs.repartition(17).sortWithinPartitions($"text")) == full)
    // mergeability: union digest == elementwise sum of per-batch digests
    val a = Analytics.contentDigest(docs.filter($"doc_id" % 2 === 0), Seq("source"), Seq("doc_id", "text"))
    val b = Analytics.contentDigest(docs.filter($"doc_id" % 2 === 1), Seq("source"), Seq("doc_id", "text"))
    val merged = a.unionByName(b).groupBy($"source")
      .agg(sum($"n_rows").as("n_rows"), sum($"digest").cast("decimal(38,0)").as("digest"))
      .select($"source", $"n_rows", $"digest".cast("string"))
      .as[(String, Long, String)].collect().map { case (s, n, d) => (s, (n, d)) }.toMap
    assert(merged == full, "digest of a union must equal the sum of per-batch digests")
    // sensitivity: flipping one char of one row changes that group's digest
    val tampered = dig(docs.withColumn("text",
      when($"doc_id" === 7, concat($"text", lit("x"))).otherwise($"text")))
    val victim = docs.filter($"doc_id" === 7).select($"source").as[String].head()
    assert(tampered(victim)._2 != full(victim)._2, "corrupted row must flip its group digest")
    assert((tampered - victim) == (full - victim), "untouched groups must digest identically")
    // column-boundary separator: ("ab","c") and ("a","bc") must not collide
    val x = Seq(("g", "ab", "c")).toDF("g", "u", "v")
    val y = Seq(("g", "a", "bc")).toDF("g", "u", "v")
    def one(df: org.apache.spark.sql.DataFrame) =
      Analytics.contentDigest(df, Seq("g"), Seq("u", "v"))
        .select($"digest".cast("string")).as[String].head()
    assert(one(x) != one(y))
  }

  test("clusterLabels: planted cluster-specific terms top their own bucket, lift > 1") {
    // 3 buckets × 30 docs; every doc shares filler words, each bucket has
    // a distinctive marker word — the marker must be rank 1 in its bucket
    // with lift ≈ 3 (present in 1/3 of the corpus, all of one bucket)
    val docs = spark.range(90).select(
      $"id".as("doc_id"),
      concat(lit("the quick filler text marker"),
        pmod($"id", lit(3L)).cast("string")).as("text"))
      .withColumn("text", concat($"text", lit(" common words everywhere")))
    val assigned = spark.range(90).select(
      $"id".as("doc_id"), pmod($"id", lit(3L)).as("bucket"))
    val got = Analytics.clusterLabels(docs, assigned, topK = 2, minDocs = 2)
      .select("bucket", "rnk", "term", "lift_r")
      .as[(Long, Int, String, Double)].collect()
    for (b <- 0L to 2L) {
      val top = got.filter(r => r._1 == b && r._2 == 1).head
      assert(top._3 == s"marker$b", s"bucket $b labeled ${top._3}")
      assert(top._4 == 3.0) // 30/30 in-bucket vs 30/90 corpus-wide
    }
    // filler words (lift exactly 1) never outrank the marker
    got.filter(_._2 == 1).foreach(r => assert(r._4 > 1.0))
    // minDocs prunes: a term in a single doc can't appear
    val docs2 = docs.withColumn("text",
      when($"doc_id" === 0, concat($"text", lit(" singletonword"))).otherwise($"text"))
    val got2 = Analytics.clusterLabels(docs2, assigned, topK = 5, minDocs = 2)
      .filter($"term" === "singletonword").count()
    assert(got2 == 0)
  }

  test("quantileNormalize: single group is identity; shifted source calibrates onto the pool; order preserved") {
    // one group == the pool: midrank idx collapses to the row's own
    // pooled rank, so qnorm == value exactly
    val one = (1 to 40).map(i => (i.toLong, "s", (i * 7 % 23).toLong))
      .toDF("id", "g", "v")
    val idOne = Analytics.quantileNormalize(one, "g", "id", "v")
      .select($"v", $"qnorm").as[(Long, Long)].collect()
    assert(idOne.forall { case (v, q) => v == q }, "single-group qnorm must be identity")
    // two sources drawing the same shape at wildly different scales: a
    // 0-99 source and a +1000-shifted source — after normalization both
    // land on the POOLED value set and each source's median maps near
    // the pooled median (the property quantile normalization exists for)
    val a = (0 until 50).map(i => (i.toLong, "a", i.toLong * 2))
    val b = (0 until 50).map(i => ((100 + i).toLong, "b", 1000L + i * 2))
    val df = (a ++ b).toDF("id", "g", "v")
    val out = Analytics.quantileNormalize(df, "g", "id", "v")
      .select($"id", $"g", $"v", $"qnorm").as[(Long, String, Long, Long)].collect()
    val pooled = df.select($"v").as[Long].collect().sorted
    out.foreach { case (_, _, _, q) =>
      assert(pooled.contains(q), "qnorm must be an existing pooled value, never interpolated") }
    // equal-size groups at equal ranks get the SAME normalized score —
    // the distributions are made identical, which is the calibration
    val byRank = out.groupBy(_._2).view.mapValues(_.sortBy(_._3).map(_._4).toSeq).toMap
    assert(byRank("a") == byRank("b"),
      "equal-size sources must normalize onto identical distributions")
    // within-source order is preserved (monotone map)
    byRank.values.foreach(qs => assert(qs == qs.sorted))
    // the composite-rank-minus-offset derivation equals the naive
    // group-partitioned window form EXACTLY (the window form is the
    // config-scale funnel the measured sweep rejects; this pin is what
    // lets the scale shape replace it)
    val docs = spark.read.parquet(s"${graft.TestSpark.sf0001}/documents.parquet")
    val viaOp = Analytics.quantileNormalize(
        docs.select($"doc_id", $"source", $"n_chars"), "source", "doc_id", "n_chars")
      .select($"doc_id", $"qnorm").as[(Long, Long)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"n_chars", $"doc_id")
    val naive = docs
      .withColumn("__r", row_number().over(w))
      .withColumn("__ns", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")))
      .crossJoin(docs.agg(count(lit(1)).as("__N")))
      .withColumn("__idx", expr("((2 * __r - 1) * __N) DIV (2 * __ns)") + lit(1L))
    val pooledRanks = docs.select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy($"n_chars", $"doc_id")).cast("long").as("__gr"),
        $"n_chars".as("qn"))
    val viaWindow = naive.join(pooledRanks, $"__idx" === $"__gr")
      .select($"doc_id", $"qn").as[(Long, Long)].collect().toMap
    assert(viaOp == viaWindow,
      "two-phase qnorm must equal the one-window reference form")
    intercept[IllegalArgumentException] {
      Analytics.quantileNormalize(df.withColumn("qnorm", lit(1)), "g", "id", "v")
    }
  }

  test("histSketch: one-bin-width quantile bound vs exact; merge == one-shot; clamping; geometry guards") {
    val docs = spark.read.parquet(s"${graft.TestSpark.sf0001}/documents.parquet")
    val (lo, hi, bins) = (0L, 512L, 64)
    val width = (hi - lo) / bins
    val sk = Analytics.histBuild(docs, "n_chars", lo, hi, bins)
    val qs = Seq(100, 250, 500, 750, 900, 990, 1000)
    val got = Analytics.histQuantiles(sk, qs)
      .select($"q_pm", $"est_hi", $"rank").as[(Int, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // exact k-th smallest (clamped like the sketch) for each rank: the
    // true quantile must sit INSIDE the answering bin — est_hi − width ≤
    // exact < est_hi, the bound the fixed geometry buys
    val sorted = docs.select(
        greatest(lit(lo), least($"n_chars", lit(hi - 1))).as[Long])
      .collect().sorted
    qs.foreach { q =>
      val (estHi, rank) = got(q)
      val exact = sorted((rank - 1).toInt)
      assert(exact < estHi && exact >= estHi - width,
        s"q=$q: exact $exact outside bin (${estHi - width}, $estHi]")
    }
    // merge law: per-batch sketches folded == the one-shot census, and
    // every quantile read is identical
    val m = Analytics.histMerge(
      Analytics.histBuild(docs.filter($"doc_id" % 2 === 0), "n_chars", lo, hi, bins),
      Analytics.histBuild(docs.filter($"doc_id" % 2 === 1), "n_chars", lo, hi, bins))
    val oneC = sk.counters.as[(Long, Long)].collect().toSet
    val mC = m.counters.as[(Long, Long)].collect().toSet
    assert(mC == oneC, "merged counters must equal the one-shot census")
    // out-of-range values clamp to the edge bins and stay counted
    val oor = Seq(-5L, 0L, 511L, 10000L).toDF("v")
    val cs = Analytics.histBuild(oor, "v", lo, hi, bins)
      .counters.as[(Long, Long)].collect().toMap
    assert(cs(0L) == 2L && cs(63L) == 2L)
    // geometry guards
    intercept[IllegalArgumentException] {
      Analytics.histBuild(docs, "n_chars", 0L, 100L, 7) // 7 does not divide 100
    }
    intercept[IllegalArgumentException] {
      Analytics.histMerge(sk, Analytics.histBuild(docs, "n_chars", 0L, 512L, 32))
    }
    intercept[IllegalArgumentException] {
      Analytics.histQuantiles(sk, Seq(0))
    }
  }

  test("percentileExact === the built-in percentile() bit-for-bit") {
    // orders at sf0.001: real value distribution, 5 groups; compare the
    // census-located form against the all-values-buffer built-in with
    // EXACT double equality (the interpolation replays the built-in's
    // own IEEE expression term-for-term, so === is the contract) — at
    // the wired cent lattice AND at a deliberately coarse 8-bin one
    // (answering buckets then hold big value runs, exercising the
    // per-value census path hard)
    val orders = spark.read.parquet(s"${graft.TestSpark.sf0001}/orders.parquet")
    val fracs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val aggCols = fracs.map(q =>
      expr(s"percentile(o_totalprice, $q)").as(s"p$q"))
    val viaAgg = orders.groupBy($"o_orderpriority")
      .agg(aggCols.head, aggCols.tail: _*)
      .collect().map(r => r.getString(0) ->
        fracs.indices.map(i => r.getDouble(i + 1))).toMap
    for (bins <- Seq(1000, 8)) {
      val got = Analytics.percentileExact(orders, "o_orderpriority",
          "o_totalprice", fracs, lo = 0L, hi = 80000000L, bins = bins,
          scale = 100L)
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      viaAgg.foreach { case (g, ps) =>
        fracs.zip(ps).foreach { case (q, expect) =>
          assert(got((g, q)) == expect,
            s"bins=$bins g=$g q=$q: ${got((g, q))} != $expect")
        }
      }
    }
    // null values excluded exactly like the built-in; tied values, an
    // interpolated position, an integral position (q=1.0 → pos 3), and
    // values clamping below lo / above hi (still rank-exact: clamping
    // is monotone) — checked against the built-in on the same frame
    val tied = Seq(("a", Some(-2.0)), ("a", Some(2.0)), ("a", Some(2.0)),
      ("a", Some(5.0)), ("a", Some(99.0)), ("a", None))
      .toDF("g", "v")
    val gotT = Analytics.percentileExact(tied, "g", "v", Seq(0.5, 1.0),
        lo = 0L, hi = 8L, bins = 4, scale = 1L)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    val expT = tied.groupBy($"g").agg(
        expr("percentile(v, 0.5)"), expr("percentile(v, 1.0)"))
      .collect().head
    assert(gotT(0.5) == expT.getDouble(1) && gotT(1.0) == expT.getDouble(2),
      s"tied/null/clamped case: $gotT vs $expT")
    // occupancy guard: a cap below the hottest bucket (the two tied 2.0s
    // share one width-2 bucket) fails loudly by name, census-grain
    val occ = intercept[Exception] {
      Analytics.percentileExact(tied, "g", "v", Seq(0.5),
        lo = 0L, hi = 8L, bins = 4, scale = 1L, maxBucketRows = 1L).collect()
    }
    assert(occ.getMessage != null && occ.getMessage.contains("bucket occupancy"),
      s"occupancy guard must name itself: ${occ.getMessage}")
    // guards: bad fraction, duplicate fraction, bad geometry, reserved column
    intercept[IllegalArgumentException] {
      Analytics.percentileExact(tied, "g", "v", Seq(1.5))
    }
    intercept[IllegalArgumentException] {
      Analytics.percentileExact(tied, "g", "v", Seq(0.5, 0.5))
    }
    intercept[IllegalArgumentException] {
      Analytics.percentileExact(tied, "g", "v", Seq(0.5), lo = 0L, hi = 10L, bins = 3)
    }
    intercept[IllegalArgumentException] {
      Analytics.percentileExact(tied.withColumn("pct", lit(1)), "g", "v", Seq(0.5))
    }
  }

  test("histSketch: empty sketch → empty relation (the documented contract), and all-null input is empty") {
    // zero non-null measurements: build must census nothing (nulls are
    // "no measurement", not "out of range") and every quantile read off
    // the empty sketch must return an EMPTY relation — not null rows,
    // not an error (the histQuantiles scaladoc contract, round-11 advice)
    val allNull = Seq[Option[Long]](None, None).toDF("v")
    val sk = Analytics.histBuild(allNull, "v", 0L, 512L, 64)
    assert(sk.counters.isEmpty, "all-null input must census zero bins")
    val got = Analytics.histQuantiles(sk, Seq(100, 500, 1000))
    assert(got.isEmpty, "empty sketch must read as an empty relation")
    assert(got.columns.toSeq == Seq("q_pm", "bin", "est_hi", "rank"),
      "empty result must still carry the full output schema")
    // and merging an empty sketch is the identity on counters
    val docs = spark.read.parquet(s"${graft.TestSpark.sf0001}/documents.parquet")
    val full = Analytics.histBuild(docs, "n_chars", 0L, 512L, 64)
    val merged = Analytics.histMerge(full, sk)
    assert(merged.counters.as[(Long, Long)].collect().toSet ==
      full.counters.as[(Long, Long)].collect().toSet,
      "merge with an empty sketch must be the identity")
  }
}
