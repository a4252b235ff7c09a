package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GroupOpsSpec extends SparkSpec {

  test("groupMode: pandas lexicographic tie-break (§2.13.3)") {
    import spark.implicits._
    val df = Seq(
      (1, "b"), (1, "b"), (1, "a"), (1, "a"), // tie b=2 a=2 → "a"
      (2, "z"), (2, "z"), (2, "y"),           // z wins by count
      (3, null.asInstanceOf[String]), (3, "c") // nulls excluded
    ).toDF("id", "v")
    val got = GroupOps.groupMode(df, Seq("id"), "v", "mode").orderBy("id")
    assert(got.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (2, "z"), (3, "c")))
  }

  test("groupedMedian exact: mean-of-middle-two (§2.13.4)") {
    import spark.implicits._
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 10.0)).toDF("k", "v")
    val got = GroupOps.groupedMedian(df, Seq("k"), "v", "med").collect()(0).getDouble(1)
    assert(got == 2.5) // pandas median of [1,2,3,10]
  }

  test("imputeWithGroupedMedian: fine then coarse fallback + audit flag") {
    import spark.implicits._
    val df = Seq(
      ("M", "run", Some(180.0)), ("M", "run", Some(190.0)), ("M", "run", None),
      ("M", "swim", None), // no fine group values → falls back to sex median
      ("F", "run", Some(160.0))
    ).toDF("sex", "disc", "h")
    val got = GroupOps.imputeWithGroupedMedian(df, Seq("sex", "disc"), Seq("sex"), Seq("h" -> "h_Imputed"))
    val byKey = got.collect().map(r =>
      (r.getString(0), r.getString(1), r.getDouble(2), r.getBoolean(3))).toSeq
    // fine group (M,run) median = 185; (M,swim) → coarse M median = 185
    assert(byKey.count(_._4) == 2)
    assert(byKey.filter(t => t._2 == "swim").head._3 == 185.0)
    assert(byKey.forall(_._3 > 0))
  }

  test("imputeWithGroupedMedian: coarse median over the fine-filled columns (pandas chained transform)") {
    import spark.implicits._
    val df = Seq(
      ("M", "run", Some(100.0), Some(60.0)), ("M", "run", Some(200.0), None),
      ("M", "run", None, Some(80.0)), ("M", "run", None, None),
      ("M", "jump", Some(300.0), None),
      ("M", "swim", None, Some(90.0))
    ).toDF("sex", "disc", "h", "w")
    val got = GroupOps.imputeWithGroupedMedian(df, Seq("sex", "disc"), Seq("sex"),
      Seq("h" -> "h_was_null", "w" -> "w_was_null"))
    assert(got.columns.toSeq == Seq("sex", "disc", "h", "w", "h_was_null", "w_was_null"))
    // fine: (M,run) h 150, w 70; coarse over the filled columns:
    // h median(100,200,150,150,300) = 150 (the unfilled values give 200),
    // w median(60,70,80,70,90) = 70 (the unfilled values give 80)
    assert(rowsOf(got) == rowsOf(Seq(
      ("M", "run", 100.0, 60.0, false, false), ("M", "run", 200.0, 70.0, false, true),
      ("M", "run", 150.0, 80.0, true, false), ("M", "run", 150.0, 70.0, true, true),
      ("M", "jump", 300.0, 70.0, false, true),
      ("M", "swim", 150.0, 90.0, true, false)
    ).toDF("sex", "disc", "h", "w", "h_was_null", "w_was_null")))
  }

  test("ffill fills from last non-null within partition order (W4)") {
    import spark.implicits._
    val df = Seq(
      (1, 1, Some("a")), (1, 2, None), (1, 3, None), (1, 4, Some("b")), (1, 5, None),
      (2, 1, None) // leading null stays null
    ).toDF("grp", "ord", "v")
    val got = GroupOps.ffill(df, Seq("grp"), Seq(col("ord")), "v")
      .orderBy("grp", "ord").collect().map(r => Option(r.getString(2))).toSeq
    assert(got == Seq(Some("a"), Some("a"), Some("a"), Some("b"), Some("b"), None))
  }

  test("denseId: dense 1..n in global order, no single-partition window (W1/W5)") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (1001 - i).toLong).toDF("k").repartition(7)
    val got = GroupOps.denseId(df, Seq(col("k")), "sk")
    val rows = got.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._2).toSeq == (1L to 1000L))
    assert(rows.head == (1L, 1L) && rows.last == (1000L, 1000L))
  }

  test("exclusivePrefixSum treats null weights as 0 (null text → null token count)") {
    import spark.implicits._
    val df = Seq((1L, Option("a b")), (2L, Option.empty[String]), (3L, Option("c")))
      .toDF("id", "t")
    // size(split(null, ...)) is null — must scan as weight 0, not NPE
    val got = GroupOps.exclusivePrefixSum(df, Seq(col("id")),
        Seq(size(split(col("t"), " ")).cast("long") -> "off"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 2L), got)
    graft.Caches.unpersistAll()
  }

  test("exclusivePrefixSum: two pairs in one scan equal two single-pair scans") {
    import spark.implicits._
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val order = Seq(col("id"))
      val both = GroupOps.exclusivePrefixSum(df, order,
        Seq(col("p") -> "cp", col("n") -> "cn"), start = 5L)
      assert(both.columns.toSeq == df.columns.toSeq ++ Seq("cp", "cn"))
      val one = GroupOps.exclusivePrefixSum(
        GroupOps.exclusivePrefixSum(df, order, Seq(col("p") -> "cp"), start = 5L),
        order, Seq(col("n") -> "cn"), start = 5L)
      assert(rowsOf(both) == rowsOf(one))
      val rows = both.collect()
      assert(rows.length == df.count())
      // spot-check the arithmetic, not just the agreement
      val byId = rows.map(r => r.getAs[Long]("id") -> r).toMap
      var cp = 5L; var cn = 5L
      for (id <- byId.keys.toSeq.sorted) {
        assert(byId(id).getAs[Long]("cp") == cp && byId(id).getAs[Long]("cn") == cn, id)
        cp += Option(byId(id).getAs[java.lang.Long]("p")).map(_.longValue).getOrElse(0L)
        cn += Option(byId(id).getAs[java.lang.Long]("n")).map(_.longValue).getOrElse(0L)
      }
    }
    val rows = (1L to 40L).map(i =>
      (i, if (i % 7 == 0) None else Some(i % 3), if (i % 5 == 0) None else Some(2L)))
    // null weights count as 0
    check(rows.toDF("id", "p", "n"))
    // empty frame
    check(rows.take(0).toDF("id", "p", "n"))
    // more partitions than rows
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try check(rows.take(3).toDF("id", "p", "n").repartition(8))
    finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    graft.Caches.unpersistAll()
  }

  test("nullProfile: one row per column with null fraction (A7)") {
    import spark.implicits._
    val df = Seq((Some(1), "x"), (None, "y"), (None, null.asInstanceOf[String]), (Some(2), "z"))
      .toDF("a", "b")
    val got = GroupOps.nullProfile(df).collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got("a") == 0.5 && got("b") == 0.25)
  }

  test("nullProfile and tableProfile keep column names that are not plain identifiers") {
    import spark.implicits._
    val df = Seq((Some(1), "x"), (None, "y"), (None, null.asInstanceOf[String]), (Some(2), "z"))
      .toDF("it's", "order date")
    val nulls = GroupOps.nullProfile(df).collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(nulls == Map("it's" -> 0.5, "order date" -> 0.25))
    for (exact <- Seq(true, false)) {
      val got = GroupOps.tableProfile(df, exactDistinct = exact)
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == Map("it's" -> (4L, 2L, 2L), "order date" -> (4L, 1L, 3L)), s"exact=$exact")
    }
  }

  test("unionByNameAll aligns drifted schemas with null fill (U1, §2.13.10)") {
    import spark.implicits._
    val a = Seq((1, "x")).toDF("id", "name")
    val b = Seq((2.5, 9)).toDF("score", "id") // different order + extra col
    val got = GroupOps.unionByNameAll(Seq(a, b))
    assert(got.columns.toSet == Set("id", "name", "score"))
    val rows = rowsOf(got)
    assert(rows.size == 2)
  }

  test("duplicateKeys reports multiplicity (A9)") {
    import spark.implicits._
    val df = Seq((1, "a"), (1, "a"), (1, "a"), (2, "b")).toDF("k1", "k2")
    val got = GroupOps.duplicateKeys(df, Seq("k1", "k2")).collect()
    assert(got.length == 1 && got(0).getLong(2) == 3L)
  }

  test("ntileBuckets matches the ntile window for every (n, k) incl. ragged splits") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(1, 4, 7, 10, 103); k <- Seq(1, 3, 4, 8)) {
      val df = (1 to n).map(i => (i.toLong, (i * 37) % n)).toDF("id", "v")
      val got = GroupOps.ntileBuckets(df, Seq(col("v"), col("id")), k, "b")
        .select("id", "b")
      val want = df.withColumn("b",
          ntile(k).over(Window.orderBy(col("v"), col("id"))).cast("long"))
        .select("id", "b")
      assert(rowsOf(got) == rowsOf(want), s"n=$n k=$k")
      graft.Caches.unpersistAll()
    }
  }

  test("winsorize clips to the group's interpolated percentile band") {
    import spark.implicits._
    // group g: values 1..11 — p05 = 1.5, p95 = 10.5 (linear interpolation
    // at rank (n-1)·p); group h untouched band
    val df = ((1 to 11).map(i => ("g", i.toDouble)) ++ Seq(("h", 5.0), ("h", 5.0)))
      .toDF("k", "v")
    val got = GroupOps.winsorize(df, Seq("k"), "v", "w", 0.05, 0.95)
      .orderBy("k", "v").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getBoolean(3)))
    val g = got.filter(_._1 == "g")
    assert(g.head == (("g", 1.0, 1.5, true)))   // clipped up to p05
    assert(g.last == (("g", 11.0, 10.5, true))) // clipped down to p95
    assert(g.count(_._4) == 2)                  // interior rows untouched
    assert(got.filter(_._1 == "h").forall(r => r._2 == r._3 && !r._4))
  }

  test("winsorize: approx path stays within the band and keeps all rows") {
    import spark.implicits._
    val df = (1 to 200).map(i => ("g", i.toDouble)).toDF("k", "v")
    val got = GroupOps.winsorize(df, Seq("k"), "v", "w", 0.05, 0.95, exact = false)
      .collect().map(_.getAs[Double]("w"))
    assert(got.length == 200)
    // the sketch clips both tails: extremes are gone, interior survives
    assert(got.min >= 5.0 && got.max <= 195.0)
    assert(got.distinct.length >= 150)
  }

  test("tableProfile: rows/nulls/distinct/min/max per column in one pass") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), Some(1.5)),
      (2L, None, Some(2.5)),
      (3L, Some("a"), None)).toDF("id", "s", "v")
    val got = GroupOps.tableProfile(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    assert(got("id") == ((3L, 0L, 3L, "1", "3")))
    assert(got("s") == ((3L, 1L, 1L, "a", "a")))
    assert(got("v") == ((3L, 1L, 2L, "1.5", "2.5")))
    // approx path: same shape, sketched distinct within rsd on tiny input
    val approx = GroupOps.tableProfile(df, exactDistinct = false).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(approx("id") == 3L && approx("s") == 1L)
  }

  test("tableProfile size gate: exact path is Expand-free per-column distincts; " +
    "past exactDistinctMaxRows the profile auto-degrades to HLL") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "s")
    // r9 rewrite: the exact path must NOT plan the multi-countDistinct
    // Expand (the q52/q91 row-multiplication pathology) — it unions one
    // single-distinct aggregate branch per column instead
    val exact = GroupOps.tableProfile(df)
    val exactPlan = exact.queryExecution.executedPlan.toString
    assert(!exactPlan.contains("Expand"),
      s"the multi-countDistinct Expand must be gone from the exact profile:\n$exactPlan")
    assert(exactPlan.contains("Union"),
      s"exact path = one column-pruned single-distinct branch per column:\n$exactPlan")
    val gotExact = exact.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(gotExact("id") == 3L && gotExact("s") == 2L)
    // a 3-row table over a 2-row gate: auto-HLL, single melted pass (no
    // per-column branches), values still right (HLL exact at tiny
    // cardinality)
    val gated = GroupOps.tableProfile(df, exactDistinctMaxRows = 2L)
    val gatedPlan = gated.queryExecution.executedPlan.toString
    assert(!gatedPlan.contains("Union") && !gatedPlan.contains("Expand"),
      s"past the gate the profile must sketch in one pass:\n$gatedPlan")
    val got = gated.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got("id") == 3L && got("s") == 2L)
    // Long.MaxValue keeps exactness without the pre-count scan
    val forced = GroupOps.tableProfile(df, exactDistinctMaxRows = Long.MaxValue)
    assert(forced.queryExecution.executedPlan.toString.contains("Union"))
  }

  test("profileDiff: added/removed/common classification with null-rate and distinct movement") {
    import spark.implicits._
    val oldDf = Seq((1L, Some("a"), 1.0), (2L, None, 2.0), (3L, Some("b"), 2.0))
      .toDF("id", "s", "v")
    val newDf = Seq((1L, 1.0, true), (2L, 1.0, true))
      .toDF("id", "v", "flag") // s removed, flag added
    val got = GroupOps.profileDiff(oldDf, newDf)
      .orderBy("column_name").collect()
      .map(r => (r.getString(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)), Option(r.get(4)), Option(r.get(5))))
    assert(got.toSeq == Seq(
      ("flag", "added", None, Some(0.0), None, Some(1L)),
      ("id", "common", Some(0.0), Some(0.0), Some(3L), Some(2L)),
      ("s", "removed", Some(math.round(1.0 / 3 * 1e6) / 1e6), None, Some(2L), None),
      ("v", "common", Some(0.0), Some(0.0), Some(2L), Some(1L))))
  }

  test("ntileBuckets avoids the single-partition window") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, i % 7)).toDF("id", "v")
    val binned = GroupOps.ntileBuckets(df, Seq(col("v"), col("id")), 4, "b")
    binned.collect()
    assert(!binned.queryExecution.executedPlan.toString.contains("Window"))
    graft.Caches.unpersistAll()
  }

  test("momentStats: hand-computed moments on the classic sigma=2 sample") {
    import spark.implicits._
    // {2,4,4,4,5,5,7,9}: mean 5, population m2 = 4, m3 = 42/8, m4 = 356/8
    val df = Seq(2, 4, 4, 4, 5, 5, 7, 9).map(v => ("g", v.toDouble)).toDF("k", "v")
    val r = GroupOps.momentStats(df, Seq("k"), "v").collect()(0)
    assert(r.getAs[Long]("n") == 8L)
    assert(math.abs(r.getAs[Double]("mean") - 5.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("stddev") - math.sqrt(32.0 / 7)) < 1e-12)
    assert(math.abs(r.getAs[Double]("skewness") - (42.0 / 8) / 8.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("kurtosis") - ((356.0 / 8) / 16 - 3)) < 1e-12)
  }

  test("robustZscore: hand-computed modified z; the outlier does not mask itself") {
    import spark.implicits._
    // median 5, deviations {4,1,0,1,95} -> MAD = 1; the 100 outlier
    // scores 0.6745*95 = 64.08 (a mean/std z on this data is only ~1.8 —
    // the outlier inflates the stddev that should expose it)
    val df = Seq(1.0, 4.0, 5.0, 6.0, 100.0).map(("g", _)).toDF("k", "v")
    val got = GroupOps.robustZscore(df, Seq("k"), "v")
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(math.abs(got(100.0) - 0.6745 * 95) < 1e-9)
    assert(math.abs(got(5.0)) < 1e-12)
    assert(math.abs(got(1.0) + 0.6745 * 4) < 1e-9)
  }

  test("winsorize keeps null-keyed rows (clipped within their own null group)") {
    import spark.implicits._
    val df = (Seq.tabulate(20)(i => (Option("g"), i.toDouble)) ++
      Seq.tabulate(20)(i => (Option.empty[String], i * 10.0))).toDF("k", "v")
    val got = GroupOps.winsorize(df, Seq("k"), "v", "w", pLo = 0.1, pHi = 0.9)
    assert(got.count() == 40, "no row may be dropped")
    val nullGroup = got.filter(col("k").isNull).select("w").collect()
      .map(_.getDouble(0))
    assert(nullGroup.length == 20 && nullGroup.max <= 171.0 + 1e-9,
      s"null group must clip within its own bounds: max=${nullGroup.max}")
  }

  test("null keys and all-null groups survive momentStats and robustZscore") {
    import spark.implicits._
    val df = Seq((Option("g"), Option(1.0)), (Option("g"), Option(3.0)),
      (Option.empty[String], Option(5.0)), (Option.empty[String], Option(7.0)),
      (Option("empty"), Option.empty[Double]))
      .toDF("k", "v")
    // the null-key group must appear in the profile, not vanish in the join
    val stats = GroupOps.momentStats(df, Seq("k"), "v").collect()
      .map(r => Option(r.get(0)) -> r.getAs[Long]("n")).toMap
    assert(stats(None) == 2L, s"null-key group missing from profile: $stats")
    assert(stats(Some("empty")) == 0L)
    // robustZscore appends to EVERY row: the all-null group keeps its row
    // (null score), the null-key rows keep theirs (real score)
    val scored = GroupOps.robustZscore(df, Seq("k"), "v")
    assert(scored.count() == 5, "no row may be dropped")
    assert(scored.filter(col("k").isNull && col("robust_z").isNotNull).count() == 2)
    assert(scored.filter(col("k") === "empty").count() == 1)
  }

  test("momentStats: symmetric data has zero skewness; groups are independent") {
    import spark.implicits._
    val df = (Seq(1, 2, 3, 4, 5).map(v => ("sym", v.toDouble)) ++
      Seq(1, 1, 1, 10).map(v => ("skew", v.toDouble))).toDF("k", "v")
    val got = GroupOps.momentStats(df, Seq("k"), "v").collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Double]("skewness")).toMap
    assert(math.abs(got("sym")) < 1e-12)
    assert(got("skew") > 1.0, s"right-tailed group must skew positive: $got")
  }

  test("madOutliers: robust to the outlier itself; zero-MAD group flags any deviation") {
    import spark.implicits._
    // group g: median 5, MAD 1 — 1e9 glitch flags, 7 does not (dev 2 ≤ 3·1);
    // the glitch does NOT drag the gate open (a mean±3σ gate would pass 1e9's peers)
    val rows = Seq(
      ("g", 1L, 4.0), ("g", 2L, 5.0), ("g", 3L, 6.0), ("g", 4L, 7.0),
      ("g", 5L, 1e9),
      ("z", 6L, 2.0), ("z", 7L, 2.0), ("z", 8L, 2.0), ("z", 9L, 99.0)
    ).toDF("grp", "id", "v")
    val got = GroupOps.madOutliers(rows, Seq("grp"), "id", "v", c = 3.0)
      .collect().map(r => r.getLong(1) ->
        Option(r.getAs[java.lang.Double]("robust_z"))).toMap
    assert(got.keySet == Set(5L, 9L), s"only the glitches flag: ${got.keySet}")
    assert(got(5L).exists(_ > 1e8), "robust z is huge for the 1e9 glitch")
    assert(got(9L).isEmpty, "zero-MAD group flags but has no defined robust z")
  }

  test("trendSlopes recovers an exact line per group; degenerate groups go null") {
    import spark.implicits._
    val rows =
      (0 until 10).map(x => ("up", x, 3.0 * x + 7)) ++     // slope 3, icpt 7
      (0 until 10).map(x => ("down", x, -0.5 * x + 2)) ++  // slope -0.5
      Seq(("single", 0, 5.0), ("flatx", 4, 1.0), ("flatx", 4, 9.0))
    val got = GroupOps.trendSlopes(rows.toDF("g", "x", "y"), Seq("g"), "x", "y")
      .collect().map(r => r.getAs[String]("g") ->
        (Option(r.getAs[java.lang.Double]("slope")),
         Option(r.getAs[java.lang.Double]("intercept")))).toMap
    assert(got("up")._1.exists(s => math.abs(s - 3.0) < 1e-12))
    assert(got("up")._2.exists(i => math.abs(i - 7.0) < 1e-12))
    assert(got("down")._1.exists(s => math.abs(s + 0.5) < 1e-12))
    assert(got("single")._1.isEmpty, "n < 2 has no trend")
    assert(got("flatx")._1.isEmpty, "zero x-variance has no defined slope")
  }
}
