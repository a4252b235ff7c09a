package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StatsSpec extends SparkSpec {

  test("poissonWeight: deterministic, bounded 0..7, mean ≈ 1 over many draws") {
    import spark.implicits._
    val units = (1 to 5000).map(i => Tuple1(i.toLong)).toDF("id")
    val w = units.select(Stats.poissonWeight(col("id"), lit(1)).as("w"))
    val stats = w.agg(min("w"), max("w"), avg("w")).collect()(0)
    assert(stats.getLong(0) >= 0 && stats.getLong(1) <= 7)
    val mean = stats.getDouble(2)
    assert(mean > 0.93 && mean < 1.07, s"Poisson(1) mean should be ~1, got $mean")
    // identical (unit, b) → identical weight on a fresh evaluation
    val again = units.select(Stats.poissonWeight(col("id"), lit(1)).as("w"))
    assert(w.except(again).count() == 0 && again.except(w).count() == 0)
  }

  test("poisson_replicates kernel is bit-identical to the declarative md5 ladder") {
    // the declarative chain the kernel fused (block explode → md5 of
    // "id|blk" → per-j conv(substr) → CDF CASE ladder) — kept here as
    // the kernel's executable specification, the Md5Hashes64 convention
    import spark.implicits._
    val n = 10 // not a multiple of 4: exercises the final partial block
    val cdf = Seq(
      0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
      0.9999167588507119)
    val ids = (1 to 500).map(i => Tuple1(i.toLong)).toDF("id")
      .withColumn("id", when(col("id") % 7 === 0,
        concat(lit("u|"), col("id"))).otherwise(col("id").cast("string")))
    val pos = col("__j") * 8 + 1
    val u = (conv(col("__md5").substr(pos, lit(8)), 16, 10)
      .cast("double") + 0.5) / 4294967296.0
    val w = cdf.zipWithIndex.reverse
      .foldLeft(lit(7L)) { case (tail, (p, k)) =>
        when(u < p, lit(k.toLong)).otherwise(tail)
      }
    val spec = ids
      .withColumn("__blk", explode(sequence(lit(0), lit((n + 3) / 4 - 1))))
      .withColumn("__md5", md5(concat_ws("|", col("id"), col("__blk"))))
      .withColumn("__j", explode(sequence(lit(0), lit(3))))
      .withColumn("b", (col("__blk") * 4 + col("__j") + 1).cast("long"))
      .filter(col("b") <= n)
      .select(col("id"), col("b"), w.as("w"))
    val kernel = ids
      .select(col("id"), posexplode(
        call_function("poisson_replicates", col("id"), lit(n))))
      .select(col("id"), (col("pos") + 1).cast("long").as("b"),
        col("col").as("w"))
    assert(spec.count() == 500L * n)
    assert(kernel.except(spec).count() == 0 && spec.except(kernel).count() == 0,
      "kernel draws must equal the declarative md5 ladder draws exactly")
  }

  test("poissonBootstrapMeans: constant column → every replicate mean is the constant") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, 5.0)).toDF("id", "v")
    val means = Stats.poissonBootstrapMeans(df, "id", "v", nReplicates = 20)
      .collect()
    assert(means.length == 20)
    assert(means.forall(_.getAs[Double]("mean_b") == 5.0))
  }

  test("poissonBootstrapCI brackets the point estimate and narrows with n") {
    import spark.implicits._
    val small = (1 to 40).map(i => (i.toLong, (i % 10).toDouble)).toDF("id", "v")
    val big = (1 to 4000).map(i => (i.toLong, (i % 10).toDouble)).toDF("id", "v")
    def ci(df: org.apache.spark.sql.DataFrame) = {
      val r = Stats.poissonBootstrapCI(df, "id", "v", nReplicates = 100).collect()(0)
      (r.getAs[Double]("ci_lo"), r.getAs[Double]("point_mean"), r.getAs[Double]("ci_hi"))
    }
    val (lo1, pt1, hi1) = ci(small)
    val (lo2, pt2, hi2) = ci(big)
    assert(lo1 <= pt1 && pt1 <= hi1, s"CI must bracket the mean: $lo1 $pt1 $hi1")
    assert(lo2 <= pt2 && pt2 <= hi2)
    assert(hi2 - lo2 < hi1 - lo1, "100x more data → tighter interval")
  }

  test("cohensKappa: perfect agreement → 1; hand-computed 2x2 case → 0.5") {
    import spark.implicits._
    val perfect = Seq(("x", "x"), ("y", "y"), ("x", "x")).toDF("a", "b")
    assert(Stats.cohensKappa(perfect, "a", "b")
      .collect()(0).getAs[Double]("kappa") == 1.0)
    // agree 3/4; marginals A(x2,y2) B(x1,y3): pe = (2*1+2*3)/16 = 0.5
    val mixed = Seq(("x", "x"), ("x", "y"), ("y", "y"), ("y", "y")).toDF("a", "b")
    val r = Stats.cohensKappa(mixed, "a", "b").collect()(0)
    assert(r.getAs[Long]("n") == 4)
    assert(r.getAs[Double]("po") == 0.75 && r.getAs[Double]("pe") == 0.5)
    assert(r.getAs[Double]("kappa") == 0.5)
  }

  test("cohensKappa counts null labels as a level (null-safe agreement)") {
    import spark.implicits._
    val df = Seq((Some("x"), Some("x")), (None, None), (Some("y"), None))
      .toDF("a", "b")
    val r = Stats.cohensKappa(df, "a", "b").collect()(0)
    assert(r.getAs[Long]("n") == 3)
    assert(r.getAs[Double]("po") == 2.0 / 3)
  }

  test("pairedBootstrapDelta: constant uplift → every replicate wins, CI degenerate at the uplift") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, (i % 7 + 10).toLong, (i % 7).toLong))
      .toDF("id", "a", "b")
    val r = Stats.pairedBootstrapDelta(df, "id", "a", "b", nReplicates = 50).collect()(0)
    assert(r.getAs[Long]("n") == 200)
    assert(r.getAs[Long]("n_replicates") == 50)
    // per-unit delta is exactly 10, so every reweighted mean is exactly 10
    assert(r.getAs[Double]("delta") == 10.0)
    assert(r.getAs[Double]("ci_lo") == 10.0 && r.getAs[Double]("ci_hi") == 10.0)
    assert(r.getAs[Double]("frac_a_better") == 1.0)
    assert(r.getAs[Double]("mean_a") - r.getAs[Double]("mean_b") == 10.0)
  }

  test("pairedBootstrapDelta: identical systems → zero delta, zero wins") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, (i % 13).toLong, (i % 13).toLong))
      .toDF("id", "a", "b")
    val r = Stats.pairedBootstrapDelta(df, "id", "a", "b", nReplicates = 40).collect()(0)
    assert(r.getAs[Double]("delta") == 0.0)
    assert(r.getAs[Double]("ci_lo") == 0.0 && r.getAs[Double]("ci_hi") == 0.0)
    // "a better" is a STRICT win — a tie is not significance
    assert(r.getAs[Double]("frac_a_better") == 0.0)
  }

  test("pairedBootstrapDelta: noisy mixed-sign deltas → CI brackets the point delta, frac interior, deterministic") {
    import spark.implicits._
    // a wins on ~2/3 of units by 1, loses on 1/3 by 2 → mean delta ≈ 0
    val df = (1 to 300).map { i =>
      val d = if (i % 3 == 0) -2L else 1L
      (i.toLong, 100L + d, 100L)
    }.toDF("id", "a", "b")
    val r1 = Stats.pairedBootstrapDelta(df, "id", "a", "b", nReplicates = 100).collect()(0)
    assert(r1.getAs[Double]("ci_lo") <= r1.getAs[Double]("delta"))
    assert(r1.getAs[Double]("delta") <= r1.getAs[Double]("ci_hi"))
    val frac = r1.getAs[Double]("frac_a_better")
    assert(frac > 0.0 && frac < 1.0,
      s"a mean-zero paired delta must not be called significant either way, got $frac")
    // deterministic draws: a rerun reproduces every field exactly
    val r2 = Stats.pairedBootstrapDelta(df, "id", "a", "b", nReplicates = 100).collect()(0)
    assert(r1 == r2)
  }

  test("calibration: hand-computed three-bin reliability table and ECE") {
    import spark.implicits._
    // IEEE floor, not decimal: 0.85 * 10 = 8.4999... -> bin 8
    // bin 9: conf .95, 1 of 1 correct  -> gap |1 - .95| = .05
    // bin 8: conf .85, 0 of 1 correct  -> gap |0 - .85| = .85
    // bin 2: conf .25 x2, 2 of 2 correct -> gap |1 - .25| = .75
    // ECE = (1*.05 + 1*.85 + 2*.75)/4 = .6
    val df = Seq((0.95, true), (0.85, false), (0.25, true), (0.25, true))
      .toDF("conf", "correct")
    val rows = Stats.calibration(df, "conf", "correct", nBins = 10)
      .orderBy("bin").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(2L, 8L, 9L))
    val b2 = rows(0); val b8 = rows(1); val b9 = rows(2)
    assert(b2.getLong(1) == 2 && b8.getLong(1) == 1 && b9.getLong(1) == 1)
    assert(math.abs(b2.getDouble(2) - 0.25) < 1e-12)
    assert(math.abs(b2.getDouble(3) - 1.0) < 1e-12)
    assert(math.abs(b8.getDouble(2) - 0.85) < 1e-12)
    assert(math.abs(b8.getDouble(3) - 0.0) < 1e-12)
    assert(math.abs(b9.getDouble(2) - 0.95) < 1e-12)
    assert(math.abs(b9.getDouble(3) - 1.0) < 1e-12)
    rows.foreach(r => assert(math.abs(r.getAs[Double]("ece") - 0.6) < 1e-12))
    graft.Caches.unpersistAll()
  }

  test("calibration: conf 1.0 folds into the top bin; perfect calibration -> ECE 0") {
    import spark.implicits._
    // every bin's accuracy equals its mean confidence exactly
    val df = Seq((1.0, true), (1.0, true),
      (0.5, true), (0.5, false)).toDF("conf", "correct")
    val rows = Stats.calibration(df, "conf", "correct", nBins = 10)
      .orderBy("bin").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(5L, 9L))
    rows.foreach(r => assert(math.abs(r.getAs[Double]("ece")) < 1e-12))
    graft.Caches.unpersistAll()
  }

  test("isotonicCalibration: monotone bins pass through; a violator pools with its neighbour") {
    import spark.implicits._
    // bins 2 (acc 0.2) and 7 (acc 0.8): already isotonic → fit == accuracy
    val mono = Seq((0.25, false), (0.25, false), (0.25, false), (0.25, false), (0.25, true),
      (0.75, true), (0.75, true), (0.75, true), (0.75, true), (0.75, false))
      .toDF("conf", "ok")
    val m = Stats.isotonicCalibration(mono, "conf", "ok").orderBy("bin").collect()
    assert(m.map(_.getLong(0)).toSeq == Seq(2L, 7L))
    m.foreach(r => assert(r.getAs[Double]("iso_fit") == r.getAs[Double]("accuracy")))
    // violator: bin 2 acc 1.0 > bin 7 acc 0.0, equal weights → pooled 0.5
    val viol = Seq((0.25, true), (0.75, false)).toDF("conf", "ok")
    val v = Stats.isotonicCalibration(viol, "conf", "ok").orderBy("bin").collect()
    assert(v.map(_.getAs[Double]("iso_fit")).toSeq == Seq(0.5, 0.5))
    // weighted violator: bin 2 has 3 correct, bin 7 has 1 wrong → pooled 0.75
    val wviol = Seq((0.25, true), (0.25, true), (0.25, true), (0.75, false))
      .toDF("conf", "ok")
    val wv = Stats.isotonicCalibration(wviol, "conf", "ok").orderBy("bin").collect()
    assert(wv.map(_.getAs[Double]("iso_fit")).toSeq == Seq(0.75, 0.75))
    graft.Caches.unpersistAll()
  }

  test("isotonicCalibration: three-bin partial pool keeps the fit non-decreasing") {
    import spark.implicits._
    // accs 0.0 / 1.0 / 0.5 with equal weights: pool bins 2 and 3 →
    // (0.0, 0.75, 0.75)
    val df = Seq((0.15, false), (0.15, false),
      (0.25, true), (0.25, true), (0.35, true), (0.35, false))
      .toDF("conf", "ok")
    val r = Stats.isotonicCalibration(df, "conf", "ok").orderBy("bin").collect()
    assert(r.map(_.getAs[Double]("iso_fit")).toSeq == Seq(0.0, 0.75, 0.75))
    val fits = r.map(_.getAs[Double]("iso_fit"))
    assert(fits.sliding(2).forall(p => p(0) <= p(1)), "fit must be non-decreasing")
    graft.Caches.unpersistAll()
  }

  test("binaryEval: perfect separation → both AUCs 1; reversed → ROC 0") {
    import spark.implicits._
    val perfect = Seq((1.0, false), (2.0, false), (3.0, true), (4.0, true))
      .toDF("s", "y")
    val r = Stats.binaryEval(perfect, "s", "y").collect()(0)
    assert(r.getAs[Long]("n_pos") == 2 && r.getAs[Long]("n_neg") == 2)
    assert(r.getAs[Long]("n_thresholds") == 4)
    assert(r.getAs[Double]("roc_auc") == 1.0)
    assert(r.getAs[Double]("pr_auc") == 1.0)
    val reversed = Seq((2.0, false), (1.0, true)).toDF("s", "y")
    assert(Stats.binaryEval(reversed, "s", "y")
      .collect()(0).getAs[Double]("roc_auc") == 0.0)
    graft.Caches.unpersistAll()
  }

  test("binaryEval: tied positive/negative pairs earn exactly half credit") {
    import spark.implicits._
    // both scores carry one pos + one neg: of the 4 (pos, neg) pairs,
    // 1 win + 2 ties → (1 + 2·½)/4 = 0.5; AP steps both give prec 0.5
    val df = Seq((1.0, false), (1.0, true), (2.0, false), (2.0, true))
      .toDF("s", "y")
    val r = Stats.binaryEval(df, "s", "y").collect()(0)
    assert(r.getAs[Long]("n_thresholds") == 2)
    assert(r.getAs[Double]("roc_auc") == 0.5)
    assert(r.getAs[Double]("pr_auc") == 0.5)
    graft.Caches.unpersistAll()
  }

  test("binaryEval: one-sided labels → ROC AUC NULL (undefined), not 0") {
    import spark.implicits._
    val allPos = Seq((1.0, true), (2.0, true)).toDF("s", "y")
    val r = Stats.binaryEval(allPos, "s", "y").collect()(0)
    assert(r.isNullAt(r.fieldIndex("roc_auc")))
    assert(r.getAs[Double]("pr_auc") == 1.0)
    // all-NEGATIVE divides by zero positives inside the aggregate —
    // must go NULL (ANSI-safe), never throw
    val allNeg = Seq((1.0, false), (2.0, false)).toDF("s", "y")
    val rn = Stats.binaryEval(allNeg, "s", "y").collect()(0)
    assert(rn.isNullAt(rn.fieldIndex("roc_auc")))
    assert(rn.isNullAt(rn.fieldIndex("pr_auc")))
    // null score / null label rows are excluded, not counted as a class
    val withNulls = Seq((Some(1.0), Some(false)), (Some(2.0), Some(true)),
      (None, Some(true)), (Some(3.0), None)).toDF("s", "y")
    val r2 = Stats.binaryEval(withNulls, "s", "y").collect()(0)
    assert(r2.getAs[Long]("n_pos") == 1 && r2.getAs[Long]("n_neg") == 1)
    assert(r2.getAs[Double]("roc_auc") == 1.0)
    graft.Caches.unpersistAll()
  }

  test("binaryEvalBy scores each slice independently and matches the global form") {
    import spark.implicits._
    val df = Seq(
      ("g1", 1.0, false), ("g1", 2.0, true),   // perfect in g1
      ("g2", 1.0, true), ("g2", 2.0, false))   // reversed in g2
      .toDF("g", "s", "y")
    val by = Stats.binaryEvalBy(df, Seq("g"), "s", "y")
      .orderBy("g").collect()
    assert(by(0).getAs[Double]("roc_auc") == 1.0)
    assert(by(1).getAs[Double]("roc_auc") == 0.0)
    // a single slice reduces to binaryEval on that slice
    val g1 = df.filter(col("g") === "g1")
    val whole = Stats.binaryEval(g1, "s", "y").collect()(0)
    val sliced = Stats.binaryEvalBy(g1, Seq("g"), "s", "y").collect()(0)
    assert(whole.getAs[Double]("roc_auc") == sliced.getAs[Double]("roc_auc"))
    assert(whole.getAs[Double]("pr_auc") == sliced.getAs[Double]("pr_auc"))
    graft.Caches.unpersistAll()
  }

  test("spearman: monotone (nonlinear) → ±1; tie-aware fractional ranks") {
    import spark.implicits._
    val df = Seq(
      ("up", 1.0, 1.0), ("up", 2.0, 4.0), ("up", 3.0, 9.0), ("up", 4.0, 100.0),
      ("down", 1.0, 5.0), ("down", 2.0, 3.0), ("down", 3.0, -10.0))
      .toDF("g", "x", "y")
    val r = Stats.spearman(df, Seq("g"), "x", "y")
      .orderBy("g").collect()
    assert(r(0).getAs[String]("g") == "down" && r(0).getAs[Double]("rho") == -1.0)
    assert(r(1).getAs[String]("g") == "up" && r(1).getAs[Double]("rho") == 1.0)
    // ties: x=(1,1,2) ranks (1.5,1.5,3) vs y=(1,2,3) ranks (1,2,3)
    // → Pearson = 0.75/(0.866025…·1) = √3/2
    val tied = Seq(("t", 1.0, 1.0), ("t", 1.0, 2.0), ("t", 2.0, 3.0))
      .toDF("g", "x", "y")
    val rt = Stats.spearman(tied, Seq("g"), "x", "y").collect()(0)
    assert(rt.getAs[Long]("n") == 3)
    assert(rt.getAs[Double]("rho") == BigDecimal(math.sqrt(3) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    graft.Caches.unpersistAll()
  }

  test("mannWhitney: hand-computed tie case; degenerate inputs go NULL") {
    import spark.implicits._
    // pos {2,3} vs neg {1,2}: U = 1 + 0.5 + 1 + 1 = 3.5; one tie group
    // of size 2 → σ² = 4/12·(5 − 6/12) = 1.5, z = 1.5/√1.5 = √1.5
    val df = Seq((1.0, false), (2.0, false), (2.0, true), (3.0, true))
      .toDF("s", "y")
    val r = Stats.mannWhitney(df, "s", "y").collect()(0)
    assert(r.getAs[Long]("n_pos") == 2 && r.getAs[Long]("n_neg") == 2)
    assert(r.getAs[Double]("u") == 3.5)
    assert(r.getAs[Double]("z") == BigDecimal(math.sqrt(1.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // all scores identical → σ = 0 → z undefined (NULL), U still n₁n₂/2
    val tied = Seq((5.0, true), (5.0, false), (5.0, true), (5.0, false))
      .toDF("s", "y")
    val rt = Stats.mannWhitney(tied, "s", "y").collect()(0)
    assert(rt.getAs[Double]("u") == 2.0)
    assert(rt.isNullAt(rt.fieldIndex("z")))
    // one-sided labels → both undefined
    val oneSided = Seq((1.0, true), (2.0, true)).toDF("s", "y")
    val ro = Stats.mannWhitney(oneSided, "s", "y").collect()(0)
    assert(ro.isNullAt(ro.fieldIndex("u")) && ro.isNullAt(ro.fieldIndex("z")))
    graft.Caches.unpersistAll()
  }

  test("ksTest: disjoint supports → D = 1; identical → 0; hand-computed interleave = 0.5") {
    import spark.implicits._
    val disjoint = Seq((1.0, true), (2.0, true), (3.0, false), (4.0, false))
      .toDF("s", "y")
    val rd = Stats.ksTest(disjoint, "s", "y").collect()(0)
    assert(rd.getAs[Double]("d") == 1.0 && rd.getAs[Double]("ks_stat") == 1.0)
    val same = Seq((1.0, true), (2.0, true), (1.0, false), (2.0, false))
      .toDF("s", "y")
    assert(Stats.ksTest(same, "s", "y").collect()(0).getAs[Double]("d") == 0.0)
    // pos {1,3} vs neg {2,4}: CDF gaps .5, 0, .5, 0 → D = 0.5
    val inter = Seq((1.0, true), (3.0, true), (2.0, false), (4.0, false))
      .toDF("s", "y")
    val ri = Stats.ksTest(inter, "s", "y").collect()(0)
    assert(ri.getAs[Double]("d") == 0.5)
    // one-sided → undefined
    val one = Seq((1.0, true), (2.0, true)).toDF("s", "y")
    val ro = Stats.ksTest(one, "s", "y").collect()(0)
    assert(ro.isNullAt(ro.fieldIndex("d")))
    graft.Caches.unpersistAll()
  }

  test("binaryEvalBootstrap: perfect separation → degenerate CI at 1; reruns exact") {
    import spark.implicits._
    val df = ((1 to 30).map(i => (i.toLong, i + 100.0, true))
      ++ (1 to 30).map(i => (i + 100L, i * 1.0, false))).toDF("id", "s", "y")
    val r = Stats.binaryEvalBootstrap(df, "id", "s", "y",
      nReplicates = 50).collect()(0)
    assert(r.getAs[Double]("roc_auc") == 1.0)
    // every replicate that keeps both classes still separates perfectly
    assert(r.getAs[Double]("ci_lo") == 1.0 && r.getAs[Double]("ci_hi") == 1.0)
    assert(r.getAs[Long]("n_replicates") <= 50 && r.getAs[Long]("n_replicates") > 0)
    val again = Stats.binaryEvalBootstrap(df, "id", "s", "y", 50).collect()(0)
    assert(r == again, "draws are deterministic in (id, replicate)")
    graft.Caches.unpersistAll()
  }

  test("binaryEvalBootstrap: CI brackets the point AUC and narrows with n") {
    import spark.implicits._
    def mk(n: Int) = ((1 to n).map(i => (i.toLong, (i % 17) + 3.0, true))
      ++ (1 to n).map(i => (i + 100000L, (i % 19) * 1.0, false))).toDF("id", "s", "y")
    def ci(df: org.apache.spark.sql.DataFrame) = {
      val r = Stats.binaryEvalBootstrap(df, "id", "s", "y", nReplicates = 100)
        .collect()(0)
      (r.getAs[Double]("ci_lo"), r.getAs[Double]("roc_auc"), r.getAs[Double]("ci_hi"))
    }
    val (lo1, pt1, hi1) = ci(mk(60))
    val (lo2, pt2, hi2) = ci(mk(2000))
    assert(lo1 <= pt1 && pt1 <= hi1, s"CI must bracket: $lo1 $pt1 $hi1")
    assert(lo2 <= pt2 && pt2 <= hi2)
    assert(hi2 - lo2 < hi1 - lo1, "more data → tighter AUC interval")
    graft.Caches.unpersistAll()
  }

  test("psi: identical cohorts → 0; disjoint mass → finite positive; tails clamp") {
    import spark.implicits._
    // identical distributions → p = q in every bin → psi exactly 0
    val same = Seq((true, 1.0), (true, 6.0), (false, 1.0), (false, 6.0))
      .toDF("g", "s")
    val rs = Stats.psi(same, "g", "s", lo = 0.0, hi = 10.0, nBins = 10)
      .collect()
    assert(rs.length == 10)
    assert(rs.forall(_.getAs[Double]("psi") == 0.0))
    assert(rs.forall(_.getAs[Double]("contrib") == 0.0))
    // expected all in bin 0, actual all in bin 9: smoothing keeps every
    // log finite, psi strictly positive, and mass localizes correctly
    val moved = Seq((true, 0.5), (true, 0.7), (false, 9.5), (false, 9.9))
      .toDF("g", "s")
    val rm = Stats.psi(moved, "g", "s", 0.0, 10.0, 10).orderBy("bin").collect()
    assert(rm(0).getAs[Long]("n_expected") == 2 && rm(0).getAs[Long]("n_actual") == 0)
    assert(rm(9).getAs[Long]("n_actual") == 2)
    val psiVal = rm(0).getAs[Double]("psi")
    assert(psiVal > 0.25, s"disjoint mass must trip the investigate threshold: $psiVal")
    assert(!psiVal.isNaN && !psiVal.isInfinite)
    // out-of-range scores clamp into the edge bins, never drop
    val clamp = Seq((true, -5.0), (false, 99.0)).toDF("g", "s")
    val rc = Stats.psi(clamp, "g", "s", 0.0, 10.0, 10).orderBy("bin").collect()
    assert(rc(0).getAs[Long]("n_expected") == 1)
    assert(rc(9).getAs[Long]("n_actual") == 1)
    graft.Caches.unpersistAll()
  }

  test("twoProportionZ: hand case z = √2; equal rates → 0; degenerate pools → NULL") {
    import spark.implicits._
    // 3/4 vs 1/4: pooled 0.5, SE = √(0.5·0.5·0.5) → z = 0.5/√0.125 = √2
    val df = (Seq.fill(3)((true, true)) ++ Seq((true, false))
      ++ Seq((false, true)) ++ Seq.fill(3)((false, false))).toDF("g", "y")
    val r = Stats.twoProportionZ(df, "g", "y").collect()(0)
    assert(r.getAs[Long]("n1") == 4 && r.getAs[Long]("n2") == 4)
    assert(r.getAs[Double]("p1") == 0.75 && r.getAs[Double]("p2") == 0.25)
    assert(r.getAs[Double]("z") == BigDecimal(math.sqrt(2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val equal = Seq((true, true), (true, false), (false, true), (false, false))
      .toDF("g", "y")
    assert(Stats.twoProportionZ(equal, "g", "y").collect()(0)
      .getAs[Double]("z") == 0.0)
    // pooled rate 0 (no successes anywhere) → SE 0 → z undefined
    val none = Seq((true, false), (false, false)).toDF("g", "y")
    val rn = Stats.twoProportionZ(none, "g", "y").collect()(0)
    assert(rn.isNullAt(rn.fieldIndex("z")))
    // a single cohort → n2/p2/z all NULL
    val one = Seq((true, true), (true, false)).toDF("g", "y")
    val ro = Stats.twoProportionZ(one, "g", "y").collect()(0)
    assert(ro.isNullAt(ro.fieldIndex("n2")) && ro.isNullAt(ro.fieldIndex("z")))
    graft.Caches.unpersistAll()
  }

  test("chiSquare: independence → 0; perfect association → V = 1; zero cells counted") {
    import spark.implicits._
    val indep = Seq(("r1", "c1"), ("r1", "c2"), ("r2", "c1"), ("r2", "c2"))
      .toDF("a", "b")
    val ri = Stats.chiSquare(indep, "a", "b").collect()(0)
    assert(ri.getAs[Double]("chi2") == 0.0 && ri.getAs[Double]("cramers_v") == 0.0)
    assert(ri.getAs[Long]("dof") == 1)
    // diagonal 10/10: χ² = N = 20, V = 1
    val perfect = ((1 to 10).map(_ => ("x", "u")) ++ (1 to 10).map(_ => ("y", "v")))
      .toDF("a", "b")
    val rp = Stats.chiSquare(perfect, "a", "b").collect()(0)
    assert(rp.getAs[Double]("chi2") == 20.0 && rp.getAs[Double]("cramers_v") == 1.0)
    // (A,X)×2, (B,Y)×1: both zero-observed off-diagonal cells contribute
    // their expected mass → χ² = 3 exactly, not the cells-only 1.67
    val zc = Seq(("A", "X"), ("A", "X"), ("B", "Y")).toDF("a", "b")
    val rz = Stats.chiSquare(zc, "a", "b").collect()(0)
    assert(rz.getAs[Double]("chi2") == 3.0)
    graft.Caches.unpersistAll()
  }

  test("chiSquare: a NULL category is a level (counts in r and the grid)") {
    import spark.implicits._
    val df = Seq((Some("r1"), "c1"), (None, "c2"), (Some("r2"), "c1"))
      .toDF("a", "b")
    val r = Stats.chiSquare(df, "a", "b").collect()(0)
    assert(r.getAs[Long]("r") == 3 && r.getAs[Long]("c") == 2)
    assert(r.getAs[Long]("n") == 3)
    graft.Caches.unpersistAll()
  }

  test("bradleyTerry: 2 items converge to the closed-form win-ratio fixed point") {
    import spark.implicits._
    // A beats B twice, B beats A once → fixed point (2/3, 1/3)
    val prefs = Seq(("A", "B"), ("A", "B"), ("B", "A")).toDF("w", "l")
    val r = Stats.bradleyTerry(prefs, "w", "l", iterations = 5)
      .orderBy("rank").collect()
    assert(r(0).getAs[String]("item") == "A" && r(0).getAs[Long]("rank") == 1)
    assert(r(0).getAs[Long]("n_wins") == 2 && r(0).getAs[Long]("n_comparisons") == 3)
    assert(r(0).getAs[Double]("strength") == 0.666667)
    assert(r(1).getAs[String]("item") == "B"
      && r(1).getAs[Double]("strength") == 0.333333)
    graft.Caches.unpersistAll()
  }

  test("bradleyTerry: transitive outcomes order the items; item gate refuses") {
    import spark.implicits._
    val prefs = Seq(("A", "B"), ("A", "B"), ("B", "C"), ("B", "C"), ("A", "C"))
      .toDF("w", "l")
    val r = Stats.bradleyTerry(prefs, "w", "l", iterations = 10)
      .orderBy("rank").collect()
    assert(r.map(_.getAs[String]("item")).toSeq == Seq("A", "B", "C"))
    assert(r.map(_.getAs[Double]("strength")).sum > 0.999999)
    val e = intercept[IllegalArgumentException] {
      Stats.bradleyTerry(prefs, "w", "l", iterations = 1, maxItems = 2)
    }
    assert(e.getMessage.contains("gate"))
    graft.Caches.unpersistAll()
  }
}
