package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class FilterModelSpec extends SparkSpec {

  test("logisticGd: one step on the symmetric separable fixture is the closed form") {
    import spark.implicits._
    // x = ±1 split by label, balanced: under w = 0 every p = 0.5, so
    // grad_bias = avg(0.5 − y) = 0 and grad_x = avg((0.5 − y)·x) = −0.5
    // → after ONE step w = (0, 0.5), and σ(0.5·x) already classifies
    // every row correctly
    val df = ((1 to 20).map(_ => (true, 1.0)) ++ (1 to 20).map(_ => (false, -1.0)))
      .toDF("y", "x")
    val r = FilterModel.logisticGd(df, Seq("x"), "y",
      iterations = 1, learningRate = 1.0).orderBy("term_idx").collect()
    assert(r.map(_.getAs[String]("term")).toSeq == Seq("bias", "x"))
    assert(r(0).getAs[Double]("weight") == 0.0)
    assert(r(1).getAs[Double]("weight") == 0.5)
    assert(r.forall(_.getAs[Long]("n") == 40))
    assert(r.forall(_.getAs[Double]("accuracy") == 1.0))
    graft.Caches.unpersistAll()
  }

  test("logisticGd: loss decreases with more steps; separable data → accuracy 1") {
    import spark.implicits._
    val df = ((1 to 30).map(i => (true, 1.0 + i * 0.01))
      ++ (1 to 30).map(i => (false, -1.0 - i * 0.01))).toDF("y", "x")
    def lossAt(iters: Int): Double =
      FilterModel.logisticGd(df, Seq("x"), "y", iters, learningRate = 1.0)
        .collect()(0).getAs[Double]("log_loss")
    val l1 = lossAt(1); val l10 = lossAt(10)
    assert(l10 < l1, s"10 steps should beat 1 step: $l10 vs $l1")
    val acc = FilterModel.logisticGd(df, Seq("x"), "y", 10, 1.0)
      .collect()(0).getAs[Double]("accuracy")
    assert(acc == 1.0)
    graft.Caches.unpersistAll()
  }

  test("logisticGd: an all-zero feature keeps weight exactly 0; null rows drop") {
    import spark.implicits._
    val df = Seq((Some(true), Some(1.0), Some(0.0)), (Some(false), Some(-1.0), Some(0.0)),
      (Some(true), None, Some(0.0)), (None, Some(2.0), Some(0.0)))
      .toDF("y", "x", "z")
    val r = FilterModel.logisticGd(df, Seq("x", "z"), "y",
      iterations = 5, learningRate = 1.0).orderBy("term_idx").collect()
    assert(r.forall(_.getAs[Long]("n") == 2), "null label/feature rows must drop")
    assert(r(2).getAs[String]("term") == "z" && r(2).getAs[Double]("weight") == 0.0)
    graft.Caches.unpersistAll()
  }

  /** A noisy three-feature fixture over several partitions. */
  private def noisy: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    (1 to 300).map { _ =>
      val a = rnd.nextGaussian(); val b = rnd.nextDouble(); val c = rnd.nextGaussian() * 3
      (a + 0.5 * b - 0.2 * c + rnd.nextGaussian() > 0.3, a, b, c)
    }.toDF("y", "a", "b", "c").repartition(5)
  }

  /** (term, weight, n, accuracy, log_loss) rows in term order, from the
    * driver tier or, [[atScale]], the distributed tier.
    */
  private def fit(df: DataFrame, xCols: Seq[String], iterations: Int, scale: Boolean) = {
    def run = FilterModel.logisticGd(df, xCols, "y", iterations, 1.5)
    (if (scale) atScale(run) else run).collect().sortBy(_.getAs[Long]("term_idx"))
  }

  test("logisticGd: the driver tier and the distributed tier agree") {
    val df = noisy.cache()
    for (iters <- Seq(1, 2, 50)) {
      val local = fit(df, Seq("a", "b", "c"), iters, scale = false)
      val dist = fit(df, Seq("a", "b", "c"), iters, scale = true)
      assert(local.map(_.getAs[String]("term")).toSeq == dist.map(_.getAs[String]("term")).toSeq)
      assert(local.forall(_.getAs[Long]("n") == 300) && dist.forall(_.getAs[Long]("n") == 300))
      for ((l, r) <- local.zip(dist); c <- Seq("weight", "accuracy", "log_loss"))
        assert(math.abs(l.getAs[Double](c) - r.getAs[Double](c)) <= 1e-6,
          s"$iters iterations, ${l.getAs[String]("term")} $c: ${l.getAs[Double](c)} vs ${r.getAs[Double](c)}")
    }
    df.unpersist()
    graft.Caches.unpersistAll()
  }

  test("logisticGd: empty and one-row inputs on both tiers") {
    import spark.implicits._
    val empty = Seq.empty[(Boolean, Double)].toDF("y", "x")
    val one = Seq((true, 2.0)).toDF("y", "x")
    for (scale <- Seq(false, true)) {
      val e = fit(empty, Seq("x"), 3, scale)
      assert(e.map(_.getAs[Double]("weight")).toSeq == Seq(0.0, 0.0), scale)
      assert(e.forall(r => r.getAs[Long]("n") == 0 && r.isNullAt(r.fieldIndex("accuracy"))
        && r.isNullAt(r.fieldIndex("log_loss"))), scale)
      val o = fit(one, Seq("x"), 1, scale)
      // one step from w = 0: grad = (0.5 − 1)·[1, 2], η = 1.5
      assert(o.map(_.getAs[Double]("weight")).toSeq == Seq(0.75, 1.5), scale)
      assert(o.forall(r => r.getAs[Long]("n") == 1 && r.getAs[Double]("accuracy") == 1.0), scale)
    }
    graft.Caches.unpersistAll()
  }

  test("logisticGd: below the gate 50 iterations run at most 2 jobs, each described") {
    val df = noisy.cache()
    df.count()
    val local = jobsOf(FilterModel.logisticGd(df, Seq("a", "b", "c"), "y",
      iterations = 50, learningRate = 1.5))
    assert(local == Seq("logisticGd/round 1", "logisticGd/round 2"), local)
    val dist = jobsOf(atScale(FilterModel.logisticGd(df, Seq("a", "b", "c"), "y",
      iterations = 3, learningRate = 1.5)))
    assert(dist == (1 to 4).map(r => s"logisticGd/round $r"), dist)
    df.unpersist()
    graft.Caches.unpersistAll()
  }
}
