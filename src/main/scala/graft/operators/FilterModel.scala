package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** In-engine training of the corpus quality filter — full-batch
  * logistic regression by gradient descent over engine-computed text
  * features. The fastText/CCNet-style quality classifier every
  * LLM-data pipeline trains (label a slice, fit a linear model, score
  * the corpus) without leaving the engine. No reference counterpart
  * (SURVEY.md §7.4 LLM-pipeline category).
  *
  * Scale split (the k-means-centroid convention): the weight vector is
  * d+1 driver-held doubles. The first GD step is ONE map-side-combined
  * scalar aggregate over the corpus (d+1 gradient sums and the row
  * count n). Below the [[graft.Gates.NodeState]] gate — at most that
  * many doubles in the n·(d+1) training matrix — the cached rows are
  * collected once and every later step, and the final metrics pass,
  * runs on the driver with no job at all: a step over a few thousand
  * rows costs far less than scheduling it. Above the gate each step
  * stays one aggregate, so a 100 TB training run costs `iterations`
  * scans of a persisted feature projection and shuffles nothing but
  * d+1 doubles per step. A fixed iteration count (not a convergence
  * test) keeps the result exactly restatable by an external engine as
  * unrolled per-step CTEs.
  */
object FilterModel {

  /** Full-batch logistic-regression GD: minimize mean log-loss of
    * `labelCol` on `xCols` (+ an implicit bias term) with
    * w ← w − η·avg((σ(w·x) − y)·x), starting from w = 0.
    *
    * Rows with a null label or null feature are dropped (a linear
    * model is undefined on them). Output: one row per term — `bias`
    * first, then `xCols` in order — with the trained weight and the
    * final-epoch training metrics repeated on every row (the
    * [[Stats.calibration]] scalar convention):
    * (term, weight, n, accuracy, log_loss), weight/metrics at 6 dp.
    */
  def logisticGd(df: DataFrame, xCols: Seq[String], labelCol: String,
                 iterations: Int, learningRate: Double): DataFrame = {
    require(xCols.nonEmpty, "need at least one feature column")
    require(iterations >= 1, s"need >= 1 iterations, got $iterations")
    require(learningRate > 0, s"learningRate must be positive, got $learningRate")
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val d = xCols.size
    val feats = df.select(
        col(labelCol).cast("boolean").cast("double").as("__y") +:
          xCols.zipWithIndex.map { case (c, i) =>
            col(c).cast("double").as(s"__x$i") }: _*)
      .filter((col("__y").isNotNull +:
        xCols.indices.map(i => col(s"__x$i").isNotNull)).reduce(_ && _))
    // The numeric projection materializes ONCE as primitive [y, x0…]
    // rows; each distributed GD step is then a single closure-aggregate
    // job over the cache. The former shape — a fresh SQL aggregate with
    // the step's weights baked in as literals — re-analyzed,
    // re-optimized and re-JIT-compiled a brand-new plan every step (the
    // generated source differs per weight vector, so the codegen cache
    // never hits): ~150 ms/step of pure planning overhead at sf0.1, ~7×
    // the actual gradient compute. Float semantics are unchanged — z
    // stays the left-associative bias + x0·w1 + …, σ the same Math.exp
    // form, per-partition partial sums accumulate in row order and the
    // mean divides the merged sum once, exactly like the SQL avg. Both
    // tiers run the same per-partition folds; they differ only in the
    // order the partials merge: the driver tier merges them in
    // partition order, deterministically, while `RDD.aggregate` merges
    // them in task-completion order.
    val data = feats.queryExecution.toRdd.map { ir =>
      val a = new Array[Double](d + 1)
      var i = 0; while (i < d + 1) { a(i) = ir.getDouble(i); i += 1 }; a
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def step(w: Array[Double], g: (Array[Double], Long)): Array[Double] = {
        val (gsum, cnt) = g
        // empty input: no gradient, w stays put. Deliberate behavior
        // CHANGE from the SQL path, which threw (Row.getDouble NPEs on
        // a null avg): empty input now yields zero weights and null
        // metrics instead of crashing
        if (cnt == 0) w
        else Array.tabulate(d + 1)(j => w(j) - learningRate * (gsum(j) / cnt))
      }
      // the collected partitions once the first step put the input
      // under the gate; until then, and above it, every pass is a job
      var local: Option[Array[Array[Array[Double]]]] = None
      def run[A](r: Int, f: Fold[A]): A =
        local.fold(Graph.inRound(sc, "logisticGd", r)(f.over(data)))(f.over)
      var w = Array.fill(d + 1)(0.0)
      val first = run(1, gradient(d, w))
      w = step(w, first)
      if (graft.Gates.under(spark, first._2 * (d + 1), graft.Gates.NodeState))
        local = Some(Graph.inRound(sc, "logisticGd", 2)(data.glom().collect()))
      for (r <- 2 to iterations) w = step(w, run(r, gradient(d, w)))
      val (accSum, lossSum, n) = run(iterations + 1, metrics(d, w))
      // round exactly like the Spark `round` column function (HALF_UP
      // on double); NaN/∞ pass through as round() passes them through
      def r6(x: Double): java.lang.Double =
        if (x.isNaN || x.isInfinite) x
        else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // n == 0: the old avg returned SQL null → null metrics columns
      val (accOut, lossOut): (java.lang.Double, java.lang.Double) =
        if (n == 0) (null, null) else (r6(accSum / n), r6(lossSum / n))
      import spark.implicits._
      ("bias" +: xCols).zip(w.toSeq).zipWithIndex
        .map { case ((t, wj), i) => (i.toLong, t, r6(wj), n, accOut, lossOut) }
        .toDF("term_idx", "term", "weight", "n", "accuracy", "log_loss")
    } finally data.unpersist(blocking = false)
  }

  /** A per-row fold over [y, x0…] rows and the merge of its
    * per-partition partials. The same functions run inside
    * `RDD.aggregate` and over the collected partitions, so both tiers
    * share one copy of the arithmetic.
    */
  private final case class Fold[A: ClassTag](zero: () => A,
                                              seqOp: (A, Array[Double]) => A,
                                              combOp: (A, A) => A) {
    def over(data: RDD[Array[Double]]): A = data.aggregate(zero())(seqOp, combOp)
    def over(parts: Array[Array[Array[Double]]]): A =
      parts.map(_.foldLeft(zero())(seqOp)).foldLeft(zero())(combOp)
  }

  private def sigma(d: Int, a: Array[Double], w: Array[Double]): Double = {
    var z = w(0); var i = 0
    while (i < d) { z += a(i + 1) * w(i + 1); i += 1 }
    1.0 / (1.0 + math.exp(-z))
  }

  /** One GD step's sums: Σ(σ(w·x) − y)·[1, x] and the row count. */
  private def gradient(d: Int, w: Array[Double]): Fold[(Array[Double], Long)] = Fold(
    () => (new Array[Double](d + 1), 0L),
    { case ((acc, c), a) =>
      val e = sigma(d, a, w) - a(0)
      acc(0) += e
      var i = 0
      while (i < d) { acc(i + 1) += e * a(i + 1); i += 1 }
      (acc, c + 1L)
    },
    { case ((a1, c1), (a2, c2)) =>
      var i = 0; while (i < d + 1) { a1(i) += a2(i); i += 1 }
      (a1, c1 + c2)
    })

  /** Final-epoch metric sums: correct predictions, log-loss and the row
    * count, same formulas as the old SQL aggregate. The loss clamps p
    * away from {0, 1}: σ saturates EXACTLY in double past |z| ≈ 37, and
    * log(0) on a confidently-correct row would bias the reported loss
    * precisely when the model fits well. 1e-15 is below any real
    * probability of interest and a no-op when σ is unsaturated.
    */
  private def metrics(d: Int, w: Array[Double]): Fold[(Double, Double, Long)] = Fold(
    () => (0.0, 0.0, 0L),
    { case ((as, ls, c), a) =>
      val p = sigma(d, a, w)
      val y = a(0)
      val acc = if ((p >= 0.5) == (y == 1.0)) 1.0 else 0.0
      val pcl = math.max(math.min(p, 1.0 - 1e-15), 1e-15)
      val loss = -(y * math.log(pcl) + (1.0 - y) * math.log(1.0 - pcl))
      (as + acc, ls + loss, c + 1L)
    },
    { case ((a1, l1, c1), (a2, l2, c2)) => (a1 + a2, l1 + l2, c1 + c2) })
}
