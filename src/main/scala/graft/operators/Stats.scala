package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Statistical inference over corpus-scale data — resampling confidence
  * intervals and inter-annotator agreement. No reference implementation
  * exists (SURVEY.md §7.4 extension family; methods from the published
  * literature — Chamandy et al. "Estimating Uncertainty for Massive
  * Data Streams" (Google TR '12) Poisson bootstrap, Cohen '60 kappa).
  */
object Stats {

  /** Cumulative Poisson(1) CDF ladder, P(X ≤ k) for k = 0..6 — enough
    * mass (1 − 8.1e-5 at k=6) that the tail clamp at 7 is negligible.
    * Fixed literals so an external SQL engine restates them exactly.
    */
  private val poissonCdf1: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119)

  /** Deterministic Poisson(1) weight for (unit, replicate): uniform
    * u ∈ [0,1) from the first 8 md5 hex chars of "unit|b", inverted
    * through the CDF ladder. Pure column arithmetic — portable to any
    * engine with md5.
    */
  def poissonWeight(unit: Column, b: Column): Column = {
    val u = conv(substring(md5(concat_ws("|", unit, b)), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    // ascending first-match CASE ladder: when(u<cdf0, 0).otherwise(
    // when(u<cdf1, 1). …, built from the tail up
    poissonCdf1.zipWithIndex.reverse
      .foldLeft(lit(7L)) { case (tail, (p, k)) =>
        when(u < p, lit(k.toLong)).otherwise(tail)
      }
  }

  /** Poisson bootstrap of a mean (Chamandy '12): each of `nReplicates`
    * resamples weights every row by an independent Poisson(1) draw —
    * the distributed bootstrap, since true multinomial resampling needs
    * global coordination but Poisson weights are per-row independent.
    * Draws are deterministic in (idCol, replicate), so reruns and
    * engine replays agree exactly.
    *
    * Scale: one corpus pass explodes B replicate ids per row and
    * partially aggregates map-side into a B-row table — B× CPU, but
    * the shuffle is B cells, never the corpus. Output: one row per
    * replicate (b, n_eff, mean_b).
    */
  def poissonBootstrapMeans(df: DataFrame, idCol: String, valueCol: String,
                            nReplicates: Int): DataFrame = {
    require(nReplicates >= 1, s"need >= 1 replicates, got $nReplicates")
    df.select(col(idCol).as("__id"), col(valueCol).cast("double").as("__v"))
      .transform(poissonReplicated(_, "__id", nReplicates))
      .groupBy(col("b"))
      .agg(sum(col("__w")).as("n_eff"),
        (sum(col("__w") * col("__v")) / sum(col("__w"))).as("mean_b"))
  }

  /** The replicate×row expansion shared by [[poissonBootstrapMeans]]
    * and [[binaryEvalBootstrap]]: every input row exploded to
    * `nReplicates` rows with its deterministic Poisson(1) weight `__w`
    * and replicate id `b` ∈ [1, nReplicates] (one md5 per 4-replicate
    * block — the digest's 128 bits are four independent 32-bit words).
    *
    * Draws come from the fused
    * [[graft.expressions.PoissonReplicates]] kernel — one codegen'd
    * call per input row emitting the prebuilt weight array, where the
    * former declarative chain (block explode → md5 → per-j string
    * conv → 8-branch CASE ladder) re-evaluated digest + parse + ladder
    * once per EXPLODED row, B× per unit. Bit-identical by
    * construction; StatsSpec keeps the declarative chain as the
    * kernel's executable specification.
    *
    * Pinned fan-out: a single-file input arrives as ONE split, and
    * this pipeline is pure map-side work into small aggregates —
    * without the explicit repartition the B× hashing runs on one task
    * (row-count-proportional work, not input-bytes; same reasoning as
    * the containment block join).
    */
  private def poissonReplicated(df: DataFrame, idCol: String,
                                nReplicates: Int): DataFrame = {
    // posexplode_OUTER: the kernel's array is non-null and non-empty
    // for every (non-null-id) row, so outer vs inner explode emit the
    // same rows — but the inner form lets InferFiltersFromGenerate
    // synthesize `size(kernel)>0 AND isnotnull(kernel)`, which alias
    // substitution then pushes below the repartition: the whole kernel
    // re-ran on the UN-fanned-out scan (one task) just to decide the
    // filter, doubling the work and serializing it (measured 1.6 s →
    // 4.8 s before this line). The rule skips outer generates.
    df
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
      .withColumn("__ws", GraftFunctions.call("poisson_replicates",
        col(idCol).cast("string"), lit(nReplicates)))
      .select(col("*"), posexplode_outer(col("__ws")).as(Seq("__bi", "__w")))
      .withColumn("b", (col("__bi") + 1).cast("long"))
      .drop("__ws", "__bi")
  }

  /** Percentile bootstrap CI on the tie-aware ROC AUC — the error bar
    * the filter-model report ships next to q223's point estimate.
    * Every replicate reweights the SAME rows by a deterministic
    * Poisson(1) draw ([[poissonWeight]]; Chamandy '12) and re-runs the
    * weighted rank-sum: with weighted class masses p_g/n_g per distinct
    * score, AUC_b = (Σ p_g·cn_g + Σ p_g·n_g/2)/(P_b·N_b) — the
    * Mann–Whitney estimator generalizes verbatim to weighted counts.
    *
    * Scale: one replicate×row expansion partial-aggregates into a
    * B×|distinct scores| table; the cumulative weighted counts come
    * from windows PARTITIONED BY replicate (parallel across B, each
    * task bounded by one replicate's threshold count). A replicate
    * that resamples a class away yields NULL and drops from the
    * percentile (never a fake 0). Output: one row (n_pos, n_neg,
    * roc_auc, n_replicates, ci_lo, ci_hi).
    */
  def binaryEvalBootstrap(df: DataFrame, idCol: String, scoreCol: String,
                          labelCol: String, nReplicates: Int,
                          alpha: Double = 0.05): DataFrame = {
    require(nReplicates >= 1, s"need >= 1 replicates, got $nReplicates")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val rows = df.select(col(idCol).cast("string").as("__id"),
        col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("boolean").cast("double").as("__yd"))
      .filter(col("__id").isNotNull && col("__s").isNotNull && col("__yd").isNotNull)
    val g = poissonReplicated(rows, "__id", nReplicates)
      .groupBy(col("b"), col("__s"))
      .agg(sum(col("__w") * col("__yd")).as("__p"),
        sum(col("__w") * (lit(1.0) - col("__yd"))).as("__n"))
    val before = Window.partitionBy(col("b")).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val c = g.withColumn("__cn", coalesce(sum(col("__n")).over(before), lit(0.0)))
    val a = c.groupBy(col("b"))
      .agg(sum(col("__p")).as("__P"), sum(col("__n")).as("__N"),
        sum(col("__p") * col("__cn")).as("__u"),
        sum(col("__p") * col("__n")).as("__t"))
    val aucs = a.select(when(col("__P") > 0 && col("__N") > 0,
      (col("__u") + col("__t") / 2) / (col("__P") * col("__N"))).as("__auc"))
    val point = binaryEval(df, scoreCol, labelCol)
      .select(col("n_pos"), col("n_neg"), col("roc_auc"))
    aucs.agg(count(col("__auc")).as("n_replicates"),
        round(percentile(col("__auc"), lit(alpha / 2)), 6).as("ci_lo"),
        round(percentile(col("__auc"), lit(1 - alpha / 2)), 6).as("ci_hi"))
      .crossJoin(broadcast(point))
      .select(col("n_pos"), col("n_neg"), col("roc_auc"),
        col("n_replicates"), col("ci_lo"), col("ci_hi"))
  }

  /** Percentile confidence interval from the replicate means, plus the
    * plain point estimate: one row (n, point_mean, n_replicates,
    * ci_lo, ci_hi) at the given two-sided level (exact interpolated
    * percentiles over the B-row table).
    */
  def poissonBootstrapCI(df: DataFrame, idCol: String, valueCol: String,
                         nReplicates: Int, alpha: Double = 0.05): DataFrame = {
    val means = poissonBootstrapMeans(df, idCol, valueCol, nReplicates)
    val point = df.agg(count(col(valueCol)).as("n"),
      avg(col(valueCol).cast("double")).as("point_mean"))
    means.agg(
        count(lit(1)).as("n_replicates"),
        percentile(col("mean_b"), lit(alpha / 2)).as("ci_lo"),
        percentile(col("mean_b"), lit(1 - alpha / 2)).as("ci_hi"))
      .crossJoin(broadcast(point))
      .select(col("n"), col("point_mean"), col("n_replicates"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Paired bootstrap significance for a metric delta (Koehn EMNLP '04
    * §3 — "is system A really better than system B on this test set"),
    * with the resampling done as the Poisson bootstrap so it
    * distributes: both systems score the SAME units, each replicate
    * reweights every unit by a deterministic Poisson(1) draw (the
    * [[poissonBootstrapMeans]] machinery on the per-unit delta — one
    * draw per (unit, replicate), shared by A and B by construction,
    * which is exactly what "paired" means), and the test statistic is
    * the replicate mean delta. Reported per Koehn: the point means and
    * delta, a percentile CI on the delta, and `frac_a_better` — the
    * fraction of replicates whose mean delta is > 0 (≥ 1 − α ⇒ A's
    * win is significant at level α; the p-value for "A ≤ B" is
    * 1 − frac_a_better).
    *
    * Pass integer-valued scores (e.g. metric micros, the [[TextEval]]
    * convention) and every replicate sum is exact — order-independent
    * and engine-replayable. Scale: one corpus pass for the draws, a
    * B-row shuffle, and two broadcast scalars; the corpus never
    * collects. Output: one row (n, mean_a, mean_b, delta,
    * n_replicates, ci_lo, ci_hi, frac_a_better).
    */
  def pairedBootstrapDelta(df: DataFrame, idCol: String, aCol: String,
                           bCol: String, nReplicates: Int,
                           alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    // pairwise-complete rows only: a null score would count in n while
    // every mean skips it, and its Poisson weight would enter replicate
    // denominators with no numerator — diluting every resampled delta
    val deltas = df.select(col(idCol).as("__pid"),
      (col(aCol).cast("double") - col(bCol).cast("double")).as("__d"),
      col(aCol).cast("double").as("__a"), col(bCol).cast("double").as("__b"))
      .filter(col("__d").isNotNull)
    val means = poissonBootstrapMeans(deltas, "__pid", "__d", nReplicates)
    val point = deltas.agg(count(lit(1)).as("n"),
      avg(col("__a")).as("mean_a"), avg(col("__b")).as("mean_b"),
      avg(col("__d")).as("delta"))
    means.agg(
        count(lit(1)).as("n_replicates"),
        percentile(col("mean_b"), lit(alpha / 2)).as("ci_lo"),
        percentile(col("mean_b"), lit(1 - alpha / 2)).as("ci_hi"),
        avg(when(col("mean_b") > 0, lit(1.0)).otherwise(lit(0.0)))
          .as("frac_a_better"))
      .crossJoin(broadcast(point))
      .select(col("n"), col("mean_a"), col("mean_b"), col("delta"),
        col("n_replicates"), col("ci_lo"), col("ci_hi"),
        col("frac_a_better"))
  }

  /** Cohen's kappa between two categorical label columns (two
    * annotators over the same rows): κ = (p_o − p_e)/(1 − p_e) with
    * p_o the observed agreement and p_e the chance agreement from the
    * marginals (Cohen '60) — the label-quality gate a crowdsourced
    * annotation pipeline releases on.
    *
    * Scale: the agreement count and both marginals reduce from one
    * cell-sized contingency aggregate (the [[Scoring.mutualInformation]]
    * pattern); everything downstream is cell-count arithmetic.
    * Output: one row (n, po, pe, kappa).
    */
  def cohensKappa(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df.groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("__nab"))
    val ma = cells.groupBy(col("__a")).agg(sum(col("__nab")).as("__na"))
    val mb = cells.groupBy(col("__b")).agg(sum(col("__nab")).as("__nb"))
    val agree = cells.agg(
      sum(col("__nab")).as("__n"),
      sum(when(col("__a") <=> col("__b"), col("__nab")).otherwise(0L))
        .as("__agree"))
    val pe = ma.join(mb, col("__a") <=> col("__b"))
      .agg(sum(col("__na") * col("__nb")).as("__ee"))
    broadcast(agree).crossJoin(broadcast(pe))
      .withColumn("po", col("__agree") / col("__n"))
      .withColumn("pe", col("__ee") / (col("__n") * col("__n")))
      .withColumn("kappa", (col("po") - col("pe")) / (lit(1) - col("pe")))
      .select(col("__n").as("n"), col("po"), col("pe"), col("kappa"))
  }

  /** Reliability diagram + expected calibration error (Naeini et al.
    * AAAI '15; Guo et al. ICML '17): `confCol` ∈ [0,1] cut into
    * `nBins` equal-width bins (the top edge folds into the last bin),
    * per-bin mean confidence vs empirical accuracy of the boolean
    * `correctCol`, and ECE = Σ (nᵇ/N)·|accᵇ − confᵇ| repeated on every
    * row — the one number a filter-model gate thresholds on.
    *
    * One hash aggregate over the corpus (nBins-row result); the ECE
    * total joins back as a broadcast 1-row scalar (the [[cohensKappa]]
    * pattern) — nothing corpus-sized past the first aggregate.
    * Output: (bin, n, avg_conf, accuracy, gap, ece), one row per
    * non-empty bin.
    */
  /** Shared reliability binning of [[calibration]] and
    * [[isotonicCalibration]] (ONE definition — a pasted copy is the
    * 1688f12 drift class): rows with a null confidence or null outcome
    * DROP (a null-conf row would inflate the ECE denominator while
    * contributing no gap, and its null bin would sort FIRST in this
    * engine but LAST in an external one, corrupting the PAV prefix
    * sums); out-of-range confidences clamp into the edge bins.
    */
  private def binnedAccuracy(df: DataFrame, confCol: String,
                             correctCol: String, nBins: Int): DataFrame =
    df.select(col(confCol).cast("double").as("__conf"),
        col(correctCol).cast("boolean").cast("double").as("__ok"))
      .filter(col("__conf").isNotNull && col("__ok").isNotNull)
      .select(
        greatest(least(floor(col("__conf") * nBins), lit(nBins - 1)), lit(0))
          .cast("long").as("bin"),
        col("__conf"), col("__ok"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), avg(col("__conf")).as("avg_conf"),
        avg(col("__ok")).as("accuracy"))

  def calibration(df: DataFrame, confCol: String, correctCol: String,
                  nBins: Int = 10): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    val byBin = binnedAccuracy(df, confCol, correctCol, nBins)
      .withColumn("gap", abs(col("accuracy") - col("avg_conf")))
      .persist()
    graft.Caches.track(byBin)
    val tot = byBin.agg(
      (sum(col("gap") * col("n")) / sum(col("n"))).as("ece"))
    byBin.crossJoin(broadcast(tot))
  }

  /** Isotonic (PAV) recalibration of the reliability diagram: the
    * best non-decreasing fit of per-bin accuracy over the confidence
    * bins (Ayer et al. '55; Zadrozny & Elkan KDD '02 for classifier
    * calibration), computed by the MINIMAX closed form of the
    * pool-adjacent-violators solution:
    *
    *   iso_k = max_{i ≤ k} min_{j ≥ k} (Σ_{b=i..j} n_b·acc_b / Σ_{b=i..j} n_b)
    *
    * No sequential pooling loop: the bin table is nBins-bounded by
    * construction, so the (i, j) pooled means are a bounded self-join
    * over bin prefix sums and the fit is exact closed-form arithmetic
    * an external engine restates verbatim. The corpus-sized work stays
    * the ONE hash aggregate that builds the bins (the [[calibration]]
    * binning, bit-identical). Output: (bin, n, avg_conf, accuracy,
    * iso_fit), one row per non-empty bin; iso_fit is non-decreasing.
    */
  def isotonicCalibration(df: DataFrame, confCol: String, correctCol: String,
                          nBins: Int = 10): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    val byBin = binnedAccuracy(df, confCol, correctCol, nBins).persist()
    graft.Caches.track(byBin)
    // global window over the ≤nBins-row bin table — the bounded-dim
    // convention (GroupOps.rowNumberId), never over corpus rows
    val cum = Windows.boundedGlobal(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = byBin.select(col("bin"), col("n"), col("accuracy"),
      sum(col("n")).over(cum).as("cw"),
      sum(col("accuracy") * col("n")).over(cum).as("cs"))
    val lo = pre.select(col("bin").as("i"),
      (col("cw") - col("n")).as("cw0"),
      (col("cs") - col("accuracy") * col("n")).as("cs0"))
    val hi = pre.select(col("bin").as("j"), col("cw"), col("cs"))
    val ranges = lo.join(hi, col("i") <= col("j"))
      .select(col("i"), col("j"),
        ((col("cs") - col("cs0")) / (col("cw") - col("cw0"))).as("m"))
    val fit = byBin.select(col("bin"))
      .join(ranges, col("i") <= col("bin") && col("j") >= col("bin"))
      .groupBy(col("bin"), col("i")).agg(min(col("m")).as("mn"))
      .groupBy(col("bin")).agg(max(col("mn")).as("iso_fit"))
    byBin.join(fit, "bin")
      .select(col("bin"), col("n"), col("avg_conf"), col("accuracy"),
        col("iso_fit"))
  }

  /** Distinct-score contingency for binary-classifier evaluation: one
    * row per distinct score with its positive/negative counts — the
    * only corpus-sized pass either AUC needs. Null scores/labels are
    * dropped (neither estimator is defined for them).
    */
  private def scoreContingency(df: DataFrame, scoreCol: String,
                               labelCol: String): DataFrame =
    df.select(col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("boolean").cast("long").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
      .groupBy(col("__s"))
      .agg(sum(col("__y")).as("__p"), sum(lit(1L) - col("__y")).as("__n"))

  /** Tie-aware ROC AUC and PR AUC of a score column against a binary
    * label — the threshold-free quality-classifier gates that complete
    * the [[calibration]] (ECE) suite. ROC AUC is the Mann–Whitney
    * rank-sum estimator with the standard ½ credit for tied
    * positive/negative pairs; PR AUC is step-wise average precision
    * with one step per distinct score descending (the scikit-learn
    * `average_precision_score` convention, which never interpolates).
    *
    * Scale: everything reduces from the distinct-score contingency;
    * both cumulative counts under each threshold (positives and
    * negatives) come from one [[GroupOps.exclusivePrefixSum]]
    * two-phase scan — one range shuffle of the score-distinct table
    * and one partition-offsets job, never a single-partition window
    * over every threshold. Output: one row (n_pos, n_neg,
    * n_thresholds, roc_auc, pr_auc); both AUCs are NULL when either
    * class is empty (undefined, not 0).
    */
  def binaryEval(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    binaryEvalAgg(scoreCumFrame(df, scoreCol, labelCol), Nil)

  /** The shared rank machinery of [[binaryEval]] and [[mannWhitney]]:
    * the distinct-score contingency with ascending-exclusive prefix
    * sums (__cp and __cn from ONE two-phase scan) and class totals
    * (__bigP/__bigN) on every row.
    */
  private def scoreCumFrame(df: DataFrame, scoreCol: String,
                            labelCol: String): DataFrame = {
    val byScore = scoreContingency(df, scoreCol, labelCol)
    val c = GroupOps.exclusivePrefixSum(byScore, Seq(col("__s")),
      Seq(col("__p") -> "__cp", col("__n") -> "__cn"))
    val tot = c.agg(sum(col("__p")).as("__bigP"), sum(col("__n")).as("__bigN"))
    c.crossJoin(broadcast(tot))
  }

  /** Mann–Whitney U test (two-sided normal approximation with the
    * standard tie correction; Mann & Whitney '47, Lehmann '75 §1.3):
    * is the positive class's score distribution stochastically shifted
    * against the negative class's? U is the rank-sum statistic of the
    * positive class (= ROC AUC × n₁·n₂ — the same rank algebra as
    * [[binaryEval]], reduced from the same [[scoreCumFrame]]);
    *
    *   z = (U − n₁n₂/2) / √( n₁n₂/12 · ((N+1) − Σ(t³−t)/(N(N−1))) )
    *
    * with t the tie-group sizes (the distinct-score multiplicities).
    * No continuity correction (the large-sample corpus regime; an
    * external engine restates the algebra verbatim). All-tied input
    * (σ = 0) and an empty class report NULL z — undefined, not 0.
    * Output: one row (n_pos, n_neg, u, z).
    */
  def mannWhitney(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val c = scoreCumFrame(df, scoreCol, labelCol)
    val t = (col("__p") + col("__n")).cast("double")
    val agg = c.agg(
      first(col("__bigP")).as("n_pos"), first(col("__bigN")).as("n_neg"),
      sum(col("__p").cast("double") * col("__cn")).as("__w"),
      sum(col("__p").cast("double") * col("__n")).as("__t"),
      sum(t * t * t - t).as("__ties"))
    val n1 = col("n_pos").cast("double")
    val n2 = col("n_neg").cast("double")
    val bigN = n1 + n2
    val u = col("__w") + col("__t") / 2
    val sigma2 = (n1 * n2 / 12
      * ((bigN + 1) - col("__ties") / (bigN * (bigN - 1))))
    agg.select(col("n_pos"), col("n_neg"),
      round(when(col("n_pos") > 0 && col("n_neg") > 0, u), 6).as("u"),
      round(when(col("n_pos") > 0 && col("n_neg") > 0,
        (u - n1 * n2 / 2) / nullif(sqrt(sigma2), lit(0.0))), 6).as("z"))
  }

  /** Two-sample Kolmogorov–Smirnov test: D = max |F₁(s) − F₂(s)| over
    * the pooled distinct scores, comparing the positive class's score
    * distribution against the negative's — the distribution-drift
    * gate that catches shape changes a mean/variance test misses.
    * Also reports the sample-size-scaled statistic
    * √(n₁n₂/(n₁+n₂))·D (the quantity compared against the
    * Kolmogorov c(α) table; no p-value — the CDF needs a special
    * function neither engine owns, and thresholding the scaled
    * statistic is the standard large-sample practice).
    *
    * Empirical CDFs are inclusive cumulative class counts from the
    * SAME [[scoreCumFrame]] two-phase scan as [[binaryEval]] /
    * [[mannWhitney]] — one distinct-score shuffle, no per-row window.
    * One-sided input reports NULL (undefined). Output: one row
    * (n_pos, n_neg, d, ks_stat).
    */
  def ksTest(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val c = scoreCumFrame(df, scoreCol, labelCol)
    // nullif, not a bare /: the division runs INSIDE the aggregate,
    // before the one-sided `when` guard can mask it — under ANSI mode
    // an empty class would throw DIVIDE_BY_ZERO instead of going NULL
    val f1 = (col("__cp") + col("__p")).cast("double") / nullif(col("__bigP"), lit(0L))
    val f2 = (col("__cn") + col("__n")).cast("double") / nullif(col("__bigN"), lit(0L))
    val agg = c.agg(
      first(col("__bigP")).as("n_pos"), first(col("__bigN")).as("n_neg"),
      max(abs(f1 - f2)).as("__d"))
    val n1 = col("n_pos").cast("double")
    val n2 = col("n_neg").cast("double")
    agg.select(col("n_pos"), col("n_neg"),
      round(when(col("n_pos") > 0 && col("n_neg") > 0, col("__d")), 6).as("d"),
      round(when(col("n_pos") > 0 && col("n_neg") > 0,
        sqrt(n1 * n2 / (n1 + n2)) * col("__d")), 6).as("ks_stat"))
  }

  /** Population stability index over fixed equal-width score bins —
    * the ML-monitoring drift standard (PSI < 0.1 stable, > 0.25
    * investigate) comparing an ACTUAL cohort's score distribution
    * against an EXPECTED (baseline) cohort's:
    * PSI = Σ (p_b − q_b)·ln(p_b / q_b). Bins are [lo, hi) equal-width
    * with both tails clamped into the edge bins (a fixed grid, so two
    * runs and two engines bin identically — quantile bins would drift
    * with the data). Zero cells take a +0.5 Laplace count on BOTH
    * cohorts (the deterministic, restatable smoothing; the ad-hoc
    * "replace 0 with 1e-4" convention is not scale-free). Null scores
    * and null cohorts drop.
    *
    * One two-column contingency aggregate over the corpus; the PSI
    * reduction is nBins-sized. Complements [[ksTest]]: K–S detects ANY
    * shape change with a p-value-free statistic, PSI localizes WHERE
    * the mass moved with interpretable thresholds. Output: one row per
    * bin (bin, n_expected, n_actual, p_expected, p_actual, contrib,
    * psi) with the scalar repeated (the [[calibration]] convention).
    */
  def psi(df: DataFrame, cohortCol: String, scoreCol: String,
          lo: Double, hi: Double, nBins: Int = 10): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val bin = least(greatest(
        floor((col("__s") - lo) / lit((hi - lo)) * nBins), lit(0.0)),
      lit((nBins - 1).toDouble)).cast("long")
    val cells = df.select(col(cohortCol).cast("boolean").as("__exp"),
        col(scoreCol).cast("double").as("__s"))
      .filter(col("__exp").isNotNull && col("__s").isNotNull)
      .select(col("__exp"), bin.as("bin"))
      .groupBy(col("bin"))
      .agg(sum(when(col("__exp"), 1L).otherwise(0L)).as("n_expected"),
        sum(when(!col("__exp"), 1L).otherwise(0L)).as("n_actual"))
    // densify: every bin exists even if neither cohort hit it (the
    // smoothing needs the full grid); bins are a bounded dim
    val grid = df.sparkSession.range(nBins).select(col("id").as("bin"))
    val full = grid.join(cells, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_expected"), lit(0L)).as("n_expected"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"))
      .persist()
    graft.Caches.track(full)
    val tot = full.agg(sum(col("n_expected")).as("__te"),
      sum(col("n_actual")).as("__ta"))
    val smoothedE = col("n_expected").cast("double") + 0.5
    val smoothedA = col("n_actual").cast("double") + 0.5
    val p = smoothedE / (col("__te") + lit(0.5) * nBins)
    val q = smoothedA / (col("__ta") + lit(0.5) * nBins)
    val scored = full.crossJoin(broadcast(tot))
      .withColumn("p_expected", p)
      .withColumn("q_actual", q)
      .withColumn("contrib",
        (col("p_expected") - col("q_actual"))
          * log(col("p_expected") / col("q_actual")))
    val total = scored.agg(sum(col("contrib")).as("psi"))
    scored.crossJoin(broadcast(total))
      .select(col("bin"), col("n_expected"), col("n_actual"),
        round(col("p_expected"), 6).as("p_expected"),
        round(col("q_actual"), 6).as("q_actual"),
        round(col("contrib"), 6).as("contrib"),
        round(col("psi"), 6).as("psi"))
  }

  /** Two-proportion z-test (pooled standard error): did a binary rate
    * move between two cohorts (this batch vs last batch, slice A vs
    * slice B)? z = (p₁ − p₂) / √(p̂(1−p̂)(1/n₁ + 1/n₂)) with p̂ the
    * pooled proportion — the A/B arithmetic every ingest gate runs.
    * One ONE-pass two-row contingency aggregate; everything after is
    * scalar arithmetic. Rows with a null cohort or null outcome drop;
    * an empty cohort or a degenerate pooled rate (p̂ ∈ {0, 1}) reports
    * NULL z (undefined), not 0. Output: one row (n1, n2, p1, p2, z).
    */
  def twoProportionZ(df: DataFrame, cohortCol: String,
                     successCol: String): DataFrame = {
    val c = df.select(col(cohortCol).cast("boolean").as("__g"),
        col(successCol).cast("boolean").cast("double").as("__y"))
      .filter(col("__g").isNotNull && col("__y").isNotNull)
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__k"))
    val agg = c.agg(
      sum(when(col("__g"), col("__n"))).as("n1"),
      sum(when(!col("__g"), col("__n"))).as("n2"),
      sum(when(col("__g"), col("__k"))).as("__k1"),
      sum(when(!col("__g"), col("__k"))).as("__k2"))
    val n1 = col("n1").cast("double")
    val n2 = col("n2").cast("double")
    val p1 = col("__k1") / n1
    val p2 = col("__k2") / n2
    val pp = (col("__k1") + col("__k2")) / (n1 + n2)
    agg.select(col("n1"), col("n2"),
      round(when(col("n1") > 0, p1), 6).as("p1"),
      round(when(col("n2") > 0, p2), 6).as("p2"),
      round(when(col("n1") > 0 && col("n2") > 0,
        (p1 - p2) / nullif(
          sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1 + lit(1.0) / n2)),
          lit(0.0))), 6).as("z"))
  }

  /** Pearson χ² test of independence between two categorical columns
    * plus Cramér's V — the corpus-balance audit (is `lang` independent
    * of `source`?) behind every mixture dashboard. Expected counts
    * come from the marginals (e = nₐ·n_b/N) over the FULL r×c grid,
    * including zero-observed cells (dropping them understates χ²);
    * V = √(χ² / (N·min(r−1, c−1))). NULL is a category level (the
    * [[cohensKappa]] null-safe convention). dof = (r−1)(c−1); a
    * single-level column reports NULL V (undefined), not 0.
    *
    * Scale: one cell-sized contingency aggregate; the grid is a
    * bounded-dims cross join of the two marginals (category counts
    * bounded is the caller's contract). Output: one row
    * (n, r, c, dof, chi2, cramers_v).
    */
  def chiSquare(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df.groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("__o"))
      .persist()
    graft.Caches.track(cells)
    val ma = cells.groupBy(col("__a").as("__ka")).agg(sum(col("__o")).as("__na"))
    val mb = cells.groupBy(col("__b").as("__kb")).agg(sum(col("__o")).as("__nb"))
    // r/c = marginal ROW counts (a NULL level counts; countDistinct
    // would silently drop it), N = one scalar over the cells
    val tot = cells.agg(sum(col("__o")).as("__n"))
      .crossJoin(broadcast(ma.agg(count(lit(1)).as("r"))))
      .crossJoin(broadcast(mb.agg(count(lit(1)).as("c"))))
    val grid = ma.crossJoin(mb).crossJoin(broadcast(tot))
      .join(cells,
        col("__ka") <=> col("__a") && col("__kb") <=> col("__b"), "left")
    val e = col("__na").cast("double") * col("__nb") / col("__n")
    val o = coalesce(col("__o"), lit(0L)).cast("double")
    grid.agg(
        first(col("__n")).as("n"), first(col("r")).as("r"),
        first(col("c")).as("c"),
        sum((o - e) * (o - e) / e).as("__chi2"))
      .select(col("n"), col("r"), col("c"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"),
        round(col("__chi2"), 6).as("chi2"),
        round(sqrt(col("__chi2")
          / (col("n") * nullif(least(col("r") - 1, col("c") - 1), lit(0L)))), 6)
          .as("cramers_v"))
  }

  /** Per-slice [[binaryEval]] (one AUC pair per `groupCols` value) —
    * the bias/robustness audit a filter model ships with: a classifier
    * whose corpus-level AUC hides a far-worse slice is caught here.
    *
    * Group count bounded is the caller's contract (the
    * [[graft.operators.GroupOps.robustZscore]] convention), so the
    * prefix sums come from windows PARTITIONED by the slice over the
    * per-slice distinct-score tables — parallel across slices, each
    * task bounded by one slice's threshold count.
    */
  def binaryEvalBy(df: DataFrame, groupCols: Seq[String], scoreCol: String,
                   labelCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty; use binaryEval")
    val g = df.select(groupCols.map(col) :+
        col(scoreCol).cast("double").as("__s") :+
        col(labelCol).cast("boolean").cast("long").as("__y"): _*)
      .filter(col("__s").isNotNull && col("__y").isNotNull)
      .groupBy((groupCols :+ "__s").map(col): _*)
      .agg(sum(col("__y")).as("__p"), sum(lit(1L) - col("__y")).as("__n"))
    val before = Window.partitionBy(groupCols.map(col): _*).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.partitionBy(groupCols.map(col): _*)
    val c = g
      .withColumn("__cp", coalesce(sum(col("__p")).over(before), lit(0L)))
      .withColumn("__cn", coalesce(sum(col("__n")).over(before), lit(0L)))
      .withColumn("__bigP", sum(col("__p")).over(whole))
      .withColumn("__bigN", sum(col("__n")).over(whole))
    binaryEvalAgg(c, groupCols)
  }

  /** Shared reduction for both AUC forms: rows carry (__p, __n, __cp,
    * __cn, __bigP, __bigN) per distinct score; descending-inclusive
    * counts needed by precision are `total − ascending-exclusive`.
    */
  private def binaryEvalAgg(c: DataFrame, groupCols: Seq[String]): DataFrame = {
    val tpAt = col("__bigP") - col("__cp") // positives at score >= this row's
    val fpAt = col("__bigN") - col("__cn")
    val keys = groupCols.map(col)
    val grouped = if (keys.isEmpty) c.groupBy() else c.groupBy(keys: _*)
    grouped
      .agg(
        first(col("__bigP")).as("n_pos"), first(col("__bigN")).as("n_neg"),
        count(lit(1)).as("n_thresholds"),
        sum(col("__p").cast("double") * col("__cn")).as("__u"),
        sum(col("__p").cast("double") * col("__n")).as("__t"),
        // nullif: the division runs inside the aggregate, before any
        // guard — a zero-positive slice must go NULL, not throw under
        // ANSI (tpAt+fpAt ≥ this row's own count ≥ 1, no guard needed)
        sum((col("__p").cast("double") / nullif(col("__bigP"), lit(0L)))
          * (tpAt.cast("double") / (tpAt + fpAt))).as("__ap"))
      .select(keys ++ Seq(
        col("n_pos"), col("n_neg"), col("n_thresholds"),
        round(when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("__u") + col("__t") / 2)
            / (col("n_pos").cast("double") * col("n_neg"))), 6)
          .as("roc_auc"),
        round(when(col("n_pos") > 0, col("__ap")), 6).as("pr_auc")): _*)
  }

  /** Tie-aware Spearman rank correlation ρ between two numeric columns
    * within each key group: Pearson correlation of the columns'
    * fractional (average) ranks — the distribution-free monotone-trend
    * detector (drift of a score over time, agreement of two quality
    * signals) that Pearson's linear ρ gets wrong on heavy tails.
    *
    * Ranks come from the per-group distinct-value contingency (average
    * rank = count-strictly-smaller + (ties+1)/2), computed with windows
    * over the DISTINCT-value tables partitioned by group and joined
    * back — never a per-row window, so a group's window task is
    * bounded by its distinct-value count, not its row count. Rows with
    * a null in either column are excluded pairwise (the R/pandas
    * `complete.obs` convention). Output: one row per group
    * (group cols…, n, rho).
    */
  def spearman(df: DataFrame, groupCols: Seq[String], xCol: String,
               yCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    def withRank(d: DataFrame, valueCol: String, out: String): DataFrame = {
      val g = d.groupBy((groupCols :+ valueCol).map(col): _*)
        .agg(count(lit(1)).as("__cnt"))
      val before = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(col(valueCol)).rowsBetween(Window.unboundedPreceding, -1)
      val r = g.withColumn(out,
          coalesce(sum(col("__cnt")).over(before), lit(0L)).cast("double")
            + (col("__cnt") + lit(1)).cast("double") / 2)
        .drop("__cnt")
      d.join(r, groupCols :+ valueCol)
    }
    val rows = df.select(groupCols.map(col)
        :+ col(xCol).cast("double").as("__x")
        :+ col(yCol).cast("double").as("__y"): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val ranked = withRank(withRank(rows, "__x", "__rx"), "__y", "__ry")
    ranked.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        round(corr(col("__rx"), col("__ry")), 6).as("rho"))
  }

  /** Bradley–Terry preference strengths from a stream of pairwise
    * outcomes (winnerCol, loserCol) via Hunter '04's MM iteration
    * w_i ← W_i / Σ_j n_ij/(w_i + w_j), strengths renormalized to sum 1
    * each step — the preference-data aggregation an RLHF pipeline runs
    * over comparison logs to score items/policies.
    *
    * Scale split: the corpus-sized work is ONE aggregation of the
    * preference stream into the |items|²-bounded comparison matrix;
    * the MM fixed-point over that matrix is driver arithmetic under an
    * explicit item-count gate (the k-means-centroid bounded-collect
    * convention — items are a dim universe, comparisons are the
    * corpus). A fixed `iterations` count (not a convergence test)
    * keeps the result exactly restatable by an external engine.
    * Output: one row per item (item, n_wins, n_comparisons,
    * strength, rank) ranked by strength descending (item ascending
    * breaks exact ties).
    */
  def bradleyTerry(prefs: DataFrame, winnerCol: String, loserCol: String,
                   iterations: Int, maxItems: Int = 4096,
                   maxPairs: Long = 2000000L): DataFrame = {
    require(iterations >= 1, s"need >= 1 iterations, got $iterations")
    val spark = prefs.sparkSession
    val pairs = prefs
      .filter(col(winnerCol).isNotNull && col(loserCol).isNotNull)
      .groupBy(col(winnerCol).cast("string").as("__w"),
        col(loserCol).cast("string").as("__l"))
      .agg(count(lit(1)).as("__nwl"))
      .persist()
    graft.Caches.track(pairs)
    val nItems = pairs.select(explode(array(col("__w"), col("__l"))))
      .distinct().count()
    require(nItems <= maxItems,
      s"bradleyTerry collects the item-level matrix: $nItems items exceeds " +
        s"the $maxItems gate — this input is not a bounded preference universe")
    // the item gate alone permits up to maxItems² distinct pairs (~16.7M
    // at the default 4096); gate the actual collected row count too —
    // pairs is persisted, so this count reads the cache, not the corpus
    val nPairs = pairs.count()
    require(nPairs <= maxPairs,
      s"bradleyTerry collects the distinct comparison matrix: $nPairs pairs " +
        s"exceeds the $maxPairs gate — the preference graph is too dense to " +
        s"solve on the driver")
    val rows = pairs.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val items = rows.iterator.flatMap(t => Iterator(t._1, t._2)).toSeq.distinct.sorted
    val wins = rows.groupBy(_._1).map { case (i, g) => i -> g.map(_._3).sum }
    val comps = rows.iterator.flatMap { case (w, l, n) =>
      Iterator((w, l) -> n, (l, w) -> n) }
      .toSeq.groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum }
    var s = items.map(_ -> 1.0 / items.size).toMap
    for (_ <- 1 to iterations) {
      val raw = items.map { i =>
        val den = items.iterator.filter(_ != i).map { j =>
          comps.getOrElse((i, j), 0L).toDouble / (s(i) + s(j)) }.sum
        i -> (if (den == 0.0) 0.0 else wins.getOrElse(i, 0L).toDouble / den)
      }
      val z = raw.iterator.map(_._2).sum
      s = raw.map { case (i, v) => i -> (if (z == 0.0) 0.0 else v / z) }.toMap
    }
    // rank on the ROUNDED strength (6 dp, HALF_UP — the exact rule the
    // Spark `round` column function applies) so an external engine that
    // agrees at 6 dp can never flip a rank by a last-ulp difference
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = items
      .map { i =>
        val nc = items.iterator.filter(_ != i)
          .map(j => comps.getOrElse((i, j), 0L)).sum
        (i, wins.getOrElse(i, 0L), nc, r6(s(i)))
      }
      .sortBy { case (i, _, _, st) => (-st, i) }
      .zipWithIndex
      .map { case ((i, w, nc, st), r) => (i, w, nc, st, r + 1L) }
    import spark.implicits._
    out.toDF("item", "n_wins", "n_comparisons", "strength", "rank")
  }
}
