package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift monitoring between two snapshots of a corpus —
  * the gate a continuously-ingesting training pipeline runs before
  * admitting a new batch: has the value distribution of a feature
  * moved? Population Stability Index (the credit-scoring standard:
  * PSI = Σ (actual% − expected%)·ln(actual%/expected%), < 0.1 stable /
  * 0.1–0.25 moderate / > 0.25 action) plus the asymmetric KL term,
  * per group.
  *
  * Binning: `nBins` fixed-width bins over the BASELINE's per-group
  * [min, max] (right-open; out-of-range current values clamp into the
  * edge bins, so drifted mass lands somewhere visible instead of
  * disappearing). Fixed-width rather than quantile bins keeps the bin
  * function a pure closed-form expression — the same `floor((v−min)/w)`
  * IEEE arithmetic replays identically in any engine, which is what
  * makes q125's oracle exact. Zero-count bins are floored at `eps`
  * before the logs (the standard PSI convention), so the index stays
  * finite when a bin empties.
  *
  * Shape: one aggregate per snapshot (group×bin-sized results), a
  * broadcast bounds join, one full-outer bin alignment, and the
  * per-group totals as a window over the aligned bins — the raw
  * snapshots are each scanned once and never joined row-to-row.
  */
object Drift {

  /** Per-(group, bin) drift table; sum `psi_bin` (or use [[psiSummary]])
    * for the group index.
    */
  def psiBins(base: DataFrame, current: DataFrame, groupCols: Seq[String],
              valueCol: String, nBins: Int = 10,
              eps: Double = 1e-6): DataFrame = {
    require(nBins >= 2, s"need >= 2 bins, got $nBins")
    val g = groupCols.map(col)
    val bounds = base.groupBy(g: _*)
      .agg(min(col(valueCol).cast("double")).as("__lo"),
        max(col(valueCol).cast("double")).as("__hi"))
    def binned(df: DataFrame, cntName: String): DataFrame =
      df.join(broadcast(bounds), groupCols)
        .withColumn("__bin",
          when(col("__hi") === col("__lo"), lit(0)).otherwise(
            least(lit(nBins - 1), greatest(lit(0),
              floor((col(valueCol).cast("double") - col("__lo")) /
                ((col("__hi") - col("__lo")) / nBins)).cast("int")))))
        .groupBy((g :+ col("__bin")): _*)
        .agg(count(lit(1)).as(cntName))
    val b = binned(base, "__nb")
    val c = binned(current, "__nc")
    val joinCols = groupCols :+ "__bin"
    val aligned = b.join(c, joinCols, "full_outer")
      .na.fill(0L, Seq("__nb", "__nc"))
    val group = if (groupCols.isEmpty) Windows.boundedGlobalWhole else Window.partitionBy(g: _*)
    aligned
      .select((g :+ col("__bin").as("bin")) ++ Seq(
        (col("__nb") / sum(col("__nb")).over(group)).as("expected_frac"),
        (col("__nc") / sum(col("__nc")).over(group)).as("actual_frac")): _*)
      .withColumn("psi_bin",
        (greatest(col("actual_frac"), lit(eps)) - greatest(col("expected_frac"), lit(eps))) *
          log(greatest(col("actual_frac"), lit(eps)) / greatest(col("expected_frac"), lit(eps))))
  }

  /** Per-group PSI + KL(current‖base) summary. */
  def psiSummary(base: DataFrame, current: DataFrame, groupCols: Seq[String],
                 valueCol: String, nBins: Int = 10,
                 eps: Double = 1e-6): DataFrame = {
    val bins = psiBins(base, current, groupCols, valueCol, nBins, eps)
    bins.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_bins"),
        sum(col("psi_bin")).as("psi"),
        sum(greatest(col("actual_frac"), lit(eps)) *
          log(greatest(col("actual_frac"), lit(eps)) /
            greatest(col("expected_frac"), lit(eps)))).as("kl"))
  }

  /** Seasonal-baseline anomaly detection — the per-ROW complement to
    * [[psiSummary]]'s distribution gate: the baseline snapshot defines
    * a (group × season) normal band (mean ± z·stddev_samp, e.g. season
    * = hour-of-day so 3 a.m. traffic is judged against 3 a.m. history),
    * and current rows outside `zThreshold` sample deviations are
    * flagged with their z-score. The seasonal conditioning is what
    * separates "this value is normal at peak but pathological at 3
    * a.m." from a global z-test.
    *
    * Shape: the baseline collapses to a (group × season)-sized stats
    * table broadcast back over the current snapshot — each snapshot is
    * scanned once, map-side scoring, no row-to-row join. Seasons with
    * a degenerate baseline (n < 2 or zero variance) score NULL and are
    * NOT flagged — a band of width zero is a missing baseline, not an
    * alert (the caller's schema-drift gate catches genuinely new
    * seasons).
    *
    * Output: the flagged current rows (`idCols`, group, season, value,
    * z) with `z` signed — callers alert on the sign pattern too.
    */
  def seasonalAnomalies(baseline: DataFrame, current: DataFrame,
                        idCols: Seq[String], groupCols: Seq[String],
                        seasonCol: String, valueCol: String,
                        zThreshold: Double = 3.0): DataFrame = {
    require(zThreshold > 0, s"zThreshold must be > 0, got $zThreshold")
    val keys = groupCols :+ seasonCol
    val stats = baseline.groupBy(keys.map(col): _*)
      .agg(avg(col(valueCol).cast("double")).as("__m"),
        stddev_samp(col(valueCol).cast("double")).as("__s"),
        count(col(valueCol)).as("__n"))
    current.join(broadcast(stats), keys)
      .withColumn("z",
        when(col("__n") >= 2 && col("__s") > 0,
          (col(valueCol).cast("double") - col("__m")) / col("__s")))
      .filter(abs(col("z")) >= zThreshold)
      .select((idCols ++ keys).map(col) :+ col(valueCol) :+ col("z"): _*)
  }

  /** Benford first-digit audit of a positive numeric column: observed
    * leading-digit distribution vs the Benford expectation
    * log10(1 + 1/d) — the classic fabricated-data / broken-upstream
    * smoke test for naturally-spanning magnitudes (Newcomb 1881,
    * Benford 1938). The digit is taken from the INTEGER part rendered
    * as a string (values < 1 are excluded), which is engine-portable —
    * no float formatting, no log-near-integer boundary.
    *
    * Scale: one map-side digit projection + a 9-row aggregate;
    * chi-square contributions are 9-row arithmetic.
    * Output per digit 1–9: (digit, n, observed_p, expected_p, chi2_term).
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val digits = df
      .filter(col(valueCol).cast("double") >= 1)
      .select(substring(floor(col(valueCol).cast("double")).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("__total"))
    digits.crossJoin(broadcast(total))
      .withColumn("observed_p", col("n") / col("__total"))
      .withColumn("expected_p", log10(lit(1) + lit(1.0) / col("digit")))
      .withColumn("chi2_term",
        pow(col("observed_p") - col("expected_p"), 2) / col("expected_p") *
          col("__total"))
      .select(col("digit"), col("n"), col("observed_p"),
        col("expected_p"), col("chi2_term"))
  }
}
