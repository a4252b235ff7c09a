package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Grouped/analytic operators from SURVEY.md §2.4–§2.7 (A1–A9, W1–W5, U1),
  * with the §2.13 parity decisions baked in. Everything here is plain
  * DataFrame API so Catalyst keeps pushdown / partial aggregation / AQE.
  */
object GroupOps {

  /** A1/W2/O2 group-mode: the most frequent value of `valueCol` per `keys`.
    * Tie-break pinned to the reference's pandas semantics (`mode().iloc[0]`
    * = lexicographic minimum; reference data_clean_II.py:20-24) — the Glue
    * variant's bare `orderBy(desc(count))` (data_clean_II_glue.py:57-66) is
    * nondeterministic, which SURVEY §2.13.3 flags. Two shuffles: a partial-
    * aggregated count by (keys, value), then a window by keys — both on the
    * group keys, so AQE can coalesce and no row explosion happens.
    */
  def groupMode(df: DataFrame, keys: Seq[String], valueCol: String, out: String): DataFrame = {
    val counted = df
      .filter(col(valueCol).isNotNull)
      .groupBy((keys :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__cnt").desc, col(valueCol).asc)
    counted
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(keys.map(col) :+ col(valueCol).as(out): _*)
  }

  /** A2 grouped median, exact (`percentile`, mean-of-middle-two) to match
    * pandas `median()` — SURVEY §2.13.4 chooses exact over
    * `percentile_approx` for oracle parity. Returns one row per key group.
    */
  def groupedMedian(df: DataFrame, keys: Seq[String], valueCol: String, out: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(exactMedian(valueCol).as(out))

  private def exactMedian(valueCol: String): Column = expr(s"percentile(`$valueCol`, 0.5)")

  /** A2/M3 grouped-median imputation with a fallback, as the reference's
    * stage-II height/weight fill (data_clean_II.py:34-45): a null value
    * gets the median of its fine group; what is still null then gets the
    * median of its coarse group, taken over the FINE-FILLED column —
    * pandas' chained `fillna(groupby(...).transform('median'))`. `flags`
    * pairs each value column with the name of the boolean column that
    * records whether the value was null before any fill.
    *
    * One exact median aggregate per key level covers every value column
    * and joins back once by broadcast (group counts are tiny relative to
    * the fact table), so `df` is referenced four times whatever the number
    * of value columns. A null key matches no group, as pandas' groupby
    * drops null keys, and its row stays unfilled at that level.
    */
  def imputeWithGroupedMedian(df: DataFrame, fineKeys: Seq[String], coarseKeys: Seq[String],
                              flags: Seq[(String, String)]): DataFrame = {
    val meds = flags.zipWithIndex.map { case ((v, _), i) => v -> s"__med$i" }
    def fill(in: DataFrame, keys: Seq[String]): DataFrame = {
      val aggs = meds.map { case (v, m) => exactMedian(v).as(m) }
      val table = broadcast(in.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*))
      in.join(table, keys, "left")
        .withColumns(meds.map { case (v, m) => v -> coalesce(col(v), col(m)) }.toMap)
        .drop(meds.map(_._2): _*)
    }
    val flagged = flags.foldLeft(df) { case (d, (v, f)) => d.withColumn(f, col(v).isNull) }
    fill(fill(flagged, fineKeys), coarseKeys)
  }

  /** W4 forward-fill: within each `partCols` group ordered by `orderCols`,
    * replace nulls of `valueCol` with the last preceding non-null value
    * (reference ffill, athlete_scrape.py:142-158). The only frame-spec window
    * the reference needs; shuffles once on `partCols`.
    */
  def ffill(df: DataFrame, partCols: Seq[String], orderCols: Seq[Column], valueCol: String): DataFrame = {
    val w = Window
      .partitionBy(partCols.map(col): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(valueCol, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** W1/W5 dense sequential surrogate key (1..n) in global `orderCols` order,
    * without the single-partition `Window.orderBy` the Glue variant uses
    * (data_clean_glue.py:567-570 — fine at 76 rows, a driver-melting
    * bottleneck at 100 TB). Range-repartition + per-partition sort gives a
    * global order; a tiny count-per-partition job computes offsets; ids are
    * then assigned partition-locally. `orderCols` must be a total order
    * (include a unique key) or ids among ties are unspecified.
    */
  def denseId(df: DataFrame, orderCols: Seq[Column], out: String, start: Long = 1L): DataFrame =
    exclusivePrefixSum(df, orderCols, Seq(lit(1L) -> out), start)

  /** The two-phase scan itself, generalized: for each `(weight, out)`
    * pair, `out` = the exclusive prefix sum of `weight` over the global
    * `orderCols` order, plus `start` (weight 1 = [[denseId]]; weight = a
    * token count = [[Packing.packConcat]]'s offsets; the positive and
    * negative counts of [[Stats.binaryEval]]'s thresholds, together).
    * One range shuffle + a partitions × pairs driver offset array + a
    * partition-local running sum, however many pairs — never a
    * single-partition window.
    */
  private[operators] def exclusivePrefixSum(df: DataFrame, orderCols: Seq[Column],
                                            sums: Seq[(Column, String)],
                                            start: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    // pick weight-column names the input does NOT already use —
    // withColumn on a caller's column would overwrite-then-drop it
    val ws = Iterator.from(0).map(i => s"__w$i").filterNot(df.columns.contains)
      .take(sums.size).toSeq
    // null weights (e.g. token count of a null text) count as 0 — the
    // partition scan reads the long primitively and would NPE otherwise
    // EXPLICIT partition count (the Dedup.denseBlockPairJoin
    // convention): the fold's parallelism IS the partition count and a
    // bare range-repartition is AQE-coalescible; global order across
    // partitions holds at any count, so pinning it is parallelism-only
    val sorted = df.select(col("*") +: sums.zip(ws).map { case ((weight, _), w) =>
        coalesce(weight.cast(LongType), lit(0L)).as(w) }: _*)
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    graft.Caches.track(sorted.persist())
    val wIdx = ws.map(sorted.schema.fieldIndex).toArray
    val k = wIdx.length
    def addRow(acc: Array[Long], r: Row): Unit = {
      var j = 0; while (j < k) { acc(j) += r.getLong(wIdx(j)); j += 1 }
    }
    val totals = sorted.rdd
      .mapPartitionsWithIndex { case (i, it) =>
        val t = new Array[Long](k); it.foreach(addRow(t, _)); Iterator((i, t)) }
      .collect()
      .sortBy(_._1)
      .map(_._2)
    val offsets = totals.scanLeft(Array.fill(k)(start)) { (o, t) =>
      Array.tabulate(k)(j => o(j) + t(j)) }
    val withOff = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      val off = offsets(i).clone()
      it.map { r => val o = Row.fromSeq(r.toSeq ++ off); addRow(off, r); o }
    }
    val schema = sums.foldLeft(sorted.schema) { case (s, (_, out)) =>
      s.add(out, LongType, nullable = false) }
    spark.createDataFrame(withOff, schema).drop(ws: _*)
  }

  /** W1 small-dimension variant: plain `row_number` over a global order —
    * correct and simplest when the input is provably small (a dim table).
    */
  def rowNumberId(df: DataFrame, orderCols: Seq[Column], out: String): DataFrame =
    df.withColumn(out,
      row_number().over(Windows.boundedGlobal(orderCols: _*)).cast(LongType))

  /** Exact global quantile binning: `out` = the bucket `ntile(k) OVER
    * (ORDER BY orderCols)` would assign, WITHOUT the single-partition
    * window that ntile plans (the W1 hazard again, at every-row scale).
    * Rank comes from the two-phase scan ([[denseId]]); the SQL-standard
    * ntile split — first (n mod k) groups hold ceil(n/k) rows, the rest
    * floor(n/k) — is then closed-form integer arithmetic on (rank, n).
    * `orderCols` must be a total order for a deterministic result.
    */
  def ntileBuckets(df: DataFrame, orderCols: Seq[Column], k: Int, out: String): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val ranked = denseId(df, orderCols, "__rank")
    val withN = ranked.crossJoin(broadcast(ranked.agg(count(lit(1)).as("__n"))))
    val bucket = {
      val r = expr(s"__n % $k"); val bigSz = expr(s"(__n div $k) + 1")
      when(col("__rank") <= r * bigSz,
          expr(s"(__rank - 1) div ((__n div $k) + 1) + 1"))
        .otherwise(r + expr(s"(__rank - (__n % $k) * ((__n div $k) + 1) - 1) div (__n div $k)") + 1)
    }
    withN.withColumn(out, bucket.cast(LongType)).drop("__rank", "__n")
  }

  /** A9 duplicate detection: groups of `keys` occurring more than once,
    * with their multiplicity (reference df.duplicated,
    * data_quality_and_validation.py:24-28). Map-side partial count then
    * filter — no window, no row explosion.
    */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)

  /** A7 null-rate profile: % null per column in ONE pass over the data
    * (reference df_nan_percentage, data_quality_and_validation.py:9-12).
    * Output: one row per column (column_name, null_frac).
    */
  def nullProfile(df: DataFrame): DataFrame = {
    val aggs = df.columns.toSeq.zipWithIndex.map { case (c, i) =>
      avg(col(c).isNull.cast("double")).as(s"__nf_$i") }
    // unpivot to long form so the profile is a table, not a 1-row monster
    df.agg(aggs.head, aggs.tail: _*)
      .select(stackRows(df.columns.toSeq, i => Seq(s"__nf_$i"), "column_name", "null_frac"))
  }

  /** A `stack()` unpivot of a one-row frame: one row per name of
    * `names`, row i the string `names(i)` followed by the columns
    * `cols(i)`, the output columns named `as`. Names enter the SQL as
    * quoted literals and values by positional intermediate names:
    * interpolating raw column names into the SQL breaks on any name that
    * is not a plain identifier ("order date", "it's") — exactly the
    * messy ingest tables a profiler exists to sanity-check.
    */
  private[operators] def stackRows(names: Seq[String], cols: Int => Seq[String],
                                   as: String*): Column = {
    def quoted(n: String): String =
      s"'${n.replace("\\", "\\\\").replace("'", "\\'")}'"
    val rows = names.indices.map(i => (quoted(names(i)) +: cols(i)).mkString(", "))
    expr(s"stack(${names.length}, ${rows.mkString(", ")}) AS (${as.mkString(", ")})")
  }

  /** U1 union-by-name with null-fill for drifting schemas — the reference's
    * pandas `concat` aligns by name (SURVEY §2.13.10: positional `union`
    * corrupts when schemas drift).
    */
  def unionByNameAll(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** One-pass table profile (ANALYZE-style column statistics): per
    * column the row count, null count, distinct count and min/max
    * (string-rendered so one long table covers every type) — the
    * dataset-card / ingest-sanity summary a pipeline prints before
    * trusting a new drop. Count/null/min/max come from ONE narrow
    * aggregate melted with `stack`; exact distincts run as one
    * single-distinct aggregate per column (each scan column-pruned —
    * total bytes ≈ one full-width scan) so the multi-distinct Expand
    * (|columns|× row multiplication before partial aggregation — the
    * q52-documented pathology) never appears in the plan.
    *
    * Even without the Expand, exact distinct still shuffles each
    * column's distinct values, so exactness is SIZE-GATED like
    * [[Components.connectedComponents]]'s driver-side gate: with
    * `exactDistinct = true` the gate is decided from Catalyst's own
    * plan statistics — but an estimate may only PROVE smallness, never
    * bigness: a CBO `rowCount` under the gate decides exact with no
    * extra scan (an UNDERestimate of a big table costs heavier
    * per-column distinct shuffles — a perf risk, never a wrong
    * answer), while any other estimate (an overestimate of a genuinely
    * small table, an absent rowCount, or the sub-byte-per-row
    * `sizeInBytes` ambiguity on compressed parquet) is settled by one
    * cheap count-only scan rather than trusted, so a mis-estimate can
    * neither silently degrade a small table to sketches nor commit a
    * big one to exact shuffles. Past the gate the profile
    * auto-degrades to single-pass HLL sketches (±5%, the right profile
    * tool when the numbers feed a human). Oracle/parity runs stay exact
    * for free — every test scale is far under the default gate — and a
    * caller needing exactness regardless can raise the gate
    * (`Long.MaxValue` skips the gate check entirely).
    * `exactDistinct = false` always sketches, also skipping the check.
    */
  def tableProfile(df: DataFrame, exactDistinct: Boolean = true,
                   exactDistinctMaxRows: Long = 10000000L): DataFrame = {
    val names = df.columns.toSeq
    require(names.nonEmpty, "cannot profile a zero-column frame")
    def underGate: Boolean = {
      val stats = df.queryExecution.optimizedPlan.stats
      stats.rowCount.exists(_ <= BigInt(exactDistinctMaxRows)) ||
        df.count() <= exactDistinctMaxRows
    }
    val exact = exactDistinct &&
      (exactDistinctMaxRows == Long.MaxValue || underGate)
    if (exact) {
      // NO multi-distinct Expand (the q52/q91 pathology: N exact
      // countDistincts in one aggregate multiply every input row
      // ×(N+1) before partial aggregation). Instead: one NARROW pass
      // for count/null/min/max (no distinct → plain codegen'd hash
      // agg), plus one single-distinct aggregate PER COLUMN unioned —
      // each branch's scan is column-pruned to that one column (total
      // bytes ≈ one full-width scan) and plans the ordinary two-phase
      // distinct with no row multiplication. The N-row profile join at
      // the end broadcasts.
      val aggs = names.zipWithIndex.flatMap { case (n, i) => Seq(
        count(col(n)).as(s"__nn_$i"),
        min(col(n)).cast("string").as(s"__mn_$i"),
        max(col(n)).cast("string").as(s"__mx_$i")) }
      val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
      val base = one.select(col("__n"),
        stackRows(names, i => Seq(s"__nn_$i", s"__mn_$i", s"__mx_$i"),
          "column_name", "__non_null", "min_value", "max_value"))
      val dst = names.map { n =>
        df.select(col(n))
          .agg(countDistinct(col(n)).as("n_distinct"))
          .select(lit(n).as("column_name"), col("n_distinct"))
      }.reduce(_.unionByName(_))
      base.join(broadcast(dst), Seq("column_name"))
        .select(col("column_name"), col("__n").as("n_rows"),
          (col("__n") - col("__non_null")).as("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"))
    } else {
      val aggs = names.zipWithIndex.flatMap { case (n, i) => Seq(
        count(col(n)).as(s"__nn_$i"),
        approx_count_distinct(col(n)).as(s"__nd_$i"),
        min(col(n)).cast("string").as(s"__mn_$i"),
        max(col(n)).cast("string").as(s"__mx_$i")) }
      val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
      one.select(col("__n"),
          stackRows(names, i => Seq(s"__nn_$i", s"__nd_$i", s"__mn_$i", s"__mx_$i"),
            "column_name", "__non_null", "n_distinct", "min_value", "max_value"))
        .select(col("column_name"), col("__n").as("n_rows"),
          (col("__n") - col("__non_null")).as("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }
  }

  /** Snapshot-over-snapshot PROFILE diff — the schema-drift half of the
    * ingest gate ([[graft.operators.Drift]] covers value distributions;
    * this covers the catalog): [[tableProfile]] both snapshots, full-
    * outer join per column, and classify — `added` / `removed` columns
    * plus per-common-column null-rate and distinct-count movement, the
    * numbers a "did the upstream change their export?" check reads
    * first. Costs two profiles (each one narrow pass + per-column
    * distincts, see [[tableProfile]]) and a |columns|-sized join —
    * nothing beyond the profiles themselves.
    * Output: (column_name, status, null_rate_old, null_rate_new,
    * distinct_old, distinct_new), added/removed rows carry nulls on
    * their absent side.
    */
  def profileDiff(oldDf: DataFrame, newDf: DataFrame,
                  exactDistinct: Boolean = true,
                  exactDistinctMaxRows: Long = 10000000L): DataFrame = {
    def side(df: DataFrame, tag: String): DataFrame =
      tableProfile(df, exactDistinct, exactDistinctMaxRows)
        .select(col("column_name"),
          // explicit presence marker: a null_rate can be legitimately
          // null on an empty snapshot, so it must not double as the
          // added/removed signal
          lit(true).as(s"present_$tag"),
          round(col("n_nulls").cast("double") / col("n_rows"), 6)
            .as(s"null_rate_$tag"),
          col("n_distinct").as(s"distinct_$tag"))
    side(oldDf, "old").join(side(newDf, "new"), Seq("column_name"), "full_outer")
      .select(col("column_name"),
        when(col("present_old").isNull, "added")
          .when(col("present_new").isNull, "removed")
          .otherwise("common").as("status"),
        col("null_rate_old"), col("null_rate_new"),
        col("distinct_old"), col("distinct_new"))
  }

  /** Per-group winsorization: clips `valueCol` into the group's exact
    * [pLo, pHi] percentile band (linear-interpolation percentiles, the
    * SQL-standard `percentile_cont` semantics) — the robust-scaling step
    * for heavy-tailed quality/weight columns before they feed sampling
    * probabilities or model features. Appends `<out>` (clipped value)
    * and `<out>_clipped` (whether the row was moved).
    *
    * Scale shape: the percentile aggregate shrinks to |groups| rows and
    * joins back by explicit broadcast (group cardinality is bounded —
    * the caller's contract for any per-group statistic); the clip itself
    * is a map-side projection. Exact percentiles sort each group's
    * values inside the aggregate; at 100 TB swap `exact = false` for
    * `percentile_approx` (mergeable sketch, same plan shape) when the
    * clip bound doesn't need bit-parity.
    */
  def winsorize(df: DataFrame, keys: Seq[String], valueCol: String, out: String,
                pLo: Double = 0.05, pHi: Double = 0.95,
                exact: Boolean = true): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad percentile band [$pLo, $pHi]")
    val v = col(valueCol)
    // both bounds from ONE aggregate buffer (array-percentile form) —
    // two scalar percentile calls would hold and sort every group's
    // values twice
    val ps = array(lit(pLo), lit(pHi))
    val bounds = df.groupBy(keys.map(col): _*)
      .agg((if (exact) percentile(v, ps) else percentile_approx(v, ps, lit(10000)))
        .as("__b"))
      .select((keys.map(col) :+ col("__b").getItem(0).as("__lo") :+
        col("__b").getItem(1).as("__hi")): _*)
    // null-safe join back: groupBy keeps the null-key group in `bounds`,
    // and a plain equi join would silently DROP every null-keyed row
    nullSafeBroadcastJoin(df, bounds, keys)
      .withColumn(out, least(greatest(v, col("__lo")), col("__hi")))
      .withColumn(s"${out}_clipped", col(out) =!= v)
      .drop("__lo", "__hi")
  }

  /** Broadcast join on NULL-SAFE key equality that preserves every left
    * row — the `Seq`-based equi join silently drops null-keyed rows,
    * which for per-group statistics means the (often largest, dirtiest)
    * null group vanishes from a profile with no error. Right-side key
    * columns are renamed away before the join and dropped after, so the
    * output schema is left ∪ right-non-key.
    */
  private[operators] def nullSafeBroadcastJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], how: String = "left"): DataFrame = {
    val renamed = keys.foldLeft(right)((d, k) => d.withColumnRenamed(k, s"__nsj_$k"))
    val cond = keys.map(k => left(k) <=> renamed(s"__nsj_$k")).reduce(_ && _)
    left.join(broadcast(renamed), cond, how).drop(keys.map(k => s"__nsj_$k"): _*)
  }

  /** Per-group higher-moment statistics: n, mean, stddev (sample),
    * skewness and EXCESS kurtosis — the distribution-shape profile that
    * decides winsorization bands, log-transforms, and outlier policy
    * for quality/weight columns before they feed sampling.
    *
    * Deliberately TWO passes (mean first, then central power sums
    * Σ(x−μ)^k): the one-pass raw-moment identity m4 = E[x⁴] −
    * 4μE[x³] + … cancels catastrophically for means far from zero
    * (E[x⁴] ~ 1e20 vs m4 ~ 1e16 for price-like magnitudes loses 4+
    * digits; engines disagreeing in the 10th digit then disagree in the
    * 6th of the result). Centered sums keep every term O(spread^k) —
    * the moment ratios are scale-free and stable. Spark's built-in
    * `skewness`/`kurtosis` are avoided on purpose: population-vs-sample
    * conventions differ across engines, so the formula is pinned here
    * (population: g1 = m3/m2^1.5, g2 = m4/m2² − 3) and restated
    * identically in the oracle.
    *
    * Scale shape: two group-keyed hash aggregates over the raw table
    * (both partial map-side, final over |groups| rows) bridged by a
    * broadcast of the |groups|-row mean table — bounded group
    * cardinality is the caller's contract for any per-group statistic.
    *
    * Degenerate groups: a constant-valued group has m2 = 0, so skewness
    * and kurtosis are pinned to NULL (shape is undefined without
    * spread), and a single-row group's stddev is NULL. Pinned
    * explicitly via `nullif` on the divisor — engines disagree on
    * float x/0 (Spark non-ANSI yields NULL, DuckDB/IEEE yields
    * Inf/NaN), so the NULL answer is constructed, not inherited.
    * Nulls in `valueCol` are excluded from every moment AND from `n`
    * (count(v), not count(*)).
    */
  def momentStats(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val means = df.groupBy(keys.map(col): _*).agg(avg(v).as("__mu"))
    val d = v - col("__mu")
    // null-safe join back: groupBy keeps the null-key group in `means`,
    // and an equi join would silently drop it from the profile
    nullSafeBroadcastJoin(df, means, keys)
      .groupBy(keys.map(col): _*)
      .agg(count(v).as("n"), first(col("__mu")).as("mean"),
        sum(d * d).as("__s2"), sum(d * d * d).as("__s3"),
        sum(d * d * d * d).as("__s4"))
      .select(keys.map(col) :+ col("n") :+ col("mean") :+
        sqrt(col("__s2") / nullif(col("n") - 1, lit(0))).as("stddev") :+
        ((col("__s3") / col("n")) /
          nullif(pow(col("__s2") / col("n"), 1.5), lit(0.0))).as("skewness") :+
        ((col("__s4") / col("n")) /
          nullif(pow(col("__s2") / col("n"), 2.0), lit(0.0)) - 3).as("kurtosis"): _*)
  }

  /** Robust per-group outlier score: the modified z-score
    * `0.6745 · (x − median) / MAD` (Iglewicz–Hoaglin), with MAD the
    * median absolute deviation from the group median. For the
    * heavy-tailed quality/length/value columns a curation pipeline
    * filters on, mean/stddev z-scores are circular — the outliers being
    * hunted inflate the very stddev that is supposed to expose them;
    * medians don't move. Appends `<out>` to every row; |score| > 3.5 is
    * the conventional outlier cut.
    *
    * Degenerate groups: MAD = 0 (majority-constant group) pins the
    * score to NULL via `nullif(mad, 0)` — engines disagree on float
    * x/0 (Spark non-ANSI yields NULL, DuckDB/IEEE yields ±Inf/NaN,
    * which would leak Inf rows past a |z| > 3.5 cut in one engine and
    * not the other), so "undefined spread" is constructed as NULL on
    * both sides rather than inherited from division semantics. EVERY
    * input row survives: a group whose values are all null (no median
    * exists) and rows with null keys get a null score via null-safe
    * left joins, never a silent drop.
    *
    * Scale shape: two exact grouped medians (the [[groupedMedian]]
    * aggregate, |groups|-row outputs) bridged by broadcast joins; the
    * score is a map-side projection. Group cardinality bounded is the
    * caller's contract; at 100 TB swap exact percentile for
    * `percentile_approx` the same way [[winsorize]] does.
    */
  def robustZscore(df: DataFrame, keys: Seq[String], valueCol: String,
                   out: String = "robust_z"): DataFrame = {
    val nonNull = df.filter(col(valueCol).isNotNull)
    val med = groupedMedian(nonNull, keys, valueCol, "__med")
    val mad = nullSafeBroadcastJoin(nonNull, med, keys)
      .withColumn("__dev", abs(col(valueCol) - col("__med")))
      .groupBy(keys.map(col): _*)
      .agg(expr("percentile(__dev, 0.5)").as("__mad"))
    nullSafeBroadcastJoin(nullSafeBroadcastJoin(df, med, keys), mad, keys)
      .withColumn(out,
        lit(0.6745) * (col(valueCol) - col("__med")) / nullif(col("__mad"), lit(0.0)))
      .drop("__med", "__mad")
  }

  /** Robust per-group outlier gate via Median Absolute Deviation
    * (Hampel '74; the robust alternative to mean±kσ, which outliers
    * themselves corrupt — a single 10⁹ glitch drags a mean gate open,
    * but moves neither median): rows with |x − median| > c·MAD are
    * flagged. Exact medians (the q09 interpolation convention).
    * A zero-MAD group (over half identical values) flags ANY deviation
    * and reports a null robust score rather than dividing by zero.
    *
    * Scale: two grouped exact-percentile aggregations + two broadcast
    * joins of group-sized stats back onto the corpus; the flag itself
    * is map-side.
    * Output: the flagged rows (group cols, idCol, value, med, mad,
    * robust_z = dev/MAD).
    */
  def madOutliers(df: DataFrame, groupCols: Seq[String], idCol: String,
                  valueCol: String, c: Double): DataFrame = {
    require(c > 0, s"c must be positive, got $c")
    val x = col(valueCol).cast("double")
    val rows = df.filter(x.isNotNull)
      .select(groupCols.map(col) :+ col(idCol) :+ x.as("__x"): _*)
    val med = rows.groupBy(groupCols.map(col): _*)
      .agg(percentile(col("__x"), lit(0.5)).as("med"))
    val withMed = rows.join(broadcast(med), groupCols)
      .withColumn("__dev", abs(col("__x") - col("med")))
    val mad = withMed.groupBy(groupCols.map(col): _*)
      .agg(percentile(col("__dev"), lit(0.5)).as("mad"))
    withMed.join(broadcast(mad), groupCols)
      .filter(col("__dev") > lit(c) * col("mad"))
      .withColumn("robust_z", when(col("mad") > 0, col("__dev") / col("mad")))
      .select(groupCols.map(col) ++
        Seq(col(idCol), col("__x").as(valueCol), col("med"), col("mad"),
          col("robust_z")): _*)
  }

  /** Per-group OLS trend: slope/intercept of y on x from the closed-form
    * sums, one aggregation pass — "is this metric drifting, and how
    * fast, per segment" (the regression complement to Drift's
    * distribution gates). Degenerate groups (n < 2 or zero x-variance)
    * return null slope/intercept rather than a 0/0.
    *
    * Scale: map-side partial sums into a GROUP-sized table; no window,
    * no second pass.
    * Output: (group cols, n, slope, intercept).
    */
  def trendSlopes(df: DataFrame, groupCols: Seq[String],
                  xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"))
      .withColumn("__den", col("n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("slope",
        when(col("n") >= 2 && col("__den") =!= 0,
          (col("n") * col("__sxy") - col("__sx") * col("__sy")) / col("__den")))
      .withColumn("intercept",
        when(col("slope").isNotNull,
          (col("__sy") - col("slope") * col("__sx")) / col("n")))
      .select(groupCols.map(col) ++ Seq(col("n"), col("slope"), col("intercept")): _*)
  }
}
