package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** The sketch-table pattern: collapse each shard (day / source / file
  * batch) of a fact stream to ONE mergeable sketch per group, persist
  * that table, and answer distinct-count questions over any shard
  * subset by merging sketches — the raw keys are scanned exactly once,
  * ever. At 100 TB this is the difference between a distinct-count
  * dashboard that re-shuffles the corpus per question and one that
  * reads a few MB of sketches.
  *
  * Three rungs, same shape:
  *  - EXACT DISTINCT: [[graft.expressions.BitmapBuildAgg]] /
  *    [[graft.expressions.BitmapUnionAgg]] — roaring-style bitmaps,
  *    union of shard sketches byte-identical to a cold rebuild, so
  *    incremental rollups never drift ([[bitmapShards]]/[[bitmapRollup]]).
  *  - APPROX DISTINCT: Spark's Datasketches HLL built-ins
  *    (`hll_sketch_agg` / `hll_union_agg`) — constant ~1.5 KB per
  *    sketch regardless of cardinality, ±2% at lgK=12, for key domains
  *    too wide to bitmap ([[hllShards]]/[[hllRollup]]).
  *  - QUANTILES: [[graft.expressions.DDSketchAgg]] — relative-error
  *    log-binned histograms whose merge is bin-wise addition
  *    ([[ddsketchShards]]/[[ddsketchRollup]]).
  *
  * Reference anchor: the reference counts distinct athletes/NOCs with
  * full-column `nunique()` re-scans (pandas_based/src/data_clean.py);
  * these operators are that capability restated as persisted mergeable
  * state.
  */
object Sketches {

  /** Per-shard exact sketch table: one [[graft.expressions.BitmapBuildAgg]]
    * bitmap of `keyCol` per `shardCols` group. One shuffle of
    * partial SKETCHES (map-side combined), never of raw keys. The
    * output is persist-shaped: `shardCols…, sketch binary`.
    */
  def bitmapShards(df: DataFrame, shardCols: Seq[Column], keyCol: Column): DataFrame = {
    df.groupBy(shardCols: _*)
      .agg(GraftFunctions.call("bitmap_build", keyCol).as("sketch"))
  }

  /** Exact rollup of a shard sketch table to `groupCols`: distinct =
    * cardinality of the unioned bitmaps. Input rows are sketch-sized
    * (KBs), so this aggregation touches megabytes where the raw fact
    * table held terabytes.
    */
  def bitmapRollup(shards: DataFrame, groupCols: Seq[Column]): DataFrame =
    shards.groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_shards"),
        GraftFunctions.call("bitmap_union_agg", col("sketch")).as("sketch"))
      .withColumn("n_distinct", GraftFunctions.call("bitmap_cardinality", col("sketch")))

  /** Rolling distinct-count time series off a DAILY sketch table — the
    * WAU/MAU question ("distinct users over the trailing w days, per
    * day") that plain window functions cannot answer (no DISTINCT in a
    * range frame) and a raw-event self-join answers by re-shuffling
    * the fact table once per window day. Here each day's bitmap is
    * built ONCE ([[bitmapShards]]) and every trailing window is a
    * union of ≤ `windowDays` KB-sized sketches — exact, and the fact
    * table is read exactly once regardless of window length.
    *
    * The day-spine join is calendar×window-sized (a few thousand rows
    * for years of data), so its nested-loop plan is irrelevant at any
    * corpus scale — the corpus cost lives entirely in the one
    * shard-building pass. Output: (day, n_distinct, sketch) — the
    * window sketch rides along for further rollups.
    */
  def rollingDistinct(shards: DataFrame, dayCol: String,
                      windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val d = shards.select(col(dayCol).as("day"), col("sketch").as("__sk"))
    val spine = d.select(col("day")).distinct()
    spine.join(d.select(col("day").as("__sd"), col("__sk")),
        datediff(col("day"), col("__sd")).between(0, windowDays - 1))
      .groupBy(col("day"))
      .agg(GraftFunctions.call("bitmap_union_agg", col("__sk")).as("sketch"))
      .select(col("day"),
        GraftFunctions.call("bitmap_cardinality", col("sketch")).as("n_distinct"),
        col("sketch"))
  }

  /** Cohort retention matrix off bitmap sketches: users grouped by
    * first-activity period (their cohort), retention(c, k) = fraction
    * of cohort c's users active in period c+k — the product-analytics
    * triangle, generalizing q127's two-period retention to every
    * (cohort × offset) cell. One cohort bitmap + one activity bitmap
    * per period; every cell is a `bitmap_and_cardinality` chunk
    * merge-join of two KB sketches, so the matrix costs
    * periods²-many KB intersections, never a per-cell re-scan or a
    * raw-key self-join. Exact.
    *
    * `periodCol` must be a period-truncated DATE (e.g.
    * `date_trunc("week", …)`), `periodDays` its length — offsets are
    * exact multiples by construction.
    *
    * Output: (cohort, offset, cohort_size, retained, rate), offsets
    * 0..maxOffset.
    */
  def cohortRetention(activity: DataFrame, keyCol: String, periodCol: String,
                      periodDays: Int, maxOffset: Int): DataFrame = {
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    require(maxOffset >= 0, s"maxOffset must be >= 0, got $maxOffset")
    val act = activity.select(col(periodCol).as("period"), col(keyCol).as("__k"))
      .where(col("__k").isNotNull).distinct()
    val cohorts = act.groupBy(col("__k")).agg(min(col("period")).as("cohort"))
    val cohortSk = bitmapShards(cohorts, Seq(col("cohort")), col("__k"))
      .select(col("cohort"), col("sketch").as("__cs"))
    val periodSk = bitmapShards(act, Seq(col("period")), col("__k"))
      .select(col("period"), col("sketch").as("__ps"))
    cohortSk.join(periodSk,
        datediff(col("period"), col("cohort")).between(0, periodDays * maxOffset))
      .select(col("cohort"),
        // "offset" is a reserved word in SQL dialects (LIMIT/OFFSET)
        (datediff(col("period"), col("cohort")) / lit(periodDays)).cast("long")
          .as("week_offset"),
        GraftFunctions.call("bitmap_cardinality", col("__cs")).as("cohort_size"),
        GraftFunctions.call("bitmap_and_cardinality", col("__cs"), col("__ps"))
          .as("retained"))
      .withColumn("rate", round(col("retained") / col("cohort_size"), 6))
  }

  /** Per-shard quantile sketch table: one DDSketch of `valueCol` per
    * `shardCols` group at relative accuracy `alpha`
    * ([[graft.expressions.DDSketchAgg]]) — persist-shaped like
    * [[bitmapShards]]; the shuffle carries bin histograms, never
    * values.
    */
  def ddsketchShards(df: DataFrame, shardCols: Seq[Column], valueCol: Column,
                     alpha: Double = 0.01): DataFrame = {
    df.groupBy(shardCols: _*)
      .agg(GraftFunctions.call("ddsketch_build", valueCol, lit(alpha)).as("sketch"))
  }

  /** Quantile rollup of a DDSketch shard table: bin-wise union, then
    * any requested quantiles off the merged sketch — each within
    * relative error α of the true value. In the no-collapse regime the
    * union is byte-identical to a cold one-pass sketch (SketchesSpec
    * pins it), so incremental quantile tables never drift.
    */
  def ddsketchRollup(shards: DataFrame, groupCols: Seq[Column],
                     quantiles: Seq[Double] = Seq(0.5, 0.95, 0.99)): DataFrame = {
    val merged = shards.groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_shards"),
        GraftFunctions.call("ddsketch_merge_agg", col("sketch")).as("sketch"))
    quantiles.foldLeft(merged) { (df, q) =>
      df.withColumn(s"p${(q * 100).round}",
        GraftFunctions.call("ddsketch_quantile", col("sketch"), lit(q)))
    }
  }

  /** Per-shard approximate sketch table on Spark's Datasketches HLL
    * built-ins — same persist-shape as [[bitmapShards]] with a
    * cardinality-independent sketch size. lgK = 12 → ±~1.6% RSE.
    */
  def hllShards(df: DataFrame, shardCols: Seq[Column], keyCol: Column,
                lgK: Int = 12): DataFrame =
    df.groupBy(shardCols: _*)
      .agg(hll_sketch_agg(keyCol, lit(lgK)).as("sketch"))

  /** Approximate rollup of an HLL shard sketch table. The union merges
    * registers losslessly at equal lgK, but the ESTIMATOR changes: a
    * streamed sketch answers with Datasketches' HIP estimator, a
    * unioned one with the composite estimate — so the incremental path
    * is within the same ±1.6% bar as the cold path, not bit-equal to
    * it (SketchesSpec pins both bounds). Use [[bitmapRollup]] when the
    * rollup must be indistinguishable from a re-scan.
    */
  def hllRollup(shards: DataFrame, groupCols: Seq[Column]): DataFrame =
    shards.groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_shards"),
        hll_sketch_estimate(hll_union_agg(col("sketch"), lit(false)))
          .as("approx_distinct"))
}
