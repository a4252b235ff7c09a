package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GroupOps, Validation, ValidationRule}
import graft.sources.Tables
import graft.expressions.GraftFunctions

/** Statistics, sampling/mixture planning, sketches and model-audit queries (SURVEY.md §7.4 stats family).
  *
  * One slice of [[graft.SparkEntry]]'s query surface (split from the
  * former 9.3k-line single file; pure move, no behavior change). Keys,
  * builders and oracle SQL are exactly the driver contract: every
  * `queries` entry that is SQL-expressible has a DuckDB `oracleSql`
  * twin with IDENTICAL column names (the compare hashes by sorted
  * column name).
  */
private[graft] object StatsSamplingQueries extends QueryRegistry {

  /** Sketch-based approximate count-distinct with an accuracy contract:
    * the output CLAIMS |approx − exact| ≤ 3% per group at rsd = 1%
    * (3 standard errors; HLL++ is deterministic for fixed input, so the
    * claim is stable round to round), and the oracle — which recomputes
    * the exact counts and expects approx_ok = true — fails the round if
    * the sketch ever strays. Exact distinct shuffles every key; the
    * sketch is the 100 TB path (constant memory per group, mergeable
    * partials).
    */
  private def q52ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    // exact and sketch in SEPARATE aggregations, joined on the (tiny)
    // group keys: combining countDistinct with a low-rsd HLL in one agg
    // makes the distinct-rewrite Expand drag the sketch's ~2^17-register
    // fixed-width buffer through a sort-based aggregate per expanded row
    // (measured 24.7 s vs 1.4 s split at sf0.1).
    // This query is the bench tail's three ~1 MB "large task binary"
    // broadcasts: the rsd=1% sketch inflates the codegen'd plan shipped
    // per stage. Legitimate and bounded — the accuracy contract (3% at
    // 3 SE) requires the low rsd; a task binary is per-stage, not
    // per-row, so the cost is constant at any corpus size

    val li = t(s, dir, "lineitem")
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_exact"))
    val approx = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("__approx"))
    exact.join(approx, "l_returnflag")
      .select(col("l_returnflag"), col("n_exact"),
        (abs(col("__approx") - col("n_exact")).cast("double") / col("n_exact") <= 0.03)
          .as("approx_ok"))
      .orderBy(col("l_returnflag"))
  }


  /** Concat-then-split context-window packing (budget 512) over the
    * documents corpus in doc_id order — the LLM pretraining batcher. The
    * global token prefix sum uses the two-phase scan, NOT a single-
    * partition window ([[graft.operators.Packing]]); the oracle computes
    * the same offsets with a windowed SUM (fine at oracle scale).
    */
  private def q59PackConcat(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packConcat(t(s, dir, "documents"), "doc_id", "text", 512)
      .select(col("doc_id"), col("n_tokens"), col("start_off"), col("bin"),
        col("bins_spanned"))
      .orderBy(col("doc_id"))


  /** Per-source document cap (≤ 40 docs per source, deterministic
    * md5-order selection) — the corpus rebalancing step that stops one
    * domain from dominating a training mix. Fixed-size counterpart of
    * q45's fixed-fraction split; same portable-hash contract, so the
    * oracle reselects the identical rows.
    */
  private def q62SourceCap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.capPerGroup(t(s, dir, "documents"), "source", "doc_id", 40)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("source"))


  /** The full corpus-curation funnel (language → quality → dedup →
    * split) run end-to-end with per-stage survivor counts — the proof
    * that the individually-oracled curation operators COMPOSE. The
    * oracle rebuilds the entire funnel independently in SQL.
    */
  private def q68CurationFunnel(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.CorpusCuration.funnel(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("stage"))


  /** Quality-weighted deterministic downsampling: every document
    * survives with probability n_chars / max(n_chars) — longer (proxy:
    * higher-value) docs are kept preferentially, and the decision is a
    * pure hash function of the id so the oracle recomputes membership
    * row by row. Map-side except the 1-row max broadcast.
    */
  private def q70WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val mx = docs.agg(max(col("n_chars")).as("__mx"))
    graft.operators.Sampling.weightedSample(
        docs.crossJoin(broadcast(mx)), "doc_id",
        col("n_chars").cast("double") / col("__mx"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"))
  }


  /** Distribution shift between two corpus slices: smoothed KL
    * divergence D(en‖de) over token distributions — the admit-gate
    * statistic for new data sources. One explode + vocabulary-sized
    * aggregate; the corpus moves once.
    */
  private def q81KlDivergence(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scoring.tokenKlDivergence(t(s, dir, "documents"),
        "lang", "text", pSlice = "en", qSlice = "de")
      .select(col("p_slice"), col("q_slice"),
        round(col("kl_divergence"), 6).as("kl_divergence"),
        col("p_tokens"), col("q_tokens"))


  /** Bivariate statistics per group (corr / covar_samp / stddev_samp /
    * var_samp) — the built-in one-pass co-moment aggregates, partial
    * (map-side) combined like any hash agg.
    */
  private def q82CorrStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_covar"),
        round(stddev_samp(col("l_extendedprice")), 4).as("price_stddev"),
        round(var_samp(col("l_quantity")), 4).as("qty_var"))
      .orderBy(col("l_returnflag"))


  /** Exact top-10 frequent tokens via the Misra–Gries heavy-hitters
    * sketch (two passes: mergeable-sketch candidates, exact re-count of
    * the survivors) — oracle = the plain exact top-k, which MUST match
    * because the k-th count clears the N/(capacity+1) survival bar
    * (capacity 256 ≫ the corpus vocabulary here, so the sketch is
    * lossless; the operator contract documents the general bound).
    */
  private def q83HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    graft.operators.Scoring.heavyHitters(toks, "token", k = 10, capacity = 256)
  }


  /** Temperature-based source rebalancing (alpha = 0.5, expected 300
    * docs): rare languages are upsampled relative to their natural
    * share, the multilingual-pretraining sampling scheme. Membership is
    * the md5-bucket pure function with a quantized threshold, so the
    * oracle reproduces the exact kept set. Output aggregates per
    * language: size, keep probability, kept count, id checksum.
    */
  private def q104TemperatureSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureRebalance(t(s, dir, "documents"),
        "doc_id", "lang", alpha = 0.5, targetRows = 300L)
      .groupBy(col("lang"))
      .agg(max(col("group_rows")).as("n_total"),
        round(max(col("keep_p")), 6).as("keep_p"),
        count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"))


  /** Sketch-table EXACT distinct rollup ([[graft.operators.Sketches]]):
    * one roaring-style bitmap of user_id per (event_type, day) shard —
    * the persisted sketch-table shape — then distinct users per
    * event_type by unioning shard sketches
    * ([[graft.expressions.BitmapBuildAgg]]/[[BitmapUnionAgg]]). The
    * rollup aggregation touches KB-sized sketches, never the raw keys;
    * because the bitmap is exact (unlike HLL), the oracle is a plain
    * `count(distinct user_id)` — the incremental path must equal the
    * cold re-scan bit-for-bit. Reference anchor: full-column
    * `nunique()` re-scans in pandas_based/src/data_clean.py restated
    * as mergeable persisted state.
    */
  private def q117BitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val ev = Tables.withEventTime(t(s, dir, "events"))
    val shards = Sketches.bitmapShards(ev,
      Seq(col("event_type"), to_date(col("event_time")).as("day")), col("user_id"))
    Sketches.bitmapRollup(shards, Seq(col("event_type")))
      .select(col("event_type"), col("n_shards"),
        col("n_distinct").as("distinct_users"))
      .orderBy(col("event_type"))
  }


  /** Sketch-table APPROXIMATE distinct rollup on Spark's Datasketches
    * HLL built-ins (`hll_sketch_agg`/`hll_union_agg`, lgK = 12) — the
    * same shard→rollup shape as q117 for key domains too wide to
    * bitmap. The Datasketches estimate is engine-specific, so the
    * CROSS-ENGINE row is the BANDED comparison table: exact distinct
    * (restated verbatim by DuckDB) plus a `within_2pct` verdict that
    * the sharded-rollup estimate lands inside the lgK=12 accuracy band
    * — if the estimator ever drifts out of band the boolean flips and
    * the hash gate fails. SketchesSpec additionally pins the direct
    * single-pass sketch and rollup determinism engine-side.
    */
  private def q118HllRollup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val ev = Tables.withEventTime(t(s, dir, "events"))
    val shards = Sketches.hllShards(ev,
      Seq(col("event_type"), to_date(col("event_time")).as("day")), col("user_id"))
    val approx = Sketches.hllRollup(shards, Seq(col("event_type")))
      .select(col("event_type"), col("n_shards"), col("approx_distinct"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    approx.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_shards"), col("exact_distinct"),
        (abs(col("approx_distinct") - col("exact_distinct")) <=
          col("exact_distinct") * lit(0.02)).as("within_2pct"))
      .orderBy(col("event_type"))
  }


  /** Sketch-table QUANTILE rollup ([[graft.operators.Sketches]]):
    * one DDSketch of `value` per (event_type, day) shard at α = 1%,
    * bin-wise union per event_type, p50/p95/p99 off the merged sketch
    * — latency-style percentile tables maintained incrementally. The
    * estimate is algorithm-specific (log-binned midpoints), so the
    * CROSS-ENGINE row is the BANDED comparison table: the exact
    * rank-order statistics at the sketch's own rank convention
    * (rank = ⌊q·(n−1)+0.5⌋, DuckDB restates them via row_number) plus
    * per-quantile `within_alpha` verdicts — DDSketch's bin-midpoint
    * guarantee makes |est − exact| ≤ α·exact a theorem, so a false
    * verdict means a real sketch bug and the hash gate fails.
    * SketchesSpec additionally pins the shard-union byte-identity.
    *
    * The exact side ranks values per event_type with a window — the
    * partition count equals the group count (5 here), which is the
    * honest shape for an exact-quantile VERIFICATION query; the
    * production answer path is the sketch itself.
    */
  private def q120QuantileSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.withEventTime(t(s, dir, "events"))
    val shards = Sketches.ddsketchShards(ev,
      Seq(col("event_type"), to_date(col("event_time")).as("day")), col("value"))
    val rolled = Sketches.ddsketchRollup(shards, Seq(col("event_type")))
    val vals = ev.filter(col("value").isNotNull && !isnan(col("value")))
      .select(col("event_type"), col("value"))
    val ranked = vals
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("value"))))
      .join(broadcast(vals.groupBy(col("event_type")).agg(count(lit(1)).as("n"))),
        Seq("event_type"))
    def rankOf(q: Double): Column = floor(lit(q) * (col("n") - 1) + 0.5) + 1
    val exact = ranked
      .filter(col("rn") === rankOf(0.5) || col("rn") === rankOf(0.95) ||
        col("rn") === rankOf(0.99))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("rn") === rankOf(0.5), col("value"))).as("__e50"),
        max(when(col("rn") === rankOf(0.95), col("value"))).as("__e95"),
        max(when(col("rn") === rankOf(0.99), col("value"))).as("__e99"))
    def band(est: String, ex: String): Column =
      abs(col(est) - col(ex)) <= abs(col(ex)) * lit(0.01) + lit(1e-9)
    rolled.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_shards"),
        round(col("__e50"), 6).as("exact_p50"),
        round(col("__e95"), 6).as("exact_p95"),
        round(col("__e99"), 6).as("exact_p99"),
        band("p50", "__e50").as("p50_within_alpha"),
        band("p95", "__e95").as("p95_within_alpha"),
        band("p99", "__e99").as("p99_within_alpha"))
      .orderBy(col("event_type"))
  }


  /** Snapshot drift gate ([[graft.operators.Drift]]): PSI + KL of the
    * events value distribution per event_type, first half of January
    * as baseline vs the second half — the admit-or-alert check a
    * continuously-ingesting pipeline runs per batch. Fixed-width bins
    * over the baseline's [min,max] keep the bin function closed-form
    * IEEE arithmetic, so the oracle replays binning, alignment,
    * eps-flooring and both logs exactly.
    */
  private def q125DriftPsi(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Drift
    val ev = Tables.withEventTime(t(s, dir, "events"))
    val cut = lit("2024-01-15").cast("timestamp")
    Drift.psiSummary(ev.filter(col("event_time") < cut),
        ev.filter(col("event_time") >= cut),
        Seq("event_type"), "value", nBins = 10)
      .select(col("event_type"), col("n_bins"),
        round(col("psi"), 6).as("psi"), round(col("kl"), 6).as("kl"))
      .orderBy(col("event_type"))
  }


  /** The q125 drift gate re-answered from PERSISTED sketches: per-day
    * DDSketch shards roll up into a first-half and a second-half
    * sketch per event_type, and `ddsketch_psi` compares the two bin
    * histograms directly — no raw-value re-scan, the drift check a
    * sketch-table warehouse runs nightly. Log-γ bins differ from
    * q125's fixed-width bins, so the indices differ numerically while
    * agreeing on the verdict; the CROSS-ENGINE row is therefore the
    * BANDED comparison table: the exact fixed-width PSI (DuckDB
    * restates q125's full binning arithmetic) plus two verdicts —
    * `within_band` (|sketch PSI − exact PSI| ≤ 0.25, measured head-
    * room ~0.08) and `verdict_agree` (both sides land on the same
    * side of the 0.25 major-drift threshold). A sketch-PSI regression
    * flips a boolean and fails the hash gate; SketchesSpec pins the
    * PSI arithmetic itself.
    */
  private def q128SketchDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val ev = Tables.withEventTime(t(s, dir, "events"))
    val cut = lit("2024-01-15").cast("timestamp")
    // alpha 0.25, NOT the quantile default 0.01: PSI over log-γ bins
    // needs bins wide enough to hold real mass — at α = 0.01 the ~2%
    // bins slice 10k values into thousands of near-empty cells and
    // eps-noise masquerades as drift (measured on this stable split:
    // PSI ~1.5 at α=0.01, ~0.14 at α=0.1, ~0.03–0.09 at α=0.25 vs
    // fixed-width q125's ~0.01 verdict; the α=0.1/0.25 figures are
    // reproduced exactly by an independent numpy replay). The accuracy
    // knob doubles as the drift-resolution knob.
    val shards = Sketches.ddsketchShards(ev,
      Seq(col("event_type"), to_date(col("event_time")).as("day")), col("value"),
      alpha = 0.25)
      .withColumn("half", col("day") < to_date(cut))
    val halves = shards.groupBy(col("event_type"), col("half"))
      .agg(GraftFunctions.call("ddsketch_merge_agg", col("sketch")).as("sketch"))
    val a = halves.filter(col("half")).select(col("event_type"), col("sketch").as("base"))
    val b = halves.filter(!col("half")).select(col("event_type"), col("sketch").as("cur"))
    val sketchPsi = a.join(b, "event_type")
      .select(col("event_type"),
        GraftFunctions.call("ddsketch_psi", col("base"), col("cur")).as("__psi_sk"))
    val exactPsi = graft.operators.Drift
      .psiSummary(ev.filter(col("event_time") < cut),
        ev.filter(col("event_time") >= cut),
        Seq("event_type"), "value", nBins = 10)
      .select(col("event_type"), col("psi").as("__psi_ex"))
    sketchPsi.join(exactPsi, Seq("event_type"))
      .select(col("event_type"),
        round(col("__psi_ex"), 6).as("psi_exact"),
        (abs(col("__psi_sk") - col("__psi_ex")) <= lit(0.25)).as("within_band"),
        ((col("__psi_sk") < lit(0.25)) === (col("__psi_ex") < lit(0.25)))
          .as("verdict_agree"))
      .orderBy(col("event_type"))
  }


  /** DSIR importance weights (Xie et al. 2023): every document scored
    * by ln p̂_en(x) − ln p̂_raw(x) under hashed unigram+bigram models —
    * target = the English subset, raw = the whole corpus — the
    * data-selection signal that shifts a crawl toward a curated
    * distribution. Exact log-ratio arithmetic, md5-prefix bucket hash
    * (q25 convention), so the oracle replays the entire pipeline.
    */
  private def q130DsirWeights(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dsir
    val docs = t(s, dir, "documents")
    Dsir.importanceWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 1024, alpha = 1.0)
      .select(col("id").as("doc_id"), col("n_grams"),
        round(col("weight"), 6).as("weight"))
      .orderBy(col("doc_id"))
  }


  /** The q127 retention question re-answered from KMV/theta sketches
    * ([[graft.expressions.KmvSketch]]) — constant-memory audience
    * overlap for key domains where exact bitmaps can't fit and HLL
    * can't intersect. The md5-prefix hash makes every estimate a pure
    * function of the key sets, so the oracle replays the k-smallest
    * scan and the θ-cut arithmetic EXACTLY — an approximate sketch
    * with an exact-match oracle.
    */
  private def q131KmvRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.withEventTime(t(s, dir, "events"))
      .filter(col("user_id").isNotNull)
    val cut = lit("2024-01-15").cast("timestamp")
    ev.groupBy(col("event_type"))
      .agg(
        GraftFunctions.call("kmv_build",
          when(col("event_time") < cut, col("user_id")), lit(256)).as("a"),
        GraftFunctions.call("kmv_build",
          when(col("event_time") >= cut, col("user_id")), lit(256)).as("b"))
      .select(col("event_type"),
        round(GraftFunctions.call("kmv_cardinality", col("a")), 6).as("est_p1"),
        round(GraftFunctions.call("kmv_cardinality", col("b")), 6).as("est_p2"),
        round(GraftFunctions.call("kmv_and_cardinality", col("a"), col("b")), 6)
          .as("est_retained"),
        round(GraftFunctions.call("kmv_or_cardinality", col("a"), col("b")), 6)
          .as("est_either"))
      .orderBy(col("event_type"))
  }


  /** Count-min point-frequency estimates ([[graft.expressions.Cms]],
    * Cormode & Muthukrishnan 2005) vs exact counts for the corpus's 30
    * most frequent tokens — the "how often did THIS key occur" question
    * [[graft.expressions.MisraGries]] can't answer for keys it dropped,
    * in 64 KB regardless of vocabulary size. The md5-row-hash grid is
    * deterministic, so the oracle rebuilds every cell and replays the
    * min-over-rows estimate exactly.
    */
  private def q133CmsFreq(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(
        filter(split(lower(trim(col("text"))), " "), t => t =!= lit("")))
        .as("token"))
    val sketch = toks.agg(
      GraftFunctions.call("cms_build", col("token"), lit(2048), lit(4)).as("sk"))
    val top = toks.groupBy("token").agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("token").asc).limit(30)
    top.crossJoin(broadcast(sketch))
      .select(col("token"), col("exact"),
        GraftFunctions.call("cms_estimate", col("sk"), col("token")).as("cms_est"))
      .orderBy(col("exact").desc, col("token"))
  }


  /** Deterministic epoch shuffle ([[graft.operators.Layout.seededShuffle]]):
    * the corpus's training order for "epoch 0" as a pure function of
    * (seed, doc_id) — md5 sort key + two-phase prefix-sum positions,
    * no single-partition window, reproducible and resumable where
    * ORDER BY rand() is neither. The oracle is the windowed
    * restatement of the same md5 order.
    */
  private def q135CorpusShuffle(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    Layout.seededShuffle(t(s, dir, "documents"), "doc_id", "ep0")
      .select(col("doc_id"), col("position"))
      .orderBy(col("doc_id"))
  }


  /** Per-group deterministic uniform sample
    * ([[graft.expressions.BottomKSampleAgg]]): 5 example user ids per
    * event_type in one aggregation pass — hash-order bottom-k over
    * distinct keys, mergeable across shards, rerun-stable where
    * rand()-sampling is not. The md5 pick rule is exactly replayable
    * in SQL.
    */
  private def q138GroupSample(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(GraftFunctions.call("sample_bottomk", col("user_id"), lit(5)).as("sample"))
      .select(col("event_type"), posexplode(col("sample")).as(Seq("pos", "user_id_str")))
      .select(col("event_type"), col("pos").cast("long").as("pos"), col("user_id_str"))
      .orderBy(col("event_type"), col("pos"))
  }


  /** Explicit language-mixture rebalance
    * ([[graft.operators.Sampling.mixtureRebalance]]): the corpus
    * re-mixed to stated ppm shares (en 40%, zh 25%, de 15%, fr 12%,
    * es 8%) at constant total size — zh upsamples (n_copies ≥ 1 with
    * hash-spread extras), en downsamples (n_copies ∈ {0,1}). Row-level
    * output pins every copy count; integer arithmetic restated
    * verbatim by the oracle.
    */
  private def q162MixtureRebalance(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.mixtureRebalance(t(s, dir, "documents"),
        "doc_id", "lang",
        Seq("en" -> 400000L, "zh" -> 250000L, "de" -> 150000L,
          "fr" -> 120000L, "es" -> 80000L))
      .select(col("doc_id"), col("lang"), col("n_copies"))
      .orderBy(col("doc_id"))


  /** Mutual information between order priority and status
    * ([[graft.operators.Scoring.mutualInformation]]): the contingency
    * table is cell-sized (15 cells) whatever the corpus size; the
    * oracle restates the Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) sum exactly.
    */
  private def q178MutualInfo(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scoring
    Scoring.mutualInformation(t(s, dir, "orders"),
        "o_orderpriority", "o_orderstatus")
      .select(col("n"), col("n_cells"), round(col("mi"), 6).as("mi"))
  }


  /** Benford first-digit audit ([[graft.operators.Drift.benfordAudit]])
    * of order totals: leading digit of the integer part (string route —
    * engine-portable, no float formatting or log-near-integer boundary)
    * vs log10(1 + 1/d), with per-digit chi-square contributions.
    */
  private def q179BenfordAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Drift
    Drift.benfordAudit(t(s, dir, "orders"), "o_totalprice")
      .select(col("digit"), col("n"),
        round(col("observed_p"), 6).as("observed_p"),
        round(col("expected_p"), 6).as("expected_p"),
        round(col("chi2_term"), 6).as("chi2_term"))
      .orderBy(col("digit"))
  }


  /** Chao1 unseen-vocabulary estimate
    * ([[graft.operators.CorpusStats.chao1]]): observed types plus the
    * bias-corrected singleton/doubleton estimator — "does more crawling
    * still buy new vocabulary". One tokenize+aggregate pass to a
    * vocabulary-sized table, then constant arithmetic.
    */
  private def q181Chao1(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CorpusStats
    CorpusStats.chao1(t(s, dir, "documents"), "text")
      .select(col("n_tokens"), col("vocab"), col("f1"), col("f2"),
        round(col("chao1"), 6).as("chao1"))
  }


  /** Zipf power-law fit ([[graft.operators.CorpusStats.zipfSlope]]):
    * OLS slope of ln freq on ln rank over the top-100 ranks — natural
    * text sits near −1; template corpora go flat. Top-k via
    * TakeOrdered (distributed), rank window over 100 rows only.
    */
  private def q182ZipfSlope(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CorpusStats
    CorpusStats.zipfSlope(t(s, dir, "documents"), "text", topN = 100)
      .select(col("n_ranks"), round(col("slope"), 6).as("slope"),
        round(col("intercept"), 6).as("intercept"))
  }


  /** Gini concentration of corpus volume over sources
    * ([[graft.operators.CorpusStats.giniConcentration]]): the
    * diversity-risk number the mixture-rebalance family acts on;
    * rank-form Gini over the group-sized share table.
    */
  private def q183GiniSources(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CorpusStats
    CorpusStats.giniConcentration(t(s, dir, "documents"), "source")
      .select(col("n_groups"), col("total"), round(col("gini"), 6).as("gini"))
  }


  /** Poisson-bootstrap CI of mean order value
    * ([[graft.operators.Stats.poissonBootstrapCI]]): 200 deterministic
    * Poisson(1)-weighted replicates (Chamandy '12 — the bootstrap that
    * needs no global coordination), percentile CI over the replicate
    * means. The target is pre-scaled to integer cents so every
    * replicate sum is exact (order-independent); the oracle replays
    * the md5 CDF-ladder draws and both percentiles.
    */
  private def q184BootstrapCi(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stats
    val orders = t(s, dir, "orders")
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
    Stats.poissonBootstrapCI(orders, "o_orderkey", "cents", nReplicates = 200)
      .select(col("n"), round(col("point_mean") / 100.0, 6).as("point_mean"),
        col("n_replicates"),
        round(col("ci_lo") / 100.0, 6).as("ci_lo"),
        round(col("ci_hi") / 100.0, 6).as("ci_hi"))
  }


  /** Cohen's kappa ([[graft.operators.Stats.cohensKappa]]): agreement
    * between the order status and a deterministically perturbed second
    * annotator (every 10th key relabeled 'O') — the label-quality gate;
    * κ from one cell-sized contingency aggregate.
    */
  private def q185CohensKappa(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stats
    val labeled = t(s, dir, "orders")
      .withColumn("rater_b",
        when(col("o_orderkey") % 10 === 0, lit("O"))
          .otherwise(col("o_orderstatus")))
    Stats.cohensKappa(labeled, "o_orderstatus", "rater_b")
      .select(col("n"), round(col("po"), 6).as("po"),
        round(col("pe"), 6).as("pe"), round(col("kappa"), 6).as("kappa"))
  }


  /** Exact-k weighted sample without replacement
    * ([[graft.operators.Sampling.weightedSampleExactK]], Efraimidis-
    * Spirakis A-Res): exactly 50 documents drawn with probability
    * tracking n_chars — deterministic md5 uniforms, ln(u)/w order
    * statistic quantized to 10 dp, one TakeOrdered; the corpus never
    * shuffles. The oracle replays the draw and the top-k.
    */
  private def q186WeightedTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.weightedSampleExactK(t(s, dir, "documents"), "doc_id",
        col("n_chars"), k = 50)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }


  /** Paired bootstrap significance of a metric delta
    * ([[graft.operators.Stats.pairedBootstrapDelta]], Koehn EMNLP '04):
    * is system A's ROUGE-1 really better than system B's on the same
    * pair set? System A scores the full candidate, system B a
    * controlled degradation (candidate with its last token dropped),
    * both against the same reference; scores enter as exact integer
    * micros, 200 deterministic Poisson(1) replicates reweight the
    * shared units, and the verdict is the percentile CI on the delta
    * plus the fraction of replicates where A wins. The oracle replays
    * the ROUGE-1 scoring of BOTH systems, the md5 CDF-ladder draws,
    * both percentiles and the win fraction.
    */
  private def q213PairedBootstrap(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Stats, TextEval}
    import graft.functions.Tokenize
    val pairs = TextEval.adjacentPairs(t(s, dir, "documents"), "doc_id", "text", "source")
    val ct = Tokenize.tokensSpaceSplit(col("cand_text"), Tokenize.Whitespace)
    // both systems score the SAME pair row, so the two ROUGE kernels
    // chain as projections — one corpus scan, no score-table self-join
    // (which would shuffle the corpus twice at scale)
    val withB = pairs.withColumn("cand_b",
      array_join(slice(ct, lit(1), greatest(size(ct) - 1, lit(0))), " "))
    val scoredA = TextEval.rougeN(withB, "cand_text", "ref_text", ns = Seq(1))
      .select(col("cand_id"), col("cand_b"), col("ref_text"),
        round(col("f1") * 1e6).cast("long").as("a_micro"))
    val scored = TextEval.rougeN(scoredA, "cand_b", "ref_text", ns = Seq(1))
      .select(col("cand_id"), col("a_micro"),
        round(col("f1") * 1e6).cast("long").as("b_micro"))
    Stats.pairedBootstrapDelta(scored, "cand_id", "a_micro", "b_micro",
        nReplicates = 200)
      .select(col("n"), round(col("mean_a") / 1e6, 6).as("mean_a"),
        round(col("mean_b") / 1e6, 6).as("mean_b"),
        round(col("delta") / 1e6, 6).as("delta"),
        col("n_replicates"),
        round(col("ci_lo") / 1e6, 6).as("ci_lo"),
        round(col("ci_hi") / 1e6, 6).as("ci_hi"),
        round(col("frac_a_better"), 6).as("frac_a_better"))
  }


  /** Balanced shard assignment ([[graft.operators.Packing.lptShards]],
    * Graham's LPT): per source, docs sorted (tokens DESC, id ASC) go
    * to the least-loaded of 4 shards — the shard writer that equalizes
    * per-file token counts. Groups are the parallelism unit (hash
    * shuffle + within-partition sort + one streaming pass with 4
    * counters — LPT is sequential by definition, so the corpus-global
    * form is deliberately not offered). The oracle replays the exact
    * placement sequence as a recursive CTE stepping the 4 shard loads
    * per source in rank order.
    */
  private def q221LptShards(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Packing
    Packing.lptShards(t(s, dir, "documents"), "source", "doc_id", "text", 4)
      .select(col("group"), col("id"), col("n_tokens"),
        col("shard").cast("long").as("shard"))
      .orderBy(col("id"))
  }


  /** Filter-model calibration ([[graft.operators.Stats.calibration]]):
    * the q30 language-ID heuristic's confidence (top-profile hits over
    * all profile hits; 0 when no profile fires) against its actual
    * accuracy vs the `lang` column, in 10 equal-width bins, plus the
    * expected calibration error — the gate statistic that decides
    * whether a quality/language filter's scores can be thresholded at
    * face value. One corpus aggregate; ECE joins back as a broadcast
    * scalar. The oracle replays q30's hit CTE, the confidence/argmax
    * arithmetic, the binning, and the ECE sum.
    */
  private def q222CalibrationEce(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    import graft.operators.Stats
    val docs = t(s, dir, "documents")
    val hitCols = Seq("de", "en", "es", "fr", "zh").map(l => col(s"${l}_hits"))
    val total = hitCols.reduce(_ + _)
    val scored = TextFunctions.langScoreTable(docs, "doc_id", "text")
      .join(docs.select(col("doc_id").as("id"), col("lang")), "id")
      .select(
        when(total === 0, lit(0.0))
          .otherwise(greatest(hitCols: _*).cast("double") / total).as("conf"),
        (col("pred_lang") === col("lang")).as("correct"))
    Stats.calibration(scored, "conf", "correct", nBins = 10)
      .select(col("bin"), col("n"), round(col("avg_conf"), 6).as("avg_conf"),
        round(col("accuracy"), 6).as("accuracy"), round(col("gap"), 6).as("gap"),
        round(col("ece"), 6).as("ece"))
      .orderBy(col("bin"))
  }


  /** Threshold-free classifier audit ([[graft.operators.Stats.binaryEval]]):
    * tie-aware ROC AUC (Mann–Whitney rank-sum, ½ credit per tied pair)
    * and step-wise average precision of document length as a predictor
    * of English-ness — the ranking-quality companion to q222's
    * calibration gate. n_chars is heavily tied (many docs share a
    * length), so the tie corrections in BOTH estimators are load-
    * bearing, and the cumulative counts come from the two-phase
    * prefix-sum scan, never a single-partition window.
    */
  private def q223BinaryEval(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stats
    val docs = t(s, dir, "documents")
      .select(col("n_chars").cast("double").as("score"),
        (col("lang") === "en").as("pos"))
    Stats.binaryEval(docs, "score", "pos")
  }


  /** Per-slice AUC bias audit ([[graft.operators.Stats.binaryEvalBy]]):
    * the q223 classifier re-scored within every `source` slice — the
    * robustness report a filter model ships with (a corpus-level AUC
    * can hide a far-worse slice). Slices whose label is one-sided
    * report NULL ROC AUC (undefined), not a fake 0 — on both engines.
    */
  private def q224AucBySource(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stats
    val docs = t(s, dir, "documents")
      .select(col("source"), col("n_chars").cast("double").as("score"),
        (col("lang") === "en").as("pos"))
    Stats.binaryEvalBy(docs, Seq("source"), "score", "pos")
      .orderBy(col("source"))
  }


  /** Monotone-trend detector ([[graft.operators.Stats.spearman]]):
    * tie-aware Spearman ρ between event value and event time within
    * each event_type — the distribution-free drift test (is this
    * metric trending?) that Pearson's linear ρ (q82) gets wrong on
    * heavy tails. Ranks are fractional (average) ranks from the
    * distinct-value contingency; time enters as the canonical epoch-ns
    * long ([[Tables.withEventTime]]) so both engines rank the same
    * integers regardless of the parquet timestamp encoding.
    */
  private def q225Spearman(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stats
    val ev = Tables.withEventTime(t(s, dir, "events"))
      .select(col("event_type"), col("value"), col("ts"))
    Stats.spearman(ev, Seq("event_type"), "value", "ts")
      .orderBy(col("event_type"))
  }


  /** Preference aggregation ([[graft.operators.Stats.bradleyTerry]]):
    * consecutive same-user events become pairwise outcomes (the
    * higher-valued event's type beats the other; equal values and
    * same-type pairs are skipped), then 5 Hunter-'04 MM iterations
    * score the event types. The corpus-sized work (the lead window +
    * pair aggregation) is distributed; the MM runs over the bounded
    * |items|² matrix. The oracle replays the 5 iterations as unrolled
    * CTEs ([[btIterationCtes]]).
    */
  private def q226BradleyTerry(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stats
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prefs = Tables.withEventTime(t(s, dir, "events"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("next_value", lead(col("value"), 1).over(w))
      .filter(col("next_type").isNotNull
        && col("value") =!= col("next_value")
        && col("event_type") =!= col("next_type"))
      .select(
        when(col("value") > col("next_value"), col("event_type"))
          .otherwise(col("next_type")).as("winner"),
        when(col("value") > col("next_value"), col("next_type"))
          .otherwise(col("event_type")).as("loser"))
    Stats.bradleyTerry(prefs, "winner", "loser", iterations = 5)
      .orderBy(col("rank"))
  }


  /** Isotonic (PAV) recalibration
    * ([[graft.operators.Stats.isotonicCalibration]]) of the exact q222
    * reliability diagram: the best non-decreasing accuracy-over-
    * confidence fit via the minimax closed form — what a production
    * gate applies to the filter model's raw confidences before
    * thresholding. Same binning as q222 bit-for-bit; the PAV algebra
    * is bounded-bin arithmetic both engines restate exactly.
    */
  private def q227IsotonicFit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    import graft.operators.Stats
    val docs = t(s, dir, "documents")
    val hitCols = Seq("de", "en", "es", "fr", "zh").map(l => col(s"${l}_hits"))
    val total = hitCols.reduce(_ + _)
    val scored = TextFunctions.langScoreTable(docs, "doc_id", "text")
      .join(docs.select(col("doc_id").as("id"), col("lang")), "id")
      .select(
        when(total === 0, lit(0.0))
          .otherwise(greatest(hitCols: _*).cast("double") / total).as("conf"),
        (col("pred_lang") === col("lang")).as("correct"))
    Stats.isotonicCalibration(scored, "conf", "correct", nBins = 10)
      .select(col("bin"), col("n"), round(col("avg_conf"), 6).as("avg_conf"),
        round(col("accuracy"), 6).as("accuracy"),
        round(col("iso_fit"), 6).as("iso_fit"))
      .orderBy(col("bin"))
  }


  /** In-engine quality-filter training
    * ([[graft.operators.FilterModel.logisticGd]]): logistic regression
    * of English-ness on three engine-computed text features (length,
    * stopword fraction, mean token length), 5 full-batch GD steps —
    * the label-a-slice-fit-score loop of a CCNet-style filter run
    * without leaving the engine. Each step is one map-side-combined
    * gradient aggregate; the oracle replays the 5 steps as unrolled
    * MATERIALIZED CTEs with the identical left-associated float
    * expression.
    */
  private def q228LogregGd(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.FilterModel
    val docs = t(s, dir, "documents")
    val toks = filter(split(lower(trim(col("text"))), "\\s+"),
      t => length(t) > 0)
    val ntok = size(toks).cast("double")
    val stopHits = size(filter(toks,
      t => t.isin("the", "a", "and", "of", "to", "in")))
    val charSum = aggregate(transform(toks, t => length(t)),
      lit(0), (acc, x) => acc + x)
    val feats = docs.select(
      (col("lang") === "en").as("is_en"),
      (col("n_chars").cast("double") / 1000.0).as("len_k"),
      when(ntok === 0, 0.0).otherwise(stopHits.cast("double") / ntok)
        .as("stop_frac"),
      when(ntok === 0, 0.0).otherwise(charSum.cast("double") / ntok / 10.0)
        .as("tok_len"))
    FilterModel.logisticGd(feats, Seq("len_k", "stop_frac", "tok_len"),
        "is_en", iterations = 5, learningRate = 1.0)
      .orderBy(col("term_idx"))
  }


  /** UniMax mixture planning ([[graft.operators.Sampling.unimaxAllocation]]):
    * a 2×-total-tokens training budget spread over sources under a
    * 4-epoch repetition cap — low-resource sources rise toward the cap,
    * large sources split the remainder equally at the waterfill level
    * τ. The corpus-sized work is one token-count aggregate (+ one
    * scalar total for the budget); the closed-form allocation is
    * bounded-source arithmetic both engines restate.
    */
  private def q229UnimaxMix(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = t(s, dir, "documents")
    val toks = filter(split(lower(trim(col("text"))), "\\s+"),
      t => length(t) > 0)
    // persist the per-source aggregate: the budget scalar and the
    // allocation both read it, so the corpus tokenization runs once
    val counts = docs
      .select(col("source"), size(toks).cast("long").as("ntok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).cast("double").as("tokens"))
      .persist()
    graft.Caches.track(counts)
    val total = counts.agg(sum(col("tokens"))).collect()(0).getDouble(0)
    Sampling.unimaxAllocation(counts, "source", "n_docs", "tokens",
        budget = 2.0 * total, maxEpochs = 4.0)
      .orderBy(col("source"))
  }


  /** Corpus-balance independence audit
    * ([[graft.operators.Stats.chiSquare]]): Pearson χ² + Cramér's V of
    * lang × source — "is language mix uniform across sources?" — over
    * the full r×c grid including zero-observed cells.
    */
  private def q230ChiSquare(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stats
    Stats.chiSquare(t(s, dir, "documents"), "source", "lang")
  }


  /** Distribution-shift significance
    * ([[graft.operators.Stats.mannWhitney]]): the tie-corrected
    * Mann–Whitney z for "are English documents longer?" — the
    * hypothesis-test companion to q223's effect size (U = AUC·n₁n₂,
    * same rank machinery, same heavily-tied input).
    */
  private def q231MannWhitney(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stats
    val docs = t(s, dir, "documents")
      .select(col("n_chars").cast("double").as("score"),
        (col("lang") === "en").as("pos"))
    Stats.mannWhitney(docs, "score", "pos")
  }


  /** Distribution-shape drift ([[graft.operators.Stats.ksTest]]): the
    * two-sample K–S statistic for English-vs-other document lengths —
    * completes the q223/q231 family (effect size → rank significance →
    * CDF-shape distance) off the same distinct-score scan.
    */
  private def q232KsTest(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stats
    val docs = t(s, dir, "documents")
      .select(col("n_chars").cast("double").as("score"),
        (col("lang") === "en").as("pos"))
    Stats.ksTest(docs, "score", "pos")
  }


  /** The train→evaluate loop COMPOSED in-engine (the q68 composition
    * proof for the round-11 model surface): q228's logistic GD trains
    * a filter, the corpus is scored with the trained (6-dp-rounded —
    * the cross-engine drift cut) weights, and the trained model is
    * audited with q222's reliability bins + ECE and q223's tie-aware
    * AUC pair — every stage individually oracled, here replayed
    * end-to-end in ONE SQL statement. The weight hand-off is a
    * 4-double driver collect (bounded by d). Target: the synthetic
    * corpus carries NO text↔lang signal (q228's honest-but-flat AUC),
    * so this demo trains the length rule `n_chars > 300` the model
    * must RECOVER from its features — 50 steps spread the confidences
    * across ~8 bins, which is what makes the calibration/AUC audit
    * numerically non-degenerate.
    */
  private def q233TrainEval(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{FilterModel, Stats}
    val docs = t(s, dir, "documents")
    val toks = filter(split(lower(trim(col("text"))), "\\s+"),
      t => length(t) > 0)
    val ntok = size(toks).cast("double")
    val stopHits = size(filter(toks,
      t => t.isin("the", "a", "and", "of", "to", "in")))
    val charSum = aggregate(transform(toks, t => length(t)),
      lit(0), (acc, x) => acc + x)
    // persisted: the interpreted-HOF feature projection (token filter/
    // transform/aggregate lambdas — the dominant per-pass cost) feeds
    // THREE consumers: the GD training cache build, the calibration
    // scoring pass and the AUC pass; 4 narrow columns per doc
    val feats = docs.filter(col("text").isNotNull)
      .select(
        (col("n_chars") > 300).as("is_long"),
        (col("n_chars").cast("double") / 1000.0).as("len_k"),
        when(ntok === 0, 0.0).otherwise(stopHits.cast("double") / ntok)
          .as("stop_frac"),
        when(ntok === 0, 0.0).otherwise(charSum.cast("double") / ntok / 10.0)
          .as("tok_len"))
      .persist()
    graft.Caches.track(feats)
    val xCols = Seq("len_k", "stop_frac", "tok_len")
    val w = FilterModel.logisticGd(feats, xCols, "is_long",
        iterations = 50, learningRate = 3.0)
      .collect().sortBy(_.getAs[Long]("term_idx")).map(_.getAs[Double]("weight"))
    val z = xCols.zipWithIndex.foldLeft(lit(w(0)): Column) {
      case (acc, (c, i)) => acc + col(c) * lit(w(i + 1)) }
    val scored = feats.select(
      (lit(1.0) / (lit(1.0) + exp(-z))).as("conf"), col("is_long").as("correct"))
    val cal = Stats.calibration(scored, "conf", "correct", nBins = 10)
    val auc = Stats.binaryEval(scored, "conf", "correct")
      .select(col("roc_auc"), col("pr_auc"))
    cal.crossJoin(broadcast(auc))
      .select(col("bin"), col("n"), round(col("avg_conf"), 6).as("avg_conf"),
        round(col("accuracy"), 6).as("accuracy"),
        round(col("ece"), 6).as("ece"),
        col("roc_auc"), col("pr_auc"))
      .orderBy(col("bin"))
  }


  /** Batch-drift proportion gate
    * ([[graft.operators.Stats.twoProportionZ]]): did the English rate
    * move between the even- and odd-id halves of the corpus? — the
    * A/B z-test that completes the significance family (rank q231,
    * shape q232, proportion q235).
    */
  private def q235TwoProportion(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stats
    val docs = t(s, dir, "documents")
      .select((col("doc_id") % 2 === 0).as("cohort"),
        (col("lang") === "en").as("is_en"))
    Stats.twoProportionZ(docs, "cohort", "is_en")
  }


  /** Score-distribution drift localization ([[graft.operators.Stats.psi]]):
    * PSI of event value, first half of the stream (expected) vs second
    * (actual), 10 fixed bins over [0, 500) — the interpretable-threshold
    * companion to q232's K–S (PSI says WHERE the mass moved).
    */
  private def q236Psi(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stats
    val ev = Tables.withEventTime(t(s, dir, "events"))
      .select((col("event_time") < lit("2024-01-15").cast("timestamp"))
        .as("baseline"), col("value"))
    Stats.psi(ev, "baseline", "value", lo = 0.0, hi = 500.0, nBins = 10)
      .orderBy(col("bin"))
  }


  /** Error bar on the q223 effect size
    * ([[graft.operators.Stats.binaryEvalBootstrap]]): 100 deterministic
    * Poisson replicates re-run the weighted rank-sum AUC, percentile
    * CI at 95% — the q184 draw machinery composed with the q223 rank
    * machinery, both already oracle-pinned on their own.
    */
  private def q237AucCi(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stats
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("double").as("score"),
        (col("lang") === "en").as("pos"))
    Stats.binaryEvalBootstrap(docs, "doc_id", "score", "pos",
      nReplicates = 100, alpha = 0.05)
  }


  /** q222/q227's shared langId-confidence reliability bins: hits →
    * (conf, correct) → 10 equal-width bins with per-bin n / mean conf /
    * accuracy. Factored so the ECE and the PAV fit replay the SAME
    * binning verbatim.
    */
  private def langCalibrationCtes: String =
    """h AS (
      | SELECT d.doc_id, d.lang,
      |  len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','eine','mit','von'))) AS de_hits,
      |  len(list_filter(toks, t -> t IN ('the','a','and','is','not','of','to','in','it','that'))) AS en_hits,
      |  len(list_filter(toks, t -> t IN ('el','la','los','las','y','es','no','un','una','de'))) AS es_hits,
      |  len(list_filter(toks, t -> t IN ('le','la','les','et','est','pas','un','une','dans','que'))) AS fr_hits,
      |  len(list_filter(toks, t -> t IN ('的','是','不','了','在','我','有','和','就','人'))) AS zh_hits
      | FROM (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS toks
      |       FROM documents) d),
      |scored AS (
      | SELECT doc_id,
      |  CASE WHEN de_hits + en_hits + es_hits + fr_hits + zh_hits = 0 THEN 0.0
      |       ELSE CAST(greatest(de_hits, en_hits, es_hits, fr_hits, zh_hits) AS DOUBLE)
      |            / (de_hits + en_hits + es_hits + fr_hits + zh_hits) END AS conf,
      |  (CASE WHEN greatest(de_hits, en_hits, es_hits, fr_hits, zh_hits) = 0 THEN 'und'
      |        WHEN de_hits >= en_hits AND de_hits >= es_hits AND de_hits >= fr_hits AND de_hits >= zh_hits THEN 'de'
      |        WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= zh_hits THEN 'en'
      |        WHEN es_hits >= fr_hits AND es_hits >= zh_hits THEN 'es'
      |        WHEN fr_hits >= zh_hits THEN 'fr'
      |        ELSE 'zh' END = lang) AS correct
      | FROM h),
      |bb AS (
      | SELECT CAST(least(greatest(floor(conf * 10), 0), 9) AS BIGINT) AS bin,
      |  count(*)::BIGINT AS n, avg(conf) AS avg_conf,
      |  avg(CASE WHEN correct THEN 1.0 ELSE 0.0 END) AS accuracy
      | FROM scored WHERE conf IS NOT NULL AND correct IS NOT NULL
      | GROUP BY 1)""".stripMargin


  /** q228/q233's shared feature CTE: a parametrized binary label + the
    * three engine-computed text features (length, stopword fraction,
    * mean token length), q217 tokenization pairing. q228 labels
    * English-ness; q233 labels the recoverable length rule.
    */
  private def logregFeatureCte(labelExpr: String, where: String): String =
    s"""ft AS MATERIALIZED (
      | SELECT $labelExpr AS y,
      |  CAST(n_chars AS DOUBLE) / 1000.0 AS x0,
      |  CASE WHEN ntok = 0 THEN 0.0 ELSE nstop / ntok END AS x1,
      |  CASE WHEN ntok = 0 THEN 0.0 ELSE csum / ntok / 10.0 END AS x2
      | FROM (
      |  SELECT lang, n_chars,
      |   CAST(len(toks) AS DOUBLE) AS ntok,
      |   CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to','in'))) AS DOUBLE) AS nstop,
      |   CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) AS csum
      |  FROM (SELECT lang, n_chars,
      |         list_filter(string_split(lower(trim(text)), ' '), t -> t <> '') AS toks
      |        FROM documents WHERE text IS NOT NULL) t0) t1
      | WHERE $where)""".stripMargin


  /** q228's unrolled GD steps: grK = the gradient means under wt(K−1),
    * wtK = wt(K−1) − η·grK with η = 1 — the exact per-step arithmetic
    * [[graft.operators.FilterModel.logisticGd]] runs, z folded in the
    * same left-associated order. MATERIALIZED for the q226 reason.
    */
  private def gdIterationCtes(iters: Int, learningRate: String = "1.0"): String =
    (1 to iters).map { k =>
      s"""gr$k AS MATERIALIZED (
        | SELECT avg((p - y) * 1.0) AS g0, avg((p - y) * x0) AS g1,
        |        avg((p - y) * x1) AS g2, avg((p - y) * x2) AS g3
        | FROM (SELECT ft.y, ft.x0, ft.x1, ft.x2,
        |    1.0 / (1.0 + exp(-(wt${k - 1}.b + ft.x0 * wt${k - 1}.c0
        |      + ft.x1 * wt${k - 1}.c1 + ft.x2 * wt${k - 1}.c2))) AS p
        |   FROM ft, wt${k - 1}) t),
        |wt$k AS (SELECT wt${k - 1}.b - $learningRate * gr$k.g0 AS b,
        |  wt${k - 1}.c0 - $learningRate * gr$k.g1 AS c0,
        |  wt${k - 1}.c1 - $learningRate * gr$k.g2 AS c1,
        |  wt${k - 1}.c2 - $learningRate * gr$k.g3 AS c2
        | FROM wt${k - 1}, gr$k)""".stripMargin
    }.mkString(",\n")


  /** q223/q224's shared AUC oracle: `slice` = None is the global form,
    * Some(col) partitions every window and the final reduction by the
    * slice column — the exact algebra of
    * [[graft.operators.Stats.binaryEvalAgg]] restated over window
    * prefix sums (fine at oracle scale; the engine's global form uses
    * the two-phase scan instead).
    */
  private def aucOracle(slice: Option[String]): String = {
    val gSel = slice.map(c => s"$c, ").getOrElse("")
    val part = slice.map(c => s"PARTITION BY $c ").getOrElse("")
    val whole = slice.map(c => s"PARTITION BY $c").getOrElse("")
    val grpBy = slice.map(c => s"GROUP BY $c ORDER BY $c").getOrElse("")
    val gGrp = if (slice.isEmpty) "GROUP BY 1" else "GROUP BY 1, 2"
    s"""WITH g AS (
      | SELECT ${gSel}CAST(n_chars AS DOUBLE) AS s,
      |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS p,
      |  sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS n
      | FROM documents
      | WHERE n_chars IS NOT NULL AND lang IS NOT NULL $gGrp),
      |c AS (
      | SELECT ${gSel}p, n,
      |  COALESCE(sum(p) OVER (${part}ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp,
      |  COALESCE(sum(n) OVER (${part}ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn,
      |  sum(p) OVER ($whole) AS bigp, sum(n) OVER ($whole) AS bign
      | FROM g)
      |SELECT ${gSel}max(bigp)::BIGINT AS n_pos, max(bign)::BIGINT AS n_neg,
      | count(*)::BIGINT AS n_thresholds,
      | round(CASE WHEN max(bigp) > 0 AND max(bign) > 0 THEN
      |   (sum(CAST(p AS DOUBLE) * cn) + sum(CAST(p AS DOUBLE) * n) / 2)
      |    / (CAST(max(bigp) AS DOUBLE) * max(bign)) END, 6) AS roc_auc,
      | round(CASE WHEN max(bigp) > 0 THEN
      |   sum((CAST(p AS DOUBLE) / bigp)
      |     * (CAST(bigp - cp AS DOUBLE) / ((bigp - cp) + (bign - cn)))) END, 6)
      |   AS pr_auc
      |FROM c $grpBy""".stripMargin
  }


  /** q226's unrolled MM iterations (w0 → wN): each rK computes
    * raw_i = W_i / Σ_j n_ij/(s_i + s_j) from w(K−1); each wK
    * renormalizes to sum 1 — the exact fixed-iteration arithmetic
    * [[graft.operators.Stats.bradleyTerry]] runs on the driver.
    */
  private def btIterationCtes(iters: Int): String =
    (1 to iters).map { k =>
      // MATERIALIZED: each step references its predecessor twice plus a
      // scalar-subquery sum — left inlined, the chain re-expands the
      // whole upstream pipeline ~3^k times and the oracle never returns
      s"""r$k AS MATERIALIZED (
        | SELECT sym.i AS i,
        |  COALESCE(wins.wins, 0) / sum(sym.nij / (si.s + sj.s)) AS raw
        | FROM sym
        | JOIN w${k - 1} si ON sym.i = si.i
        | JOIN w${k - 1} sj ON sym.j = sj.i
        | LEFT JOIN wins ON sym.i = wins.i
        | GROUP BY sym.i, wins.wins),
        |w$k AS MATERIALIZED (
        | SELECT i, raw / (SELECT sum(raw) FROM r$k) AS s FROM r$k)""".stripMargin
    }.mkString(",\n")

  /** Top principal component of the embedding corpus
    * ([[graft.operators.Projection.pcaTopComponent]]): one corpus pass
    * accumulates (n, Σv, Σvvᵀ); the centered scatter and the 10-step
    * power iteration are d²-bounded driver arithmetic the oracle
    * unrolls as MATERIALIZED CTEs (the q228 GD convention). Sign fixed
    * by the max-|loading| component.
    */
  private def q244PcaTop(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Projection
    Projection.pcaTopComponent(t(s, dir, "embeddings"), "embedding",
        dim = 64, iterations = 10)
      .orderBy(col("component"))
  }

  /** The power-iteration CTE chain `p`1..`p``iters` over scatter table
    * `gT` starting from `p`0 (uniform 1∕√d): per step one
    * matrix-vector product and one L2 normalization. Parametrized so
    * q246's deflated second chain reuses it verbatim.
    */
  private def pcaIterCtes(iters: Int, gT: String = "g", p: String = "x"): String =
    (1 to iters).map { k =>
      val prev = if (k == 1) s"${p}0" else s"$p${k - 1}"
      s"""${p}y$k AS MATERIALIZED (
         | SELECT $gT.i, sum($gT.g * pp.x) AS y
         | FROM $gT JOIN $prev pp ON $gT.j = pp.i
         | GROUP BY $gT.i),
         |$p$k AS MATERIALIZED (
         | SELECT i, y / (SELECT sqrt(sum(y * y)) FROM ${p}y$k) AS x
         | FROM ${p}y$k)""".stripMargin
    }.mkString(",\n")

  /** All-but-the-top embedding postprocessing (Mu & Viswanath ICLR
    * '18): remove the mean and the projection on the top principal
    * component from every embedding — the common-direction fix that
    * measurably improves similarity search. Composition of q244's
    * operator with map-side vector algebra: the trained parameters
    * (64 loadings + 64 means, both 6-dp-rounded — the q233
    * rounded-weights cross-engine convention) ship as literals, the
    * per-row work is three array folds, no shuffle. Output per vector:
    * centered norm, residual norm, and the share of (centered) energy
    * the top component carried.
    */
  private def q245AbttPostprocess(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Projection
    import s.implicits._
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull && size(col("v")) === 64)
    val u = Projection.pcaTopComponent(emb, "v", dim = 64, iterations = 10)
      .orderBy("component").select("loading").as[Double].collect().toSeq
    val muRow = emb.select(
      (1 to 64).map(i => avg(element_at(col("v"), i))): _*).collect()(0)
    def r6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val mu = (0 until 64).map(i => r6(muRow.getDouble(i)))
    val uc = typedlit(u)
    val muc = typedlit(mu)
    def sumSq(c: Column): Column =
      aggregate(transform(c, x => x * x), lit(0.0), (acc, x) => acc + x)
    val staged = emb
      .withColumn("__c", zip_with(col("v"), muc, (a, b) => a - b))
      .withColumn("__cs", sumSq(col("__c")))
      .withColumn("__dot", aggregate(
        zip_with(col("__c"), uc, (a, b) => a * b), lit(0.0), (acc, x) => acc + x))
      .withColumn("__r", zip_with(col("__c"), uc,
        (c, ui) => c - col("__dot") * ui))
    staged.select(col("vec_id"),
        round(sqrt(col("__cs")), 6).as("centered_norm"),
        round(sqrt(sumSq(col("__r"))), 6).as("residual_norm"),
        round(when(col("__cs") > 0,
          col("__dot") * col("__dot") / col("__cs")).otherwise(0.0), 6)
          .as("removed_share"))
      .orderBy(col("vec_id"))
  }

  /** Top-2 principal components via Hotelling deflation
    * ([[graft.operators.Projection.pcaComponents]]): the same scatter
    * pass, then per component a 10-step power chain and G ← G − λuuᵀ
    * with the UNROUNDED component (both engines deflate identically;
    * rounding happens at output only). var_share is against the
    * ORIGINAL trace so shares compare across components.
    */
  private def q246PcaDeflate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Projection
    Projection.pcaComponents(t(s, dir, "embeddings"), "embedding",
        dim = 64, k = 2, iterations = 10)
      .orderBy(col("pc"), col("component"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q244_pca_top" -> (q244PcaTop _),
    "q245_abtt" -> (q245AbttPostprocess _),
    "q246_pca_deflate" -> (q246PcaDeflate _),
    "q52_approx_distinct" -> (q52ApproxDistinct _),
    "q59_pack_concat" -> (q59PackConcat _),
    "q62_source_cap" -> (q62SourceCap _),
    "q68_curation_funnel" -> (q68CurationFunnel _),
    "q70_weighted_sample" -> (q70WeightedSample _),
    "q81_kl_divergence" -> (q81KlDivergence _),
    "q82_corr_stats" -> (q82CorrStats _),
    "q83_heavy_hitters" -> (q83HeavyHitters _),
    "q104_temperature_sample" -> (q104TemperatureSample _),
    "q117_bitmap_distinct" -> (q117BitmapDistinct _),
    "q118_hll_rollup" -> (q118HllRollup _),
    "q120_quantile_sketch" -> (q120QuantileSketch _),
    "q125_drift_psi" -> (q125DriftPsi _),
    "q128_sketch_drift" -> (q128SketchDrift _),
    "q130_dsir_weights" -> (q130DsirWeights _),
    "q131_kmv_retention" -> (q131KmvRetention _),
    "q133_cms_freq" -> (q133CmsFreq _),
    "q135_corpus_shuffle" -> (q135CorpusShuffle _),
    "q138_group_sample" -> (q138GroupSample _),
    "q162_mixture_rebalance" -> (q162MixtureRebalance _),
    "q178_mutual_info" -> (q178MutualInfo _),
    "q179_benford_audit" -> (q179BenfordAudit _),
    "q181_chao1" -> (q181Chao1 _),
    "q182_zipf_slope" -> (q182ZipfSlope _),
    "q183_gini_sources" -> (q183GiniSources _),
    "q184_bootstrap_ci" -> (q184BootstrapCi _),
    "q185_cohens_kappa" -> (q185CohensKappa _),
    "q186_weighted_topk" -> (q186WeightedTopK _),
    "q213_paired_bootstrap" -> (q213PairedBootstrap _),
    "q221_lpt_shards" -> (q221LptShards _),
    "q222_calibration_ece" -> (q222CalibrationEce _),
    "q223_binary_eval" -> (q223BinaryEval _),
    "q224_auc_by_source" -> (q224AucBySource _),
    "q225_spearman" -> (q225Spearman _),
    "q226_bradley_terry" -> (q226BradleyTerry _),
    "q227_isotonic_fit" -> (q227IsotonicFit _),
    "q228_logreg_gd" -> (q228LogregGd _),
    "q229_unimax_mix" -> (q229UnimaxMix _),
    "q230_chi_square" -> (q230ChiSquare _),
    "q231_mann_whitney" -> (q231MannWhitney _),
    "q232_ks_test" -> (q232KsTest _),
    "q233_train_eval" -> (q233TrainEval _),
    "q235_two_proportion" -> (q235TwoProportion _),
    "q236_psi" -> (q236Psi _),
    "q237_auc_ci" -> (q237AucCi _))

  def oracleSql: Map[String, String] = Map(
    // q244: scatter from one pair expansion, then the 10 power steps
    // unrolled (MATERIALIZED — the q228 GD precedent), sign fixed by
    // the max-|loading| component, everything rounded at the end only
    "q244_pca_top" ->
      s"""WITH base AS (SELECT embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |nn AS (SELECT count(*)::DOUBLE AS c FROM base),
        |mu AS MATERIALIZED (
        | SELECT r.i, avg(v[r.i]) AS m FROM base, range(1, 65) r(i) GROUP BY r.i),
        |sc AS MATERIALIZED (
        | SELECT ri.i AS i, rj.j AS j, sum(v[ri.i] * v[rj.j]) AS s
        | FROM base, range(1, 65) ri(i), range(1, 65) rj(j)
        | GROUP BY ri.i, rj.j),
        |g AS MATERIALIZED (
        | SELECT sc.i, sc.j, sc.s - (SELECT c FROM nn) * mi.m * mj.m AS g
        | FROM sc JOIN mu mi ON sc.i = mi.i JOIN mu mj ON sc.j = mj.i),
        |x0 AS (SELECT i, 1.0 / sqrt(64.0) AS x FROM range(1, 65) r(i)),
        |${pcaIterCtes(10)},
        |sgn AS (SELECT CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS s
        |        FROM x10 ORDER BY abs(x) DESC, i ASC LIMIT 1),
        |xf AS MATERIALIZED (SELECT i, x * (SELECT s FROM sgn) AS x FROM x10),
        |gy AS (SELECT g.i, sum(g.g * xf.x) AS y FROM g JOIN xf ON g.j = xf.i
        |       GROUP BY g.i),
        |lam AS (SELECT sum(xf.x * gy.y) AS l FROM gy JOIN xf ON gy.i = xf.i),
        |tr AS (SELECT sum(g) AS t FROM g WHERE i = j)
        |SELECT xf.i AS component,
        | round(xf.x, 6) AS loading,
        | round((SELECT l FROM lam), 6) AS eigenvalue,
        | round((SELECT l FROM lam) / (SELECT t FROM tr), 6) AS var_share
        |FROM xf
        |ORDER BY component""".stripMargin,
    // q245: q244's chain re-used; both engines postprocess with the
    // SAME 6-dp-rounded loadings and means (the q233 rounded-weights
    // convention), so the per-vector algebra hash-matches
    "q245_abtt" ->
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |nn AS (SELECT count(*)::DOUBLE AS c FROM base),
        |mu AS MATERIALIZED (
        | SELECT r.i, avg(v[r.i]) AS m FROM base, range(1, 65) r(i) GROUP BY r.i),
        |sc AS MATERIALIZED (
        | SELECT ri.i AS i, rj.j AS j, sum(v[ri.i] * v[rj.j]) AS s
        | FROM base, range(1, 65) ri(i), range(1, 65) rj(j)
        | GROUP BY ri.i, rj.j),
        |g AS MATERIALIZED (
        | SELECT sc.i, sc.j, sc.s - (SELECT c FROM nn) * mi.m * mj.m AS g
        | FROM sc JOIN mu mi ON sc.i = mi.i JOIN mu mj ON sc.j = mj.i),
        |x0 AS (SELECT i, 1.0 / sqrt(64.0) AS x FROM range(1, 65) r(i)),
        |${pcaIterCtes(10)},
        |sgn AS (SELECT CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS s
        |        FROM x10 ORDER BY abs(x) DESC, i ASC LIMIT 1),
        |xf AS MATERIALIZED (SELECT i, x * (SELECT s FROM sgn) AS x FROM x10),
        |uvec AS (SELECT list(round(x, 6) ORDER BY i) AS u FROM xf),
        |mvec AS (SELECT list(round(m, 6) ORDER BY i) AS m FROM mu),
        |per AS MATERIALIZED (
        | SELECT vec_id,
        |  list_transform(range(1, 65), i -> v[i] - m[i]) AS c, u
        | FROM base CROSS JOIN uvec CROSS JOIN mvec),
        |st AS (
        | SELECT vec_id, c, u,
        |  list_sum(list_transform(range(1, 65), i -> c[i] * c[i])) AS cs,
        |  list_sum(list_transform(range(1, 65), i -> c[i] * u[i])) AS dot
        | FROM per)
        |SELECT vec_id,
        | round(sqrt(cs), 6) AS centered_norm,
        | round(sqrt(list_sum(list_transform(range(1, 65),
        |   i -> (c[i] - dot * u[i]) * (c[i] - dot * u[i])))), 6) AS residual_norm,
        | round(CASE WHEN cs > 0 THEN dot * dot / cs ELSE 0 END, 6) AS removed_share
        |FROM st
        |ORDER BY vec_id""".stripMargin,
    // q246: q244's chain, then Hotelling deflation with the
    // FULL-PRECISION first component and a second identical chain
    "q246_pca_deflate" ->
      s"""WITH base AS (SELECT embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |nn AS (SELECT count(*)::DOUBLE AS c FROM base),
        |mu AS MATERIALIZED (
        | SELECT r.i, avg(v[r.i]) AS m FROM base, range(1, 65) r(i) GROUP BY r.i),
        |sc AS MATERIALIZED (
        | SELECT ri.i AS i, rj.j AS j, sum(v[ri.i] * v[rj.j]) AS s
        | FROM base, range(1, 65) ri(i), range(1, 65) rj(j)
        | GROUP BY ri.i, rj.j),
        |g AS MATERIALIZED (
        | SELECT sc.i, sc.j, sc.s - (SELECT c FROM nn) * mi.m * mj.m AS g
        | FROM sc JOIN mu mi ON sc.i = mi.i JOIN mu mj ON sc.j = mj.i),
        |tr AS (SELECT sum(g) AS t FROM g WHERE i = j),
        |x0 AS (SELECT i, 1.0 / sqrt(64.0) AS x FROM range(1, 65) r(i)),
        |${pcaIterCtes(10)},
        |sgn AS (SELECT CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS s
        |        FROM x10 ORDER BY abs(x) DESC, i ASC LIMIT 1),
        |xf AS MATERIALIZED (SELECT i, x * (SELECT s FROM sgn) AS x FROM x10),
        |gy1 AS (SELECT g.i, sum(g.g * xf.x) AS y FROM g JOIN xf ON g.j = xf.i
        |        GROUP BY g.i),
        |lam1 AS (SELECT sum(xf.x * gy1.y) AS l FROM gy1 JOIN xf ON gy1.i = xf.i),
        |g2 AS MATERIALIZED (
        | SELECT g.i, g.j, g.g - (SELECT l FROM lam1) * xa.x * xb.x AS g
        | FROM g JOIN xf xa ON g.i = xa.i JOIN xf xb ON g.j = xb.i),
        |w0 AS (SELECT i, 1.0 / sqrt(64.0) AS x FROM range(1, 65) r(i)),
        |${pcaIterCtes(10, "g2", "w")},
        |sgn2 AS (SELECT CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS s
        |         FROM w10 ORDER BY abs(x) DESC, i ASC LIMIT 1),
        |wf AS MATERIALIZED (SELECT i, x * (SELECT s FROM sgn2) AS x FROM w10),
        |gy2 AS (SELECT g2.i, sum(g2.g * wf.x) AS y FROM g2 JOIN wf ON g2.j = wf.i
        |        GROUP BY g2.i),
        |lam2 AS (SELECT sum(wf.x * gy2.y) AS l FROM gy2 JOIN wf ON gy2.i = wf.i)
        |SELECT 1::BIGINT AS pc, xf.i AS component,
        | round(xf.x, 6) AS loading,
        | round((SELECT l FROM lam1), 6) AS eigenvalue,
        | round((SELECT l FROM lam1) / (SELECT t FROM tr), 6) AS var_share
        |FROM xf
        |UNION ALL
        |SELECT 2::BIGINT AS pc, wf.i AS component,
        | round(wf.x, 6) AS loading,
        | round((SELECT l FROM lam2), 6) AS eigenvalue,
        | round((SELECT l FROM lam2) / (SELECT t FROM tr), 6) AS var_share
        |FROM wf
        |ORDER BY pc, component""".stripMargin,
    // q52: the oracle recomputes the exact counts and expects the 5%
    // accuracy claim to hold (approx_ok literally true per group)
    "q52_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_exact,
        | TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q59: the oracle uses the windowed-SUM form of the same prefix sum
    // (single-partition is fine at oracle scale; the engine's two-phase
    // scan must agree row for row)
    "q59_pack_concat" ->
      """SELECT doc_id, n_tokens, start_off,
        | CAST(start_off // 512 AS BIGINT) AS bin,
        | CAST(CASE WHEN n_tokens = 0 THEN 1
        |      ELSE (start_off + n_tokens - 1) // 512 - start_off // 512 + 1 END AS BIGINT) AS bins_spanned
        |FROM (
        | SELECT doc_id, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        | FROM (SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tokens FROM documents) t) o
        |ORDER BY doc_id""".stripMargin,
    // q62: reselect the identical capped rows — row_number over the
    // portable md5 order, same 40-cap
    "q62_source_cap" ->
      """SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum FROM (
        | SELECT source, doc_id,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents) t
        |WHERE rn <= 40
        |GROUP BY source ORDER BY source""".stripMargin,
    // q68: the whole funnel rebuilt independently — langid argmax
    // (q30's ladder), token-stats gates, normalized-md5 min-id dedup,
    // then the q45 split ladder; stage counts unioned in pipeline order
    "q68_curation_funnel" ->
      """WITH toks AS (
        | SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS t FROM documents),
        |lang AS (
        | SELECT doc_id, text,
        |  CASE WHEN greatest(de_hits, en_hits, es_hits, fr_hits, zh_hits) = 0 THEN 'und'
        |       WHEN de_hits >= en_hits AND de_hits >= es_hits AND de_hits >= fr_hits AND de_hits >= zh_hits THEN 'de'
        |       WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= zh_hits THEN 'en'
        |       WHEN es_hits >= fr_hits AND es_hits >= zh_hits THEN 'es'
        |       WHEN fr_hits >= zh_hits THEN 'fr'
        |       ELSE 'zh' END AS pred_lang
        | FROM (SELECT doc_id, text,
        |   len(list_filter(t, x -> x IN ('der','die','das','und','ist','nicht','ein','eine','mit','von'))) AS de_hits,
        |   len(list_filter(t, x -> x IN ('the','a','and','is','not','of','to','in','it','that'))) AS en_hits,
        |   len(list_filter(t, x -> x IN ('el','la','los','las','y','es','no','un','una','de'))) AS es_hits,
        |   len(list_filter(t, x -> x IN ('le','la','les','et','est','pas','un','une','dans','que'))) AS fr_hits,
        |   len(list_filter(t, x -> x IN ('的','是','不','了','在','我','有','和','就','人'))) AS zh_hits
        |  FROM toks) h),
        |l AS (SELECT doc_id, text FROM lang WHERE pred_lang = 'en'),
        |q AS (
        | SELECT l.doc_id, l.text FROM l JOIN toks USING (doc_id)
        | WHERE len(t) >= 30 AND len(list_distinct(t)) * 1.0 / len(t) >= 0.35),
        |d AS (
        | SELECT doc_id, text FROM q
        | WHERE doc_id IN (
        |  SELECT min(doc_id) FROM q
        |  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))),
        |s AS (
        | SELECT CASE WHEN b < 8000 THEN 'train'
        |             WHEN b < 9000 THEN 'val'
        |             ELSE 'test' END AS split
        | FROM (SELECT CAST(('0x' || substring(md5(coalesce(CAST(doc_id AS VARCHAR), '__graft_null_key__')), 1, 8)) AS BIGINT) % 10000 AS b
        |       FROM d) t)
        |SELECT stage, n_docs FROM (
        | SELECT '1_input' AS stage, count(*) AS n_docs FROM documents
        | UNION ALL SELECT '2_lang_en', count(*) FROM l
        | UNION ALL SELECT '3_quality', count(*) FROM q
        | UNION ALL SELECT '5_' || split, count(*) FROM s GROUP BY split
        | UNION ALL SELECT '4_dedup', count(*) FROM d)
        |ORDER BY stage""".stripMargin,
    // q70: membership recomputed row by row — same md5 bucket, same
    // weight normalization, same rounding
    "q70_weighted_sample" ->
      """SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM (
        | SELECT lang, doc_id,
        |  CAST(('0x' || substring(md5(coalesce(CAST(doc_id AS VARCHAR), '__graft_null_key__')), 1, 8)) AS BIGINT) % 10000 AS b,
        |  CAST(n_chars AS DOUBLE) / (SELECT max(n_chars) FROM documents) AS p
        | FROM documents) t
        |WHERE b < round(p * 10000)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // q81: smoothed KL over the union vocabulary, alpha = 0.5, identical
    // smoothing denominator (n + alpha·|V|)
    "q81_kl_divergence" ->
      """WITH c AS (
        | SELECT token,
        |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cp,
        |  sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS cq
        | FROM (SELECT lang, unnest(string_split(lower(trim(text)), ' ')) AS token
        |       FROM documents WHERE lang IN ('en', 'de')) u
        | WHERE token <> ''
        | GROUP BY token),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS nv,
        |             CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cq) AS BIGINT) AS nq FROM c)
        |SELECT 'en' AS p_slice, 'de' AS q_slice,
        | round(sum(p * ln(p / q)), 6) AS kl_divergence,
        | first(np) AS p_tokens, first(nq) AS q_tokens
        |FROM (
        | SELECT (cp + 0.5) / (np + 0.5 * nv) AS p,
        |        (cq + 0.5) / (nq + 0.5 * nv) AS q, np, nq
        | FROM c, v) t""".stripMargin,
    // q82: the standard one-pass co-moment aggregates
    "q82_corr_stats" ->
      """SELECT l_returnflag,
        | round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
        | round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
        | round(stddev_samp(l_extendedprice), 4) AS price_stddev,
        | round(var_samp(l_quantity), 4) AS qty_var
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // q83: the sketch must reproduce the plain exact top-k (capacity ≫
    // vocabulary ⇒ lossless; see operator contract for the general bound)
    "q83_heavy_hitters" ->
      """SELECT token, count(*) AS cnt
        |FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS token
        |      FROM documents) u
        |WHERE token <> ''
        |GROUP BY token
        |ORDER BY cnt DESC, token
        |LIMIT 10""".stripMargin,
    // q104: identical temperature arithmetic; the md5-bucket membership
    // threshold is quantized (round(p*10000)) so 1-ulp weight drift
    // between engines cannot flip a document
    "q104_temperature_sample" ->
      """WITH g AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
        |tot AS (SELECT sum(n_l) AS n FROM g),
        |w AS (SELECT lang, n_l, pow(n_l * 1.0 / (SELECT n FROM tot), 0.5) AS pw FROM g),
        |norm AS (SELECT sum(pw) AS z FROM w),
        |kp AS (SELECT lang, n_l,
        |  least(1.0, 300.0 * (pw / (SELECT z FROM norm)) / n_l) AS keep_p FROM w)
        |SELECT d.lang, max(kp.n_l) AS n_total, round(max(kp.keep_p), 6) AS keep_p,
        | count(*) AS n_kept, CAST(sum(d.doc_id) AS BIGINT) AS id_sum
        |FROM documents d JOIN kp ON d.lang = kp.lang
        |WHERE CAST(('0x' || substring(md5(coalesce(CAST(d.doc_id AS VARCHAR), '__graft_null_key__')), 1, 8)) AS BIGINT) % 10000
        |      < round(kp.keep_p * 10000)
        |GROUP BY d.lang
        |ORDER BY d.lang""".stripMargin,
    // q117: the bitmap sketch is exact, so the sharded rollup must equal
    // a plain distinct re-scan; n_shards = distinct (event_type, day)
    // groups. q118 (HLL) has no SQL oracle — estimate is engine-specific.
    "q117_bitmap_distinct" ->
      """SELECT event_type,
        | count(DISTINCT CAST(ts AS DATE)) AS n_shards,
        | count(DISTINCT user_id) AS distinct_users
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // q118: banded oracle — DuckDB restates the EXACT side (shard count,
    // exact distinct); within_2pct is the engine-side verdict that the
    // HLL rollup estimate landed inside the lgK=12 band, asserted TRUE
    "q118_hll_rollup" ->
      """SELECT event_type,
        | count(DISTINCT CAST(ts AS DATE)) AS n_shards,
        | count(DISTINCT user_id) AS exact_distinct,
        | TRUE AS within_2pct
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // q120: banded oracle — DuckDB restates the exact rank-order
    // statistics at the sketch's own rank convention (rank =
    // floor(q*(n-1)+0.5), row 1-based); the within_alpha verdicts are
    // the engine-side DDSketch α-guarantee, asserted TRUE
    "q120_quantile_sketch" ->
      """WITH v AS (
        | SELECT event_type, value AS v FROM events
        | WHERE value IS NOT NULL AND NOT isnan(value)),
        |r AS (
        | SELECT event_type, v,
        |  row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n
        | FROM v),
        |t AS (
        | SELECT event_type,
        |  max(CASE WHEN rn = CAST(floor(0.5 * (n - 1) + 0.5) AS BIGINT) + 1 THEN v END) AS e50,
        |  max(CASE WHEN rn = CAST(floor(0.95 * (n - 1) + 0.5) AS BIGINT) + 1 THEN v END) AS e95,
        |  max(CASE WHEN rn = CAST(floor(0.99 * (n - 1) + 0.5) AS BIGINT) + 1 THEN v END) AS e99
        | FROM r GROUP BY 1),
        |s AS (SELECT event_type, count(DISTINCT CAST(ts AS DATE)) AS n_shards
        |      FROM events GROUP BY 1)
        |SELECT event_type, n_shards,
        | round(e50, 6) AS exact_p50, round(e95, 6) AS exact_p95,
        | round(e99, 6) AS exact_p99,
        | TRUE AS p50_within_alpha, TRUE AS p95_within_alpha,
        | TRUE AS p99_within_alpha
        |FROM t JOIN s USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // q125: identical bin arithmetic (floor((v-lo)/((hi-lo)/10)) clamped
    // to [0,9], baseline bounds), full-outer bin alignment, eps floor
    // 1e-6, natural logs
    "q125_drift_psi" ->
      """WITH b AS (
        | SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
        | WHERE ts < TIMESTAMP '2024-01-15'),
        |c AS (
        | SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
        | WHERE ts >= TIMESTAMP '2024-01-15'),
        |bounds AS (SELECT event_type, min(v) AS lo, max(v) AS hi FROM b GROUP BY 1),
        |bb AS (
        | SELECT b.event_type,
        |  CASE WHEN hi = lo THEN 0
        |       ELSE least(9, greatest(0, CAST(floor((v - lo) / ((hi - lo) / 10)) AS INT))) END AS bin,
        |  count(*) AS nb
        | FROM b JOIN bounds USING (event_type) GROUP BY 1, 2),
        |cc AS (
        | SELECT c.event_type,
        |  CASE WHEN hi = lo THEN 0
        |       ELSE least(9, greatest(0, CAST(floor((v - lo) / ((hi - lo) / 10)) AS INT))) END AS bin,
        |  count(*) AS nc
        | FROM c JOIN bounds USING (event_type) GROUP BY 1, 2),
        |al AS (
        | SELECT coalesce(bb.event_type, cc.event_type) AS event_type,
        |  coalesce(bb.bin, cc.bin) AS bin,
        |  coalesce(nb, 0) AS nb, coalesce(nc, 0) AS nc
        | FROM bb FULL JOIN cc ON bb.event_type = cc.event_type AND bb.bin = cc.bin),
        |tot AS (SELECT event_type, sum(nb) AS tb, sum(nc) AS tc FROM al GROUP BY 1),
        |fr AS (
        | SELECT al.event_type, bin,
        |  greatest(CAST(nb AS DOUBLE) / tb, 1e-6) AS ef,
        |  greatest(CAST(nc AS DOUBLE) / tc, 1e-6) AS af
        | FROM al JOIN tot USING (event_type))
        |SELECT event_type, count(*) AS n_bins,
        | round(sum((af - ef) * ln(af / ef)), 6) AS psi,
        | round(sum(af * ln(af / ef)), 6) AS kl
        |FROM fr GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // q128: banded oracle — DuckDB restates q125's exact fixed-width
    // PSI arithmetic verbatim; within_band / verdict_agree are the
    // engine-side verdicts comparing the sketch PSI against it (band
    // 0.25; shared 0.25 major-drift threshold), asserted TRUE
    "q128_sketch_drift" ->
      """WITH b AS (
        | SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
        | WHERE ts < TIMESTAMP '2024-01-15'),
        |c AS (
        | SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
        | WHERE ts >= TIMESTAMP '2024-01-15'),
        |bounds AS (SELECT event_type, min(v) AS lo, max(v) AS hi FROM b GROUP BY 1),
        |bb AS (
        | SELECT b.event_type,
        |  CASE WHEN hi = lo THEN 0
        |       ELSE least(9, greatest(0, CAST(floor((v - lo) / ((hi - lo) / 10)) AS INT))) END AS bin,
        |  count(*) AS nb
        | FROM b JOIN bounds USING (event_type) GROUP BY 1, 2),
        |cc AS (
        | SELECT c.event_type,
        |  CASE WHEN hi = lo THEN 0
        |       ELSE least(9, greatest(0, CAST(floor((v - lo) / ((hi - lo) / 10)) AS INT))) END AS bin,
        |  count(*) AS nc
        | FROM c JOIN bounds USING (event_type) GROUP BY 1, 2),
        |al AS (
        | SELECT coalesce(bb.event_type, cc.event_type) AS event_type,
        |  coalesce(bb.bin, cc.bin) AS bin,
        |  coalesce(nb, 0) AS nb, coalesce(nc, 0) AS nc
        | FROM bb FULL JOIN cc ON bb.event_type = cc.event_type AND bb.bin = cc.bin),
        |tot AS (SELECT event_type, sum(nb) AS tb, sum(nc) AS tc FROM al GROUP BY 1),
        |fr AS (
        | SELECT al.event_type, bin,
        |  greatest(CAST(nb AS DOUBLE) / tb, 1e-6) AS ef,
        |  greatest(CAST(nc AS DOUBLE) / tc, 1e-6) AS af
        | FROM al JOIN tot USING (event_type))
        |SELECT event_type,
        | round(sum((af - ef) * ln(af / ef)), 6) AS psi_exact,
        | TRUE AS within_band, TRUE AS verdict_agree
        |FROM fr GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // q130: the whole DSIR pipeline replayed — filter-first single-space
    // tokens, unigrams + adjacent bigrams, md5-prefix bucket (q25
    // convention) mod 1024, Laplace α = 1 models, per-doc log-ratio sum
    "q130_dsir_weights" ->
      """WITH tok AS (
        | SELECT doc_id, lang,
        |  list_filter(string_split(lower(trim(text)), ' '), t -> t <> '') AS tk
        | FROM documents),
        |g0 AS (
        | SELECT doc_id, lang, unnest(tk) AS g FROM tok
        | UNION ALL
        | SELECT doc_id, lang, tk[j] || ' ' || tk[j+1] AS g
        | FROM (SELECT doc_id, lang, tk,
        |        unnest(generate_series(1, len(tk) - 1)) AS j FROM tok) x),
        |gb AS (
        | SELECT doc_id, lang,
        |  CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT) % 1024 AS b
        | FROM g0),
        |db AS (SELECT doc_id, b, count(*) AS c FROM gb GROUP BY 1, 2),
        |tc AS (SELECT b, count(*) AS ct FROM gb WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT b, count(*) AS cr FROM gb GROUP BY 1),
        |tt AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM gb WHERE lang = 'en'),
        |tr AS (SELECT CAST(count(*) AS DOUBLE) AS nr FROM gb)
        |SELECT db.doc_id,
        | CAST(sum(db.c) AS BIGINT) AS n_grams,
        | round(sum(db.c * (ln((coalesce(tc.ct, 0) + 1.0) / (tt.nt + 1024.0))
        |                 - ln((rc.cr + 1.0) / (tr.nr + 1024.0)))), 6) AS weight
        |FROM db
        |LEFT JOIN tc USING (b)
        |JOIN rc USING (b), tt, tr
        |GROUP BY db.doc_id
        |ORDER BY doc_id""".stripMargin,
    // q131: the KMV estimator replayed exactly — 60-bit md5-prefix
    // hashes, k-smallest per (event_type, half), θ = u(256th) when
    // full else 1, cardinality n-or-255/θ, set ops at θ = min over the
    // strict θ-cut samples. Deterministic hash ⇒ exact match.
    "q131_kmv_retention" ->
      """WITH h AS (
        | SELECT DISTINCT event_type, (ts < TIMESTAMP '2024-01-15') AS p1,
        |  CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        | FROM events WHERE user_id IS NOT NULL),
        |r AS (
        | SELECT event_type, p1, hv,
        |  row_number() OVER (PARTITION BY event_type, p1 ORDER BY hv) AS rn,
        |  count(*) OVER (PARTITION BY event_type, p1) AS n
        | FROM h),
        |kept AS (SELECT * FROM r WHERE rn <= 256),
        |half AS (
        | SELECT event_type, p1, max(n) AS n,
        |  CASE WHEN max(n) >= 256
        |       THEN max(CASE WHEN rn = 256 THEN hv END) / 1152921504606846976.0
        |       ELSE 1.0 END AS theta
        | FROM kept GROUP BY 1, 2),
        |est AS (
        | SELECT event_type, p1,
        |  CASE WHEN n < 256 THEN CAST(n AS DOUBLE) ELSE 255.0 / theta END AS card
        | FROM half),
        |t2 AS (
        | SELECT event_type,
        |  least(coalesce(max(CASE WHEN p1 THEN theta END), 1.0),
        |        coalesce(max(CASE WHEN NOT p1 THEN theta END), 1.0)) AS theta
        | FROM half GROUP BY 1),
        |sa AS (SELECT k.event_type, k.hv FROM kept k JOIN t2 USING (event_type)
        |       WHERE k.p1 AND k.hv / 1152921504606846976.0 < t2.theta),
        |sb AS (SELECT k.event_type, k.hv FROM kept k JOIN t2 USING (event_type)
        |       WHERE NOT k.p1 AND k.hv / 1152921504606846976.0 < t2.theta),
        |ii AS (SELECT sa.event_type, count(*) AS ni
        |       FROM sa JOIN sb USING (event_type, hv) GROUP BY 1),
        |uu AS (SELECT event_type, count(DISTINCT hv) AS nu
        |       FROM (SELECT * FROM sa UNION ALL SELECT * FROM sb) u GROUP BY 1)
        |SELECT t2.event_type,
        | round(coalesce(ea.card, 0.0), 6) AS est_p1,
        | round(coalesce(eb.card, 0.0), 6) AS est_p2,
        | round(coalesce(ii.ni, 0) / t2.theta, 6) AS est_retained,
        | round(coalesce(uu.nu, 0) / t2.theta, 6) AS est_either
        |FROM t2
        |LEFT JOIN est ea ON ea.event_type = t2.event_type AND ea.p1
        |LEFT JOIN est eb ON eb.event_type = t2.event_type AND NOT eb.p1
        |LEFT JOIN ii ON ii.event_type = t2.event_type
        |LEFT JOIN uu ON uu.event_type = t2.event_type
        |ORDER BY t2.event_type""".stripMargin,
    // q133: every CMS cell rebuilt in SQL — row-i bucket of token t is
    // md5(i || ':' || t) first-8-hex mod 2048; cell totals sum the full
    // vocabulary's counts; the estimate is the min over the 4 rows
    "q133_cms_freq" ->
      """WITH toks AS (
        | SELECT unnest(list_filter(string_split(lower(trim(text)), ' '),
        |         t -> t <> '')) AS token
        | FROM documents),
        |cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS exact
        |        FROM toks GROUP BY 1),
        |top AS (SELECT token, exact FROM cnt ORDER BY exact DESC, token LIMIT 30),
        |cell AS (
        | SELECT r.i,
        |  CAST(('0x' || substring(md5(CAST(r.i AS VARCHAR) || ':' || cnt.token), 1, 8))
        |   AS BIGINT) % 2048 AS b,
        |  CAST(sum(cnt.exact) AS BIGINT) AS total
        | FROM cnt, generate_series(0, 3) r(i)
        | GROUP BY 1, 2),
        |probe AS (
        | SELECT t.token, t.exact, r.i,
        |  CAST(('0x' || substring(md5(CAST(r.i AS VARCHAR) || ':' || t.token), 1, 8))
        |   AS BIGINT) % 2048 AS b
        | FROM top t, generate_series(0, 3) r(i))
        |SELECT p.token, p.exact, min(c.total) AS cms_est
        |FROM probe p JOIN cell c ON c.i = p.i AND c.b = p.b
        |GROUP BY 1, 2
        |ORDER BY exact DESC, token""".stripMargin,
    // q135: the same md5 permutation as a window — hex strings compare
    // identically (ASCII) in both engines; doc_id breaks (never-seen)
    // md5 ties
    "q135_corpus_shuffle" ->
      """SELECT doc_id,
        | row_number() OVER (ORDER BY md5('ep0:' || CAST(doc_id AS VARCHAR)), doc_id)
        |  - 1 AS position
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // q138: the bottom-k pick replayed — distinct stringified keys
    // ranked by (60-bit md5-prefix hash, key), first 5 per group
    "q138_group_sample" ->
      """WITH u AS (
        | SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS us
        | FROM events WHERE user_id IS NOT NULL),
        |rk AS (
        | SELECT event_type, us,
        |  row_number() OVER (PARTITION BY event_type
        |   ORDER BY CAST(('0x' || substring(md5(us), 1, 15)) AS BIGINT), us) AS rn
        | FROM u)
        |SELECT event_type, CAST(rn - 1 AS BIGINT) AS pos, us AS user_id_str
        |FROM rk WHERE rn <= 5
        |ORDER BY event_type, pos""".stripMargin,
    // q162: the integer mixture plan (desired = ppm*total div 1e6,
    // base = desired div n, threshold = rem*1e4 div n) and the per-row
    // hash spread restated verbatim
    "q162_mixture_rebalance" ->
      """WITH tgt(dom, ppm) AS (VALUES
        |  ('en', 400000), ('zh', 250000), ('de', 150000),
        |  ('fr', 120000), ('es', 80000)),
        |c AS (SELECT lang, count(*) AS n_d FROM documents GROUP BY lang),
        |g AS (SELECT count(*) AS total FROM documents),
        |plan AS (
        | SELECT lang, (ppm * total) // 1000000 AS desired, n_d
        | FROM c JOIN tgt ON c.lang = tgt.dom CROSS JOIN g),
        |p2 AS (SELECT lang, desired // n_d AS copies_base,
        |        ((desired % n_d) * 10000) // n_d AS extra_thr FROM plan)
        |SELECT d.doc_id, d.lang,
        | copies_base + CASE WHEN
        |   CAST(('0x' || substring(md5(d.lang || ':' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
        |   < extra_thr THEN 1 ELSE 0 END AS n_copies
        |FROM documents d JOIN p2 ON d.lang = p2.lang
        |ORDER BY d.doc_id""".stripMargin,
    "q178_mutual_info" ->
      """WITH cells AS (
        | SELECT o_orderpriority AS x, o_orderstatus AS y, count(*) AS nxy
        | FROM orders GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM cells GROUP BY 1),
        |my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM cells)
        |SELECT max(tot.n) AS n, count(*) AS n_cells,
        | round(sum((nxy / tot.n) * ln((nxy * tot.n) / (nx * ny))), 6) AS mi
        |FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot""".stripMargin,
    "q179_benford_audit" ->
      """WITH d AS (
        | SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        | FROM orders WHERE o_totalprice >= 1),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT digit, n,
        | round(n / total, 6) AS observed_p,
        | round(log10(1 + 1.0 / digit), 6) AS expected_p,
        | round(pow(n / total - log10(1 + 1.0 / digit), 2) / log10(1 + 1.0 / digit) * total, 6) AS chi2_term
        |FROM c CROSS JOIN t ORDER BY digit""".stripMargin,
    "q181_chao1" ->
      """WITH tf AS (
        | SELECT tok AS token, count(*) AS freq
        | FROM (SELECT unnest(list_filter(string_split(lower(trim(text)), ' '),
        |                     t -> t <> '')) AS tok FROM documents)
        | GROUP BY 1)
        |SELECT CAST(sum(freq) AS BIGINT) AS n_tokens, count(*) AS vocab,
        | CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        | CAST(sum(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        | round(count(*) +
        |  (sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) * (sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) - 1))
        |   / (2.0 * (sum(CASE WHEN freq = 2 THEN 1 ELSE 0 END) + 1)), 6) AS chao1
        |FROM tf""".stripMargin,
    "q182_zipf_slope" ->
      """WITH tf AS (
        | SELECT tok AS token, count(*) AS freq
        | FROM (SELECT unnest(list_filter(string_split(lower(trim(text)), ' '),
        |                     t -> t <> '')) AS tok FROM documents)
        | GROUP BY 1),
        |top AS (SELECT token, freq FROM tf ORDER BY freq DESC, token ASC LIMIT 100),
        |r AS (SELECT ln(row_number() OVER (ORDER BY freq DESC, token ASC)) AS x,
        |             ln(freq) AS y FROM top),
        |s AS (SELECT count(*) AS n_ranks, sum(x) AS sx, sum(y) AS sy,
        |             sum(x * y) AS sxy, sum(x * x) AS sxx FROM r)
        |SELECT n_ranks,
        | round((n_ranks * sxy - sx * sy) / (n_ranks * sxx - sx * sx), 6) AS slope,
        | round((sy - ((n_ranks * sxy - sx * sy) / (n_ranks * sxx - sx * sx)) * sx)
        |       / n_ranks, 6) AS intercept
        |FROM s""".stripMargin,
    "q183_gini_sources" ->
      """WITH sz AS (SELECT source, count(*) AS x FROM documents GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x ASC, source ASC) AS i FROM sz),
        |s AS (SELECT count(*) AS n_groups, CAST(sum(x) AS BIGINT) AS total,
        |             CAST(sum(i * x) AS BIGINT) AS ix FROM r)
        |SELECT n_groups, total,
        | round(2.0 * ix / (n_groups * total)
        |       - (n_groups + 1) / CAST(n_groups AS DOUBLE), 6) AS gini
        |FROM s""".stripMargin,
    // q184: the md5 CDF-ladder Poisson draws replayed verbatim —
    // weights, exact integer replicate sums, both percentiles
    "q184_bootstrap_ci" ->
      """WITH o AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |reps AS (SELECT b FROM generate_series(1, 200) t(b)),
        |w AS (SELECT cents, b,
        |  (CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST((b - 1) // 4 AS VARCHAR)),
        |                           1 + 8 * ((b - 1) % 4), 8)) AS BIGINT) + 0.5)
        |    / 4294967296.0 AS u
        | FROM o CROSS JOIN reps),
        |wt AS (SELECT b, cents,
        |  CASE WHEN u < 0.36787944117144233 THEN 0
        |       WHEN u < 0.7357588823428847 THEN 1
        |       WHEN u < 0.9196986029286058 THEN 2
        |       WHEN u < 0.9810118431238462 THEN 3
        |       WHEN u < 0.9963401531726563 THEN 4
        |       WHEN u < 0.9994058151824183 THEN 5
        |       WHEN u < 0.9999167588507119 THEN 6
        |       ELSE 7 END AS wgt
        | FROM w),
        |m AS (SELECT b, sum(wgt * cents) * 1.0 / sum(wgt) AS mean_b
        |      FROM wt GROUP BY 1),
        |p AS (SELECT count(*) AS n_replicates,
        |             quantile_cont(mean_b, 0.025) AS lo,
        |             quantile_cont(mean_b, 0.975) AS hi FROM m),
        |pt AS (SELECT count(*) AS n, avg(cents) AS pm FROM o)
        |SELECT n, round(pm / 100.0, 6) AS point_mean, n_replicates,
        | round(lo / 100.0, 6) AS ci_lo, round(hi / 100.0, 6) AS ci_hi
        |FROM p CROSS JOIN pt""".stripMargin,
    "q185_cohens_kappa" ->
      """WITH l AS (SELECT o_orderstatus AS a,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'O' ELSE o_orderstatus END AS b
        | FROM orders),
        |cells AS (SELECT a, b, count(*) AS nab FROM l GROUP BY 1, 2),
        |ma AS (SELECT a, CAST(sum(nab) AS BIGINT) AS na FROM cells GROUP BY 1),
        |mb AS (SELECT b, CAST(sum(nab) AS BIGINT) AS nb FROM cells GROUP BY 1),
        |ag AS (SELECT CAST(sum(nab) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN a = b THEN nab ELSE 0 END) AS BIGINT) AS agree
        | FROM cells),
        |pe AS (SELECT CAST(sum(na * nb) AS BIGINT) AS ee
        |       FROM ma JOIN mb ON ma.a = mb.b)
        |SELECT n, round(agree * 1.0 / n, 6) AS po,
        | round(ee * 1.0 / (n * n), 6) AS pe,
        | round((agree * 1.0 / n - ee * 1.0 / (n * n))
        |       / (1 - ee * 1.0 / (n * n)), 6) AS kappa
        |FROM ag CROSS JOIN pe""".stripMargin,
    // q186: the A-Res order statistic replayed — md5 uniform, ln(u)/w
    // key quantized to 10 dp, top-50, ties by id
    "q186_weighted_topk" ->
      """SELECT doc_id, lang, n_chars FROM (
        | SELECT doc_id, lang, n_chars,
        |  round(ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
        |           / 4294967296.0) / n_chars, 10) AS k
        | FROM documents WHERE n_chars > 0
        | ORDER BY k DESC, doc_id ASC LIMIT 50)
        |ORDER BY doc_id""".stripMargin,
    // q213: ROUGE-1 of both systems replayed (system B = candidate minus
    // its last token), then the q184 md5 CDF-ladder Poisson draws on the
    // per-pair micro delta, both percentiles, and the win fraction
    "q213_paired_bootstrap" ->
      """WITH d AS (
        | SELECT doc_id, source,
        |  list_filter(string_split(lower(trim(text)), ' '), t -> t <> '') AS toks
        | FROM documents),
        |p AS (
        | SELECT doc_id AS cand_id, toks AS ct, lead(toks) OVER w AS rt
        | FROM d WINDOW w AS (PARTITION BY source ORDER BY doc_id)),
        |pp AS (SELECT cand_id, ct, list_slice(ct, 1, greatest(len(ct) - 1, 0)) AS cb, rt
        |       FROM p WHERE rt IS NOT NULL),
        |rg AS (SELECT cand_id, g, count(*) AS rc
        |       FROM (SELECT cand_id, unnest(rt) AS g FROM pp) GROUP BY 1, 2),
        |ca AS (SELECT cand_id, g, count(*) AS cc
        |       FROM (SELECT cand_id, unnest(ct) AS g FROM pp) GROUP BY 1, 2),
        |cbg AS (SELECT cand_id, g, count(*) AS cc
        |        FROM (SELECT cand_id, unnest(cb) AS g FROM pp) GROUP BY 1, 2),
        |clA AS (SELECT cand_id, COALESCE(sum(least(cc, COALESCE(rc, 0))), 0) AS clipped
        |        FROM ca LEFT JOIN rg USING (cand_id, g) GROUP BY 1),
        |clB AS (SELECT cand_id, COALESCE(sum(least(cc, COALESCE(rc, 0))), 0) AS clipped
        |        FROM cbg LEFT JOIN rg USING (cand_id, g) GROUP BY 1),
        |f1s AS (
        | SELECT pp.cand_id,
        |  CASE WHEN len(pp.ct) = 0 THEN 0.0
        |       ELSE COALESCE(clA.clipped, 0) * 1.0 / len(pp.ct) END AS pa,
        |  CASE WHEN len(pp.rt) = 0 THEN 0.0
        |       ELSE COALESCE(clA.clipped, 0) * 1.0 / len(pp.rt) END AS ra,
        |  CASE WHEN len(pp.cb) = 0 THEN 0.0
        |       ELSE COALESCE(clB.clipped, 0) * 1.0 / len(pp.cb) END AS pb,
        |  CASE WHEN len(pp.rt) = 0 THEN 0.0
        |       ELSE COALESCE(clB.clipped, 0) * 1.0 / len(pp.rt) END AS rb
        | FROM pp LEFT JOIN clA USING (cand_id) LEFT JOIN clB USING (cand_id)),
        |sc AS (
        | SELECT cand_id,
        |  CAST(round(round(CASE WHEN pa + ra = 0 THEN 0.0
        |    ELSE 2.0 * pa * ra / (pa + ra) END, 6) * 1000000) AS BIGINT) AS a_micro,
        |  CAST(round(round(CASE WHEN pb + rb = 0 THEN 0.0
        |    ELSE 2.0 * pb * rb / (pb + rb) END, 6) * 1000000) AS BIGINT) AS b_micro
        | FROM f1s),
        |scd AS (SELECT cand_id, a_micro, b_micro, a_micro - b_micro AS dd FROM sc),
        |reps AS (SELECT b FROM generate_series(1, 200) t(b)),
        |w AS (SELECT dd, b,
        |  (CAST(('0x' || substring(md5(CAST(cand_id AS VARCHAR) || '|' || CAST((b - 1) // 4 AS VARCHAR)),
        |                           1 + 8 * ((b - 1) % 4), 8)) AS BIGINT) + 0.5)
        |    / 4294967296.0 AS u
        | FROM scd CROSS JOIN reps),
        |wt AS (SELECT b, dd,
        |  CASE WHEN u < 0.36787944117144233 THEN 0
        |       WHEN u < 0.7357588823428847 THEN 1
        |       WHEN u < 0.9196986029286058 THEN 2
        |       WHEN u < 0.9810118431238462 THEN 3
        |       WHEN u < 0.9963401531726563 THEN 4
        |       WHEN u < 0.9994058151824183 THEN 5
        |       WHEN u < 0.9999167588507119 THEN 6
        |       ELSE 7 END AS wgt
        | FROM w),
        |m AS (SELECT b, sum(wgt * dd) * 1.0 / sum(wgt) AS mean_b
        |      FROM wt GROUP BY 1),
        |pb AS (SELECT count(*) AS n_replicates,
        |             quantile_cont(mean_b, 0.025) AS lo,
        |             quantile_cont(mean_b, 0.975) AS hi,
        |             avg(CASE WHEN mean_b > 0 THEN 1.0 ELSE 0.0 END) AS fab
        |       FROM m),
        |pt AS (SELECT count(*) AS n, avg(a_micro) AS ma, avg(b_micro) AS mb,
        |              avg(dd) AS md FROM scd)
        |SELECT n, round(ma / 1000000.0, 6) AS mean_a,
        | round(mb / 1000000.0, 6) AS mean_b,
        | round(md / 1000000.0, 6) AS delta, n_replicates,
        | round(lo / 1000000.0, 6) AS ci_lo, round(hi / 1000000.0, 6) AS ci_hi,
        | round(fab, 6) AS frac_a_better
        |FROM pb CROSS JOIN pt""".stripMargin,
    // the exact LPT placement sequence, replayed: shard = argmin of the
    // four running loads (ties to the lowest index), stepped per source
    // in (n_tokens DESC, doc_id ASC) rank order
    "q221_lpt_shards" -> {
      val pick =
        """CASE WHEN st.l0 <= st.l1 AND st.l0 <= st.l2 AND st.l0 <= st.l3 THEN 0
          |     WHEN st.l1 <= st.l2 AND st.l1 <= st.l3 THEN 1
          |     WHEN st.l2 <= st.l3 THEN 2 ELSE 3 END""".stripMargin
      def load(i: Int) =
        s"st.l$i + CASE WHEN ($pick) = $i THEN d.n_tokens ELSE 0 END"
      s"""WITH RECURSIVE docs AS (
        | SELECT source, doc_id,
        |  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY len(string_split(trim(text), ' ')) DESC, doc_id) AS rn
        | FROM documents),
        |st AS (
        | SELECT source, CAST(0 AS BIGINT) AS rn,
        |  CAST(0 AS BIGINT) AS l0, CAST(0 AS BIGINT) AS l1,
        |  CAST(0 AS BIGINT) AS l2, CAST(0 AS BIGINT) AS l3,
        |  CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_tokens,
        |  CAST(NULL AS BIGINT) AS shard
        | FROM (SELECT DISTINCT source FROM docs) g
        | UNION ALL
        | SELECT d.source, d.rn,
        |  ${load(0)}, ${load(1)}, ${load(2)}, ${load(3)},
        |  d.doc_id, d.n_tokens, CAST(($pick) AS BIGINT)
        | FROM st JOIN docs d ON d.source = st.source AND d.rn = st.rn + 1)
        |SELECT s.source AS "group", s.doc_id AS id, s.n_tokens, s.shard
        |FROM st s WHERE s.doc_id IS NOT NULL
        |ORDER BY id""".stripMargin
    },
    // q30's hit CTE + confidence/argmax arithmetic, binned; ECE = the
    // n-weighted mean absolute (accuracy - confidence) gap over the bins
    "q222_calibration_ece" ->
      s"""WITH $langCalibrationCtes,
        |tot AS (SELECT sum(abs(accuracy - avg_conf) * n) / sum(n) AS ece FROM bb)
        |SELECT bin, n, round(avg_conf, 6) AS avg_conf,
        | round(accuracy, 6) AS accuracy,
        | round(abs(accuracy - avg_conf), 6) AS gap, round(ece, 6) AS ece
        |FROM bb, tot
        |ORDER BY bin""".stripMargin,
    // q223/q224: the rank-sum ROC AUC (tie pairs at ½) and step-wise
    // average precision restated from the same distinct-score
    // contingency + window prefix sums; q224 is the identical algebra
    // partitioned by source
    "q223_binary_eval" -> aucOracle(None),
    "q224_auc_by_source" -> aucOracle(Some("source")),
    // q225: fractional ranks from the per-group distinct-value
    // contingency (count-smaller + (ties+1)/2) joined back, then plain
    // corr on ranks — the q82 corr-parity precedent at 6 dp
    "q225_spearman" ->
      """WITH r0 AS (
        | SELECT event_type, CAST(value AS DOUBLE) AS x,
        |  CAST(epoch_ns(ts) AS DOUBLE) AS y
        | FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |gx AS (SELECT event_type, x, count(*)::BIGINT AS c FROM r0 GROUP BY 1, 2),
        |rx AS (SELECT event_type, x,
        |  COALESCE(sum(c) OVER (PARTITION BY event_type ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |  + CAST(c + 1 AS DOUBLE) / 2 AS rkx FROM gx),
        |gy AS (SELECT event_type, y, count(*)::BIGINT AS c FROM r0 GROUP BY 1, 2),
        |ry AS (SELECT event_type, y,
        |  COALESCE(sum(c) OVER (PARTITION BY event_type ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |  + CAST(c + 1 AS DOUBLE) / 2 AS rky FROM gy),
        |j AS (SELECT r0.event_type, rx.rkx, ry.rky
        |      FROM r0
        |      JOIN rx ON r0.event_type = rx.event_type AND r0.x = rx.x
        |      JOIN ry ON r0.event_type = ry.event_type AND r0.y = ry.y)
        |SELECT event_type, count(*)::BIGINT AS n,
        | round(corr(rkx, rky), 6) AS rho
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // q226: pairwise outcomes from the same lead window, then the 5 MM
    // iterations unrolled as chained CTEs (btIterationCtes) — rank on
    // the ROUNDED strength so a last-ulp engine difference cannot flip
    "q226_bradley_terry" ->
      s"""WITH ev AS (
        | SELECT user_id, event_type, value,
        |  lead(event_type) OVER win AS nt, lead(value) OVER win AS nv
        | FROM events
        | WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |pf AS (
        | SELECT CASE WHEN value > nv THEN event_type ELSE nt END AS w,
        |        CASE WHEN value > nv THEN nt ELSE event_type END AS l
        | FROM ev
        | WHERE nt IS NOT NULL AND value <> nv AND event_type <> nt),
        |pairs AS MATERIALIZED (
        | SELECT w, l, count(*)::BIGINT AS n FROM pf GROUP BY 1, 2),
        |sym AS MATERIALIZED (SELECT i, j, sum(n)::BIGINT AS nij FROM (
        |   SELECT w AS i, l AS j, n FROM pairs
        |   UNION ALL SELECT l AS i, w AS j, n FROM pairs) u
        |  GROUP BY 1, 2),
        |wins AS MATERIALIZED (
        | SELECT w AS i, sum(n)::BIGINT AS wins FROM pairs GROUP BY 1),
        |items AS MATERIALIZED (SELECT DISTINCT i FROM sym),
        |w0 AS MATERIALIZED (
        | SELECT i, 1.0 / (SELECT count(*) FROM items) AS s FROM items),
        |${btIterationCtes(5)},
        |nc AS (SELECT i, sum(nij)::BIGINT AS n_comparisons FROM sym GROUP BY 1),
        |f AS (
        | SELECT items.i AS item, COALESCE(wins.wins, 0)::BIGINT AS n_wins,
        |  nc.n_comparisons, round(w5.s, 6) AS strength
        | FROM items
        | LEFT JOIN wins ON items.i = wins.i
        | JOIN nc ON items.i = nc.i
        | JOIN w5 ON items.i = w5.i)
        |SELECT item, n_wins, n_comparisons, strength,
        | row_number() OVER (ORDER BY strength DESC, item)::BIGINT AS rank
        |FROM f
        |ORDER BY rank""".stripMargin,
    // q227: the q222 bins + the PAV minimax closed form — pooled range
    // means from prefix sums, min over j >= k, max over i <= k; exact
    // bounded-bin arithmetic, identical float fold order both engines
    "q227_isotonic_fit" ->
      s"""WITH $langCalibrationCtes,
        |pre AS (SELECT bin, n, avg_conf, accuracy,
        |  sum(n) OVER (ORDER BY bin) AS cw,
        |  sum(accuracy * n) OVER (ORDER BY bin) AS cs FROM bb),
        |rg AS (SELECT a.bin AS i, b.bin AS j,
        |  (b.cs - (a.cs - a.accuracy * a.n)) / (b.cw - (a.cw - a.n)) AS m
        |  FROM pre a JOIN pre b ON a.bin <= b.bin),
        |mn AS (SELECT k.bin, rg.i, min(rg.m) AS mn FROM bb k
        |  JOIN rg ON rg.i <= k.bin AND rg.j >= k.bin GROUP BY 1, 2),
        |fit AS (SELECT bin, max(mn) AS iso_fit FROM mn GROUP BY 1)
        |SELECT bb.bin, bb.n, round(bb.avg_conf, 6) AS avg_conf,
        | round(bb.accuracy, 6) AS accuracy, round(fit.iso_fit, 6) AS iso_fit
        |FROM bb JOIN fit ON bb.bin = fit.bin
        |ORDER BY bb.bin""".stripMargin,
    // q228: features restated with the q217 tokenization pairing, then
    // the 5 GD steps unrolled (gradient avg from the previous weights,
    // z folded left-associatively exactly as the engine builds it)
    "q228_logreg_gd" ->
      s"""WITH ${logregFeatureCte("CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END",
          "lang IS NOT NULL AND n_chars IS NOT NULL")},
        |wt0 AS (SELECT 0.0 AS b, 0.0 AS c0, 0.0 AS c1, 0.0 AS c2),
        |${gdIterationCtes(5)},
        |mt AS MATERIALIZED (
        | SELECT count(*)::BIGINT AS n,
        |  avg(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1.0 ELSE 0.0 END) AS acc,
        |  avg(-(y * ln(greatest(least(p, 1.0 - 1e-15), 1e-15))
        |    + (1.0 - y) * ln(1.0 - greatest(least(p, 1.0 - 1e-15), 1e-15)))) AS loss
        | FROM (SELECT ft.y,
        |    1.0 / (1.0 + exp(-(wt5.b + ft.x0 * wt5.c0 + ft.x1 * wt5.c1 + ft.x2 * wt5.c2))) AS p
        |   FROM ft, wt5) t)
        |SELECT t.term_idx, t.term, round(t.w, 6) AS weight, mt.n,
        | round(mt.acc, 6) AS accuracy, round(mt.loss, 6) AS log_loss
        |FROM (
        | SELECT 0::BIGINT AS term_idx, 'bias' AS term, (SELECT b FROM wt5) AS w
        | UNION ALL SELECT 1::BIGINT, 'len_k', (SELECT c0 FROM wt5)
        | UNION ALL SELECT 2::BIGINT, 'stop_frac', (SELECT c1 FROM wt5)
        | UNION ALL SELECT 3::BIGINT, 'tok_len', (SELECT c2 FROM wt5)) t, mt
        |ORDER BY t.term_idx""".stripMargin,
    // q229: the waterfilling closed form restated — row_number over
    // (cap, source), prefix sums, m* by the max-m condition, τ from
    // (budget − P_m*)/(k − m*), allocation = min(cap, τ)
    "q229_unimax_mix" ->
      """WITH dt AS (
        | SELECT source,
        |  CAST(len(list_filter(string_split(lower(trim(text)), ' '), t -> t <> '')) AS BIGINT) AS ntok
        | FROM documents),
        |c AS (SELECT source, count(*)::BIGINT AS n_docs,
        |       CAST(sum(ntok) AS DOUBLE) AS tokens FROM dt GROUP BY 1),
        |b AS (SELECT 2.0 * sum(tokens) AS budget FROM c),
        |o AS (SELECT c.*, tokens * 4.0 AS cap,
        |       CAST(row_number() OVER (ORDER BY tokens * 4.0, source) AS BIGINT) AS i
        |      FROM c),
        |p AS (SELECT o.*, sum(cap) OVER (ORDER BY i) AS P,
        |       (SELECT count(*) FROM o) AS k FROM o),
        |m AS (SELECT coalesce(max(CASE WHEN cap * (k - i) + P <= (SELECT budget FROM b)
        |                               THEN i END), 0) AS m FROM p),
        |sel AS (SELECT m.m,
        |        coalesce((SELECT P FROM p WHERE p.i = m.m), 0.0) AS pm FROM m),
        |f AS (SELECT p.*, sel.m, sel.pm,
        |       ((SELECT budget FROM b) - sel.pm)
        |         / nullif(CAST(k - sel.m AS DOUBLE), 0.0) AS tau
        |      FROM p, sel),
        |a AS (SELECT f.*, CASE WHEN m = k THEN cap ELSE least(cap, tau) END AS alloc
        |      FROM f)
        |SELECT source, n_docs, tokens,
        | round(alloc, 6) AS alloc_tokens,
        | round(alloc / nullif(tokens, 0.0), 6) AS epochs,
        | round(alloc / (SELECT budget FROM b), 6) AS share
        |FROM a ORDER BY source""".stripMargin,
    // q230: expected counts from the marginals over the FULL r×c grid
    // (zero-observed cells included via the null-safe left join)
    "q230_chi_square" ->
      """WITH cells AS (
        | SELECT source AS a, lang AS b, count(*)::BIGINT AS o
        | FROM documents GROUP BY 1, 2),
        |ma AS (SELECT a, sum(o)::BIGINT AS na FROM cells GROUP BY 1),
        |mb AS (SELECT b, sum(o)::BIGINT AS nb FROM cells GROUP BY 1),
        |tt AS (SELECT (SELECT sum(o)::BIGINT FROM cells) AS n,
        |  (SELECT count(*)::BIGINT FROM ma) AS r,
        |  (SELECT count(*)::BIGINT FROM mb) AS c),
        |grid AS (SELECT ma.na, mb.nb, cells.o
        | FROM ma CROSS JOIN mb
        | LEFT JOIN cells ON cells.a IS NOT DISTINCT FROM ma.a
        |                AND cells.b IS NOT DISTINCT FROM mb.b),
        |ch AS (SELECT sum(
        |   (coalesce(o, 0) - CAST(na AS DOUBLE) * nb / (SELECT n FROM tt))
        |   * (coalesce(o, 0) - CAST(na AS DOUBLE) * nb / (SELECT n FROM tt))
        |   / (CAST(na AS DOUBLE) * nb / (SELECT n FROM tt))) AS chi2 FROM grid)
        |SELECT tt.n, tt.r, tt.c, (tt.r - 1) * (tt.c - 1) AS dof,
        | round(ch.chi2, 6) AS chi2,
        | round(sqrt(ch.chi2 / (tt.n * nullif(least(tt.r - 1, tt.c - 1), 0))), 6)
        |   AS cramers_v
        |FROM tt, ch""".stripMargin,
    // q231: the q223 rank algebra extended with the Σ(t³−t) tie term;
    // z from the tie-corrected variance, NULL on a one-sided input
    "q231_mann_whitney" ->
      """WITH g AS (
        | SELECT CAST(n_chars AS DOUBLE) AS s,
        |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS p,
        |  sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS n
        | FROM documents
        | WHERE n_chars IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
        |c AS (
        | SELECT p, n,
        |  COALESCE(sum(n) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn,
        |  sum(p) OVER () AS bigp, sum(n) OVER () AS bign
        | FROM g),
        |agg AS (
        | SELECT max(bigp)::BIGINT AS n_pos, max(bign)::BIGINT AS n_neg,
        |  sum(CAST(p AS DOUBLE) * cn) AS w, sum(CAST(p AS DOUBLE) * n) AS t,
        |  sum(CAST(p + n AS DOUBLE) * (p + n) * (p + n)
        |      - CAST(p + n AS DOUBLE)) AS ties
        | FROM c)
        |SELECT n_pos, n_neg,
        | round(CASE WHEN n_pos > 0 AND n_neg > 0 THEN w + t / 2 END, 6) AS u,
        | round(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |   ((w + t / 2) - CAST(n_pos AS DOUBLE) * n_neg / 2)
        |   / nullif(sqrt(CAST(n_pos AS DOUBLE) * n_neg / 12
        |       * ((CAST(n_pos AS DOUBLE) + n_neg + 1)
        |          - ties / ((CAST(n_pos AS DOUBLE) + n_neg)
        |                    * (CAST(n_pos AS DOUBLE) + n_neg - 1)))), 0.0)
        |  END, 6) AS z
        |FROM agg""".stripMargin,
    // q232: inclusive class CDFs from the same prefix sums; D = max
    // gap, scaled by sqrt(n1*n2/(n1+n2))
    "q232_ks_test" ->
      """WITH g AS (
        | SELECT CAST(n_chars AS DOUBLE) AS s,
        |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS p,
        |  sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS n
        | FROM documents
        | WHERE n_chars IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
        |c AS (
        | SELECT p, n,
        |  COALESCE(sum(p) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp,
        |  COALESCE(sum(n) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn,
        |  sum(p) OVER () AS bigp, sum(n) OVER () AS bign
        | FROM g),
        |agg AS (
        | SELECT max(bigp)::BIGINT AS n_pos, max(bign)::BIGINT AS n_neg,
        |  max(abs(CAST(cp + p AS DOUBLE) / bigp
        |          - CAST(cn + n AS DOUBLE) / bign)) AS d
        | FROM c)
        |SELECT n_pos, n_neg,
        | round(CASE WHEN n_pos > 0 AND n_neg > 0 THEN d END, 6) AS d,
        | round(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |   sqrt(CAST(n_pos AS DOUBLE) * n_neg
        |        / (CAST(n_pos AS DOUBLE) + n_neg)) * d END, 6) AS ks_stat
        |FROM agg""".stripMargin,
    // q233: the full train→score→audit chain — q228's GD CTEs, scoring
    // with the 6-dp-ROUNDED trained weights (the cross-engine drift
    // cut), then q222's binning/ECE and q223's AUC algebra over the
    // trained confidences
    "q233_train_eval" ->
      s"""WITH ${logregFeatureCte("CASE WHEN n_chars > 300 THEN 1.0 ELSE 0.0 END",
          "n_chars IS NOT NULL")},
        |wt0 AS (SELECT 0.0 AS b, 0.0 AS c0, 0.0 AS c1, 0.0 AS c2),
        |${gdIterationCtes(50, learningRate = "3.0")},
        |wr AS (SELECT round(b, 6) AS b, round(c0, 6) AS c0,
        |        round(c1, 6) AS c1, round(c2, 6) AS c2 FROM wt50),
        |sc AS MATERIALIZED (
        | SELECT 1.0 / (1.0 + exp(-(wr.b + ft.x0 * wr.c0
        |    + ft.x1 * wr.c1 + ft.x2 * wr.c2))) AS conf, ft.y
        | FROM ft, wr),
        |bb AS (
        | SELECT CAST(least(greatest(floor(conf * 10), 0), 9) AS BIGINT) AS bin,
        |  count(*)::BIGINT AS n, avg(conf) AS avg_conf,
        |  avg(CASE WHEN y = 1.0 THEN 1.0 ELSE 0.0 END) AS accuracy
        | FROM sc GROUP BY 1),
        |tot AS (SELECT sum(abs(accuracy - avg_conf) * n) / sum(n) AS ece FROM bb),
        |g AS (
        | SELECT conf AS s,
        |  sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)::BIGINT AS p,
        |  sum(CASE WHEN y = 1.0 THEN 0 ELSE 1 END)::BIGINT AS n
        | FROM sc GROUP BY 1),
        |cc AS (
        | SELECT p, n,
        |  COALESCE(sum(p) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp,
        |  COALESCE(sum(n) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn,
        |  sum(p) OVER () AS bigp, sum(n) OVER () AS bign
        | FROM g),
        |auc AS (
        | SELECT
        |  round(CASE WHEN max(bigp) > 0 AND max(bign) > 0 THEN
        |    (sum(CAST(p AS DOUBLE) * cn) + sum(CAST(p AS DOUBLE) * n) / 2)
        |     / (CAST(max(bigp) AS DOUBLE) * max(bign)) END, 6) AS roc_auc,
        |  round(CASE WHEN max(bigp) > 0 THEN
        |    sum((CAST(p AS DOUBLE) / bigp)
        |      * (CAST(bigp - cp AS DOUBLE) / ((bigp - cp) + (bign - cn)))) END, 6)
        |    AS pr_auc
        | FROM cc)
        |SELECT bb.bin, bb.n, round(bb.avg_conf, 6) AS avg_conf,
        | round(bb.accuracy, 6) AS accuracy, round(tot.ece, 6) AS ece,
        | auc.roc_auc, auc.pr_auc
        |FROM bb, tot, auc
        |ORDER BY bb.bin""".stripMargin,
    // q235: the pooled-SE two-proportion z restated scalar-for-scalar
    "q235_two_proportion" ->
      """WITH c AS (
        | SELECT (doc_id % 2 = 0) AS g, count(*)::BIGINT AS n,
        |  sum(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END) AS k
        | FROM documents
        | WHERE doc_id IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
        |a AS (
        | SELECT sum(CASE WHEN g THEN n END)::BIGINT AS n1,
        |  sum(CASE WHEN NOT g THEN n END)::BIGINT AS n2,
        |  sum(CASE WHEN g THEN k END) AS k1,
        |  sum(CASE WHEN NOT g THEN k END) AS k2
        | FROM c)
        |SELECT n1, n2,
        | round(CASE WHEN n1 > 0 THEN k1 / CAST(n1 AS DOUBLE) END, 6) AS p1,
        | round(CASE WHEN n2 > 0 THEN k2 / CAST(n2 AS DOUBLE) END, 6) AS p2,
        | round(CASE WHEN n1 > 0 AND n2 > 0 THEN
        |   (k1 / CAST(n1 AS DOUBLE) - k2 / CAST(n2 AS DOUBLE))
        |   / nullif(sqrt((k1 + k2) / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
        |       * (1.0 - (k1 + k2) / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
        |       * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 0.0)
        |  END, 6) AS z
        |FROM a""".stripMargin,
    // q236: fixed-grid binning with tail clamp, +0.5 Laplace smoothing
    // on the densified grid, PSI = Σ (p−q)·ln(p/q)
    "q236_psi" ->
      """WITH e AS (
        | SELECT (ts < TIMESTAMP '2024-01-15') AS g, CAST(value AS DOUBLE) AS s
        | FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |cells AS (
        | SELECT CAST(least(greatest(floor((s - 0.0) / 500.0 * 10), 0.0), 9.0) AS BIGINT) AS bin,
        |  sum(CASE WHEN g THEN 1 ELSE 0 END)::BIGINT AS ne,
        |  sum(CASE WHEN NOT g THEN 1 ELSE 0 END)::BIGINT AS na
        | FROM e GROUP BY 1),
        |grid AS (SELECT unnest(range(0, 10)) AS bin),
        |f AS (SELECT grid.bin, coalesce(ne, 0) AS ne, coalesce(na, 0) AS na
        |      FROM grid LEFT JOIN cells ON grid.bin = cells.bin),
        |tt AS (SELECT sum(ne) AS te, sum(na) AS ta FROM f),
        |sc AS (SELECT bin, ne, na,
        |  (CAST(ne AS DOUBLE) + 0.5) / (te + 0.5 * 10) AS p,
        |  (CAST(na AS DOUBLE) + 0.5) / (ta + 0.5 * 10) AS q
        | FROM f, tt),
        |ps AS (SELECT sum((p - q) * ln(p / q)) AS psi FROM sc)
        |SELECT bin, ne AS n_expected, na AS n_actual,
        | round(p, 6) AS p_expected, round(q, 6) AS q_actual,
        | round((p - q) * ln(p / q), 6) AS contrib, round(ps.psi, 6) AS psi
        |FROM sc, ps ORDER BY bin""".stripMargin,
    // q237: the q184 block-md5 Poisson draws feeding the weighted
    // rank-sum AUC per replicate, quantile_cont percentile CI + the
    // q223 point algebra
    "q237_auc_ci" ->
      """WITH r AS (
        | SELECT CAST(doc_id AS VARCHAR) AS id, CAST(n_chars AS DOUBLE) AS s,
        |  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        | FROM documents
        | WHERE n_chars IS NOT NULL AND lang IS NOT NULL AND doc_id IS NOT NULL),
        |reps AS (SELECT b FROM generate_series(1, 100) t(b)),
        |w AS (SELECT id, s, y, b,
        |  (CAST(('0x' || substring(md5(id || '|' || CAST((b - 1) // 4 AS VARCHAR)),
        |                           1 + 8 * ((b - 1) % 4), 8)) AS BIGINT) + 0.5)
        |    / 4294967296.0 AS u
        | FROM r CROSS JOIN reps),
        |wt AS (SELECT b, s, y,
        |  CASE WHEN u < 0.36787944117144233 THEN 0
        |       WHEN u < 0.7357588823428847 THEN 1
        |       WHEN u < 0.9196986029286058 THEN 2
        |       WHEN u < 0.9810118431238462 THEN 3
        |       WHEN u < 0.9963401531726563 THEN 4
        |       WHEN u < 0.9994058151824183 THEN 5
        |       WHEN u < 0.9999167588507119 THEN 6
        |       ELSE 7 END AS wgt
        | FROM w),
        |g AS (SELECT b, s, sum(wgt * y) AS p, sum(wgt * (1.0 - y)) AS n
        |      FROM wt GROUP BY 1, 2),
        |c AS (SELECT b, p, n,
        |  COALESCE(sum(n) OVER (PARTITION BY b ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cn
        | FROM g),
        |a AS (SELECT b, sum(p) AS bp, sum(n) AS bn,
        |       sum(p * cn) AS u_, sum(p * n) AS t_ FROM c GROUP BY 1),
        |aucs AS (SELECT CASE WHEN bp > 0 AND bn > 0
        |   THEN (u_ + t_ / 2) / (bp * bn) END AS auc FROM a),
        |ci AS (SELECT count(auc)::BIGINT AS n_replicates,
        |        round(quantile_cont(auc, 0.025), 6) AS ci_lo,
        |        round(quantile_cont(auc, 0.975), 6) AS ci_hi FROM aucs),
        |gg AS (
        | SELECT s, sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)::BIGINT AS p,
        |  sum(CASE WHEN y = 1.0 THEN 0 ELSE 1 END)::BIGINT AS n
        | FROM r GROUP BY 1),
        |cc AS (
        | SELECT p, n,
        |  COALESCE(sum(n) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn,
        |  sum(p) OVER () AS bigp, sum(n) OVER () AS bign
        | FROM gg),
        |pt AS (
        | SELECT max(bigp)::BIGINT AS n_pos, max(bign)::BIGINT AS n_neg,
        |  round(CASE WHEN max(bigp) > 0 AND max(bign) > 0 THEN
        |    (sum(CAST(p AS DOUBLE) * cn) + sum(CAST(p AS DOUBLE) * n) / 2)
        |     / (CAST(max(bigp) AS DOUBLE) * max(bign)) END, 6) AS roc_auc
        | FROM cc)
        |SELECT pt.n_pos, pt.n_neg, pt.roc_auc,
        | ci.n_replicates, ci.ci_lo, ci.ci_hi
        |FROM pt, ci""".stripMargin)
}
