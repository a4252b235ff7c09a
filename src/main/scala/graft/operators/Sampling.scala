package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, reproducible sampling and dataset splitting for
  * training-data pipelines. No reference implementation (SURVEY.md §7.4
  * category — LLM-pipeline operator); semantics from standard practice:
  * split membership must be a PURE FUNCTION of a stable row key, never of
  * RNG state, partitioning, or row order — so the same document lands in
  * the same split on every run, on any cluster, at any parallelism, and
  * train/test contamination can be audited after the fact.
  *
  * The key is bucketed by md5 (not xxhash64) so the assignment is
  * portable across engines — any system with md5 can recompute the split
  * (the DuckDB oracle does exactly that). md5's cost is irrelevant here:
  * one hash per row, map-side, no shuffle anywhere in this file.
  */
object Sampling {

  val NumBuckets = 10000

  /** Stand-in hashed for NULL keys. Without it, md5(null) = null and a
    * null-keyed row silently vanishes from hashSample / gets a null
    * split label — silent data loss in a training pipeline, and a
    * divergence from any oracle whose CASE ladder has an ELSE arm. With
    * it, null keys land deterministically in one bucket (portable: any
    * engine recomputes `md5(coalesce(cast(key as string), marker))`).
    * Distinct from the empty string so `null` and `""` keys don't
    * collide.
    */
  val NullKeyMarker = "__graft_null_key__"

  /** Stable bucket in [0, NumBuckets) for a key column: the first 8 hex
    * chars of md5(key as string), mod buckets; null keys hash the
    * [[NullKeyMarker]]. Map-side expression.
    */
  def hashBucket(key: Column, buckets: Int = NumBuckets): Column =
    conv(substring(md5(coalesce(key.cast("string"), lit(NullKeyMarker))), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Deterministic fraction-`p` sample: keeps rows whose bucket falls in
    * the first p·NumBuckets buckets. Resolution 1/NumBuckets.
    */
  def hashSample(df: DataFrame, keyCol: String, p: Double): DataFrame = {
    require(p >= 0 && p <= 1, s"fraction must be in [0,1], got $p")
    df.filter(hashBucket(col(keyCol)) < math.round(p * NumBuckets))
  }

  /** Split assignment column: named splits with weights (normalized to 1)
    * mapped to contiguous bucket ranges in the given order. Every row gets
    * exactly one label — ranges partition [0, NumBuckets).
    */
  def splitLabel(key: Column, weights: Seq[(String, Double)]): Column = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "weights must be positive")
    val total = weights.map(_._2).sum
    val bounds = weights.map(_._2 / total).scanLeft(0.0)(_ + _)
      .map(f => math.round(f * NumBuckets))
    val b = hashBucket(key)
    weights.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, ((name, _), i)) =>
        when(b >= bounds(i) && b < bounds(i + 1), lit(name)).otherwise(acc)
    }
  }

  /** df + a `split` column (train/val/test style). Pure map-side. */
  def split(df: DataFrame, keyCol: String, weights: Seq[(String, Double)]): DataFrame =
    df.withColumn("split", splitLabel(col(keyCol), weights))

  /** Leakage-safe split: like [[split]], but near-duplicate documents
    * NEVER straddle a split boundary — a plain per-doc hash split puts
    * one member of a near-dup cluster in train and another in test,
    * and the model is then evaluated on (a trivial perturbation of)
    * its own training data. The standard fix (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", §6
    * discusses exactly this train/test leakage) is to assign splits by
    * CLUSTER: every doc hashes its cluster representative, so the
    * whole near-dup class lands together by construction.
    *
    * `clusters` is the [[graft.operators.Dedup.dedupClustersClassed]]
    * shape — `(keep_id, member_ids)`, multi-member clusters only; docs
    * absent from any cluster are their own representative. Output: df
    * + `rep_id` + `split`.
    *
    * Scale shape: membership explodes to one row per DUPLICATE (far
    * smaller than the corpus), the left join shuffles on the id (or
    * broadcasts when the dup set is small — AQE's call), and the
    * label is the same map-side [[splitLabel]] expression over
    * `rep_id`. The leakage guarantee is structural: the label depends
    * only on the representative, which is constant across a cluster.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, clusters: DataFrame,
                       weights: Seq[(String, Double)]): DataFrame = {
    val membership = clusters.select(col("keep_id").as("__rep"),
      explode(col("member_ids")).as(idCol))
    df.join(membership, Seq(idCol), "left")
      .withColumn("rep_id", coalesce(col("__rep"), col(idCol)))
      .withColumn("split", splitLabel(col("rep_id"), weights))
      .drop("__rep")
  }

  /** Explicit-weight domain mixture (the Pile/LLaMA training-mixture
    * shape: each domain gets a TARGET share of the output, stated in
    * ppm, not derived from its natural frequency the way
    * [[temperatureRebalance]]'s α-power is). Under-represented domains
    * UPSAMPLE — every row gets an integer `n_copies` (epochs over that
    * domain), over-represented domains downsample (`n_copies` ∈ {0,1})
    * — the trainer materializes `n_copies` repetitions.
    *
    * Per domain d with natural count n_d and output budget
    * `totalRows` (defaults to the corpus size — a pure re-mix):
    * desired_d = ppm_d·total/1e6, every row gets
    * `desired_d div n_d` copies, and the remainder
    * `desired_d mod n_d` is spread by a deterministic per-row hash
    * threshold (expected-exact, row-level deterministic — the same
    * contract as every hash-membership sampler here; an exactly-`rem`
    * pick would need a per-domain global rank, a sort the 100 TB
    * pipeline shouldn't pay for a ±√n counting error). Domains absent
    * from `targetsPpm` are dropped — an explicit mixture is a
    * whitelist. All arithmetic is integer, so an oracle restates it
    * verbatim.
    *
    * Scale shape: one map-side-combined count per domain, a broadcast
    * plan join back onto the corpus, and a map-side hash per row. The
    * corpus shuffles zero times.
    */
  def mixtureRebalance(df: DataFrame, idCol: String, domainCol: String,
                       targetsPpm: Seq[(String, Long)],
                       totalRows: Option[Long] = None): DataFrame = {
    require(targetsPpm.nonEmpty && targetsPpm.forall(_._2 > 0),
      "target ppm weights must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val targets = targetsPpm.toDF("__dom", "__ppm")
    val counts = df.groupBy(col(domainCol).as("__dom"))
      .agg(count(lit(1)).as("__n"))
    val grand = totalRows match {
      case Some(n) => df.sparkSession.range(1).select(lit(n).as("__total"))
      case None => df.agg(count(lit(1)).as("__total"))
    }
    val plan = counts.join(targets, "__dom")
      .crossJoin(broadcast(grand))
      .withColumn("__desired", expr("__ppm * __total div 1000000"))
      .select(col("__dom").as(domainCol),
        expr("__desired div __n").as("__base"),
        expr("((__desired % __n) * 10000) div __n").as("__thr"))
    df.join(broadcast(plan), Seq(domainCol))
      .withColumn("n_copies", col("__base") +
        when(hashBucket(concat(col(domainCol), lit(":"), col(idCol).cast("string")))
          < col("__thr"), lit(1L)).otherwise(lit(0L)))
      .drop("__base", "__thr")
  }

  /** Stratified deterministic sample: fraction `p` within every value of
    * `strataCol`, by hashing (stratum, key) together so per-stratum
    * selections are independent. Still a pure map-side filter.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                       p: Double): DataFrame = {
    require(p >= 0 && p <= 1, s"fraction must be in [0,1], got $p")
    // explicit coalesce per part: concat_ws SKIPS nulls, which would
    // conflate (stratum=null, key=x) with (stratum absent, key=x)
    val b = hashBucket(concat_ws("|",
      coalesce(col(strataCol).cast("string"), lit(NullKeyMarker)),
      coalesce(col(keyCol).cast("string"), lit(NullKeyMarker))))
    df.filter(b < math.round(p * NumBuckets))
  }

  /** Deterministic WEIGHTED sample: keep a row with probability equal to
    * its `weight` column (clamped to [0,1]) — quality-weighted corpus
    * downsampling, where a high-quality document is more likely to
    * survive than boilerplate. Same determinism contract as the other
    * samplers: membership is a pure function of (key, weight), so reruns
    * and different partitionings keep exactly the same rows, and any
    * engine with md5 can recompute the decision (the q70 oracle does).
    * Pure map-side filter; resolution 1/NumBuckets.
    */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column): DataFrame = {
    val p = least(greatest(weight.cast("double"), lit(0.0)), lit(1.0))
    df.filter(hashBucket(col(keyCol)) < round(p * NumBuckets))
  }

  /** Per-group cap: keep at most `n` rows per value of `groupCol`, chosen
    * deterministically by md5(key) order (ties broken by the key) — the
    * corpus-curation primitive behind "at most N documents per domain/
    * source" rebalancing. A fixed-SIZE per-stratum sample, where
    * [[stratifiedSample]] is the fixed-FRACTION one; both are pure
    * functions of the data, independent of partitioning and run order.
    *
    * One hash shuffle on `groupCol` + a per-group window sort. At 100 TB
    * the sort cost is bounded per group, and a skewed group is one
    * partition's problem — for pathological groups (billions of rows vs
    * n in the hundreds) pre-thin with `hashSample(n·fudge/|group|)`
    * first; the final window keeps the result exact regardless.
    */
  /** Exact stratified split: within every stratum, rows rank by
    * md5(key) (deterministic "random" order, same convention as
    * [[splitLabel]]) and the split boundaries sit at
    * floor(cumulative-fraction · stratum-size) — so each stratum's
    * split proportions are EXACT (±1 row), where the per-row hash
    * split's proportions are only binomial-expected. The difference
    * matters for small or skewed strata: a 10-doc language keeps 8/1/1,
    * never 10/0/0.
    *
    * Cost: one shuffle on the stratum (rank + size share one window
    * partitioning). A stratum's rows serialize through its partition —
    * strata are assumed many/bounded (languages, sources); for a
    * heavy-stratum corpus fall back to the per-row [[splitLabel]].
    */
  def stratifiedSplit(df: DataFrame, keyCol: String, strataCol: String,
                      weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty && math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got $weights")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    val wc = Window.partitionBy(col(strataCol))
    val ranked = df
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wc))
    val cum = weights.map(_._2).scanLeft(0.0)(_ + _).tail
    val label = weights.zip(cum).init
      .foldRight(lit(weights.last._1): Column) { case (((name, _), cumF), rest) =>
        when(col("__rk") <= floor(lit(cumF) * col("__n")).cast("long"), lit(name))
          .otherwise(rest)
      }
    ranked.withColumn("split", label).drop("__rk", "__n")
  }

  /** Temperature-based source rebalancing: keep probability per group
    * follows the temperature-scaled multinomial `p_g ∝ (n_g / N)^alpha`
    * (the multilingual-pretraining sampling scheme — alpha < 1 upsamples
    * rare languages/sources relative to their natural share, alpha = 1
    * is proportional, alpha = 0 uniform across groups), scaled so the
    * EXPECTED total kept is `targetRows` and clamped at 1 (a group too
    * small to fill its allocation keeps everything — the remainder is
    * under-target rather than stolen from other groups). Membership is
    * the same md5-bucket pure function as every sampler here, with the
    * threshold quantized to 1/NumBuckets so cross-engine 1-ulp drift in
    * the weight arithmetic cannot flip a row.
    *
    * Appends `keep_p` (the group's keep probability) and `group_rows`
    * (its pre-sample size) for auditability.
    *
    * Scale shape: one hash aggregate to group sizes (|groups| rows), two
    * 1-row reductions over that table, a broadcast join back, and a
    * map-side filter — the corpus moves zero times beyond its scan.
    */
  def temperatureRebalance(df: DataFrame, keyCol: String, groupCol: String,
                           alpha: Double, targetRows: Long): DataFrame = {
    require(alpha >= 0, s"alpha must be non-negative, got $alpha")
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    val g = df.groupBy(col(groupCol)).agg(count(lit(1)).as("group_rows"))
    val tot = g.agg(sum(col("group_rows")).as("__n"))
    val w = g.crossJoin(broadcast(tot))
      .withColumn("__pw", pow(col("group_rows") / col("__n"), lit(alpha)))
    val z = w.agg(sum(col("__pw")).as("__z"))
    val kp = w.crossJoin(broadcast(z))
      .withColumn("keep_p", least(lit(1.0),
        lit(targetRows.toDouble) * (col("__pw") / col("__z")) / col("group_rows")))
      .select(col(groupCol), col("group_rows"), col("keep_p"))
    // null-safe join: a null group counts in the normalizer like any
    // other, so it must also receive its allocation — the equi join
    // would silently drop every null-group row AND leave the expected
    // total under target (hashBucket already handles null keys)
    GroupOps.nullSafeBroadcastJoin(df, kp, Seq(groupCol), how = "inner")
      .filter(hashBucket(col(keyCol)) < round(col("keep_p") * NumBuckets))
  }

  /** UniMax token-budget allocation (Chung et al. ICLR '23): spread a
    * total training-token budget over sources as equally as possible
    * without repeating any source more than `maxEpochs` times — the
    * fairer alternative to temperature sampling ([[temperatureRebalance]])
    * for low-resource groups. The allocation is the waterfilling
    * solution alloc_s = min(cap_s, τ) with cap_s = tokens_s·maxEpochs
    * and τ the level where Σ alloc = budget (everything capped when
    * Σ cap ≤ budget), computed in CLOSED FORM — sort sources by cap,
    * prefix-sum, m* = max { m : cap_m·(k−m) + P_m ≤ budget },
    * τ = (budget − P_{m*})/(k − m*) — no iteration, arithmetic an
    * external engine restates verbatim.
    *
    * `counts` is the per-source aggregate (the caller's ONE
    * corpus-sized pass); everything here is source-count-sized, so the
    * global windows ride the bounded-dim convention
    * ([[graft.operators.GroupOps.rowNumberId]]). Output: (source,
    * n_docs, tokens, alloc_tokens, epochs, share); a zero-token source
    * reports NULL epochs (undefined), not 0.
    */
  def unimaxAllocation(counts: DataFrame, sourceCol: String, docsCol: String,
                       tokensCol: String, budget: Double,
                       maxEpochs: Double): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(maxEpochs > 0, s"maxEpochs must be positive, got $maxEpochs")
    val base = counts.select(col(sourceCol).as("source"),
        col(docsCol).cast("long").as("n_docs"),
        col(tokensCol).cast("double").as("tokens"))
      .withColumn("cap", col("tokens") * lit(maxEpochs))
    val ord = base.withColumn("i",
      row_number().over(Windows.boundedGlobal(col("cap"), col("source"))).cast("long"))
    val pre = ord
      .withColumn("P", sum(col("cap")).over(Windows.boundedGlobal(col("i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(ord.agg(count(lit(1)).as("k"))))
      .persist()
    graft.Caches.track(pre)
    val m = pre.agg(coalesce(max(when(
      col("cap") * (col("k") - col("i")) + col("P") <= budget,
      col("i"))), lit(0L)).as("m"))
    val sel = m
      .join(broadcast(pre.select(col("i"), col("P").as("Pm"))),
        col("m") === col("i"), "left")
      .select(col("m"), coalesce(col("Pm"), lit(0.0)).as("Pm"))
    val tau = ((lit(budget) - col("Pm"))
      / nullif((col("k") - col("m")).cast("double"), lit(0.0)))
    val alloc = when(col("m") === col("k"), col("cap"))
      .otherwise(least(col("cap"), tau))
    pre.crossJoin(broadcast(sel))
      .select(col("source"), col("n_docs"), col("tokens"),
        round(alloc, 6).as("alloc_tokens"),
        round(alloc / nullif(col("tokens"), lit(0.0)), 6).as("epochs"),
        round(alloc / budget, 6).as("share"))
  }

  def capPerGroup(df: DataFrame, groupCol: String, keyCol: String, n: Int): DataFrame = {
    require(n > 0, s"cap must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    val ord = md5(coalesce(col(keyCol).cast("string"), lit(NullKeyMarker)))
    val w = Window.partitionBy(col(groupCol)).orderBy(ord, col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Exact-k weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis IPL '06, A-Res): every row draws a deterministic uniform
    * u from md5(key) and ranks by key = ln(u)/w — taking the TOP-k by
    * that key (least negative) samples k rows where inclusion
    * probability tracks the weights, with no replacement and no global
    * coordination (the reservoir form of the same order statistic).
    * [[weightedSample]] keeps a weighted FRACTION; this keeps an exact
    * COUNT — "pick exactly 1000 docs, quality-weighted".
    *
    * Rows with weight ≤ 0 or null never qualify. The rank key is
    * quantized to 10 dp (ties → key order) so a last-ulp ln/pow
    * divergence between engines can't reorder the boundary — the
    * inclusion-probability distortion of 1e-10-wide ties is nil.
    *
    * Scale: pure map-side key arithmetic + one TakeOrdered top-k —
    * the corpus never shuffles.
    */
  def weightedSampleExactK(df: DataFrame, keyCol: String, weight: Column,
                           k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (conv(substring(md5(coalesce(col(keyCol).cast("string"),
        lit(NullKeyMarker))), 1, 8), 16, 10).cast("double") + 0.5) /
      4294967296.0 // (hash+0.5)/2³² ∈ (0,1): never ln(0)
    val key = round(log(u) / weight.cast("double"), 10)
    df.filter(weight.cast("double") > 0)
      .withColumn("__es_key", key)
      .orderBy(col("__es_key").desc, col(keyCol).asc)
      .limit(k)
      .drop("__es_key")
  }
}
