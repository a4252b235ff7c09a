package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-sequence conversion funnel: how many users performed step 1,
  * then step 2 strictly later, then step 3 strictly later than that…
  * (signup→activation→purchase product analytics; also the shape of
  * "document passed stage k of a review pipeline" audits). The matching
  * is earliest-first greedy, which is optimal for chain containment (an
  * exchange argument: taking the earliest valid event never forecloses
  * a later step), so a user counts for stage k iff ANY chain of k
  * strictly-time-increasing events matches the step prefix.
  *
  * Plan shape: filter to the step types (pushed to the scan), ONE hash
  * shuffle on the user key, per-user sorted fold — no self-join per
  * step (the naive k-way join shuffles the event table k times and
  * explodes on users with many events). Per-user state is the sorted
  * step-event list, and the bound on it is ENFORCED: a user exceeding
  * `maxEventsPerUser` raises rather than silently ballooning executor
  * memory — cap the hot keys upstream with [[Sampling.capPerGroup]]
  * (or raise the limit deliberately) and rerun.
  */
object Funnel {

  /** One row per funnel stage: (step, step_name, n_users) where
    * `n_users` counts users whose greedy chain reached step ≥ `step`.
    *
    * `maxEventsPerUser` bounds the per-user collected state (the same
    * enforced-contract pattern as [[Chunking.spanDedup]]'s packed-key
    * guard): the default 1M step-events ≈ tens of MB per user, far past
    * any real funnel but well inside executor memory, so legitimate
    * corpora never trip it while a runaway bot key fails loudly instead
    * of OOM-ing an executor three stages later.
    */
  def conversionFunnel(events: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, steps: Seq[String],
                       maxEventsPerUser: Int = 1000000): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(maxEventsPerUser > 0, "maxEventsPerUser must be positive")
    val stepsArr = array(steps.map(lit): _*)
    val n = steps.length
    val perUser = events
      .filter(col(typeCol).isin(steps: _*))
      .select(col(userCol),
        struct(col(tsCol).as("ts"), col(typeCol).as("tp")).as("__e"))
      .groupBy(col(userCol))
      .agg(sort_array(collect_list(col("__e"))).as("__es"))
      // enforce the state bound where the state materializes: after the
      // aggregate (collect_list has no streaming cutoff, so the check
      // runs on the collected size — the list exists either way; the
      // guard converts "quiet OOM risk" into a named, actionable error)
      .withColumn("__es",
        when(size(col("__es")) > maxEventsPerUser,
          raise_error(concat(
            lit(s"conversionFunnel: user "), col(userCol).cast("string"),
            lit(s" has "), size(col("__es")).cast("string"),
            lit(s" step-events, over maxEventsPerUser=$maxEventsPerUser; " +
              "cap hot keys upstream (Sampling.capPerGroup) or raise the limit"))))
          .otherwise(col("__es")))
    // greedy fold over the time-sorted events: advance to stage s+1 on
    // the first event of type steps(s) STRICTLY after the stage-s match
    // (null `last` = no match yet = no time constraint for step 1)
    val reached = aggregate(
      col("__es"),
      struct(lit(0).as("st"), lit(null).cast(events.schema(tsCol).dataType).as("last")),
      (acc, e) => {
        val advance = acc.getField("st") < n &&
          e.getField("tp") === element_at(stepsArr, acc.getField("st") + 1) &&
          (acc.getField("st") === 0 || e.getField("ts") > acc.getField("last"))
        when(advance, struct((acc.getField("st") + 1).as("st"), e.getField("ts").as("last")))
          .otherwise(acc)
      },
      acc => acc.getField("st"))
    val counts = perUser.select(col(userCol), reached.as("__max_step"))
      .filter(col("__max_step") >= 1)
      .select(explode(sequence(lit(1), col("__max_step"))).as("step"))
      .groupBy(col("step"))
      .agg(count(lit(1)).as("n_users"))
    // every declared stage gets a row even at zero conversions (the
    // contract is one row PER STAGE; dropping empty stages silently
    // truncates the funnel exactly when the news is worst) — a spine of
    // the step list left-joins the counts, zero-filled
    val spine = events.sparkSession.range(1, n + 1)
      .select(col("id").cast("int").as("step"))
    spine.join(counts, Seq("step"), "left")
      .withColumn("n_users", coalesce(col("n_users"), lit(0L)))
      .withColumn("step_name", element_at(stepsArr, col("step")))
      .select(col("step"), col("step_name"), col("n_users"))
  }

  /** Per-user state audit for [[conversionFunnel]]: the distribution
    * of step-event list sizes the funnel will collect — ONE row with
    * user count, max, p99 and mean — so the `maxEventsPerUser` guard
    * is sized from MEASUREMENT, not hope. Same filter + user-key
    * aggregate shape as the funnel itself (map-side count partials, no
    * list materialization), so the audit is strictly cheaper than the
    * operator it audits; the bench path runs it per scale point and
    * logs the headroom.
    */
  def stateHighWater(events: DataFrame, userCol: String, typeCol: String,
                     steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    events.filter(col(typeCol).isin(steps: _*))
      .groupBy(col(userCol))
      .agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("n_users"),
        max(col("__n")).as("max_events_per_user"),
        percentile_approx(col("__n"), lit(0.99), lit(10000))
          .cast("double").as("p99_events_per_user"),
        avg(col("__n")).as("mean_events_per_user"))
  }

  /** First-order Markov transition matrix over per-key event sequences:
    * for every consecutive pair of events of the same key (ordered by
    * time, ties broken by `tieBreak`), count the `from_state →
    * to_state` transition and normalize to a probability within the
    * from-state (rows of the matrix sum to 1) — session-flow analytics,
    * next-event models, and anomaly baselines ("purchase → purchase is
    * 0.1% of transitions") all start here.
    *
    * Plan shape: ONE hash shuffle on the key for the `lead` window,
    * then a hash aggregate on (from, to) — partial map-side, final over
    * at most |states|² rows — and the row normalization as a window
    * over the from-state, which runs on those |states|² rows (a second
    * exchange of a matrix-sized table: free). The event table moves
    * once; there is no self-join on consecutive-ness.
    *
    * Null states are first-class: a null `stateCol` groups as its own
    * from-state (Spark groupBy keeps null keys), but a pair whose NEXT
    * state is null is dropped with the sequence-end rows (lead() cannot
    * distinguish "last event" from "next state null") — feed a sentinel
    * value instead of null if null-target transitions matter.
    */
  def transitionMatrix(events: DataFrame, keyCol: String, tsCol: String,
                       stateCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieBreak).asc)
    val counts = events
      .withColumn("__to", lead(col(stateCol), 1).over(w))
      .filter(col("__to").isNotNull)
      .groupBy(col(stateCol).as("from_state"), col("__to").as("to_state"))
      .agg(count(lit(1)).as("n_transitions"))
    val fromTotal = Window.partitionBy(col("from_state"))
    counts.withColumn("p",
      col("n_transitions") / sum(col("n_transitions")).over(fromTotal))
  }

  /** Conversion-lag distribution: for every user whose events contain a
    * strictly-time-increasing chain through `steps` (the
    * [[conversionFunnel]] greedy-earliest matching — t₁ = first step-1
    * event, tₖ = first step-k event after tₖ₋₁), the time from chain
    * start to completion, summarized as exact percentiles — the
    * "how long does signup→activation→purchase take" question that
    * turns a funnel COUNT into an SLA.
    *
    * The chain is computed as k sequential user-keyed min-aggregates
    * (filter to step k, join the previous frontier, keep events after
    * it, take the min) — one shuffle per step on the user key, no
    * k-way event self-join, and the frontier tables are
    * converter-sized, shrinking monotonically. Greedy-earliest is
    * optimal for chain containment (the [[conversionFunnel]] exchange
    * argument), so "converted" here agrees with the funnel's last
    * stage exactly.
    *
    * Output: one row — (n_converters, p50_us, p90_us, max_us), lags in
    * exact integer microseconds (`tsNanosCol` diffs are µs-precise by
    * the §8.2 events contract), percentiles exact-interpolated.
    */
  def conversionLag(events: DataFrame, userCol: String, tsNanosCol: String,
                    typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, s"need at least 2 steps, got ${steps.size}")
    val ev = events.select(col(userCol).as("__u"), col(typeCol).as("__t"),
      col(tsNanosCol).as("__ts"))
    val first = ev.filter(col("__t") === steps.head)
      .groupBy(col("__u")).agg(min(col("__ts")).as("__start"))
      .withColumn("__frontier", col("__start"))
    val last = steps.tail.foldLeft(first) { (prev, step) =>
      ev.filter(col("__t") === step)
        .join(prev, Seq("__u"))
        .filter(col("__ts") > col("__frontier"))
        .groupBy(col("__u"))
        .agg(min(col("__ts")).as("__next"), min(col("__start")).as("__start"))
        .withColumnRenamed("__next", "__frontier")
    }
    last
      .select(expr("(__frontier - __start) div 1000").as("__lag_us"))
      .agg(count(lit(1)).as("n_converters"),
        percentile(col("__lag_us"), lit(0.5)).as("p50_us"),
        percentile(col("__lag_us"), lit(0.9)).as("p90_us"),
        max(col("__lag_us")).as("max_us"))
  }

  /** Session-path mining: split each key's event stream into sessions
    * at inactivity gaps > `gapNanos` (the gaps-and-islands running-sum
    * construction, [[Intervals]]' precedent — lag flags a boundary, a
    * running sum numbers the island), render every session as its
    * ordered event-type path ("view>click>purchase"), and count
    * identical journeys corpus-wide — the whole-journey complement to
    * [[transitionMatrix]]'s single-step view (a Markov matrix cannot
    * distinguish view>click>view>click from view>view>click>click;
    * paths can).
    *
    * Determinism: events ordering ties break on `tieBreakCol`, and the
    * per-session path is assembled with
    * `array_sort(collect_list(struct(ts, tie, type)))` — no
    * order-dependent collect (the q116 line-reassembly pattern).
    *
    * Scale shape: one shuffle on the key for the two windows, then a
    * path-keyed hash aggregate with map-side combine (identical
    * journeys collapse per partition first); the top-k is a bounded
    * TakeOrdered, never a global sort. Per-session state is one path
    * string — sessions, not users, bound the row count.
    *
    * Output: (path, n_sessions) — `topK` most frequent, count
    * descending, path ascending on ties.
    */
  def sessionPaths(events: DataFrame, keyCol: String, tsNanosCol: String,
                   typeCol: String, tieBreakCol: String,
                   gapNanos: Long = 30L * 60 * 1000000000L,
                   topK: Int = 20): DataFrame = {
    require(gapNanos > 0, s"gapNanos must be positive, got $gapNanos")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsNanosCol).asc, col(tieBreakCol).asc)
    events
      .withColumn("__new", when(col(tsNanosCol) - lag(col(tsNanosCol), 1).over(w)
          > gapNanos, 1L).otherwise(lit(0L)))
      .withColumn("__sess", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("__sess"))
      .agg(array_sort(collect_list(struct(col(tsNanosCol).as("t"),
        col(tieBreakCol).as("b"), col(typeCol).as("s")))).as("__evs"))
      .select(concat_ws(">", transform(col("__evs"), e => e.getField("s"))).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(topK)
  }

  /** RFM feature table (Hughes '94, the classic customer-value
    * segmentation): per entity, Recency (days from last activity to
    * the anchor), Frequency (activity count), Monetary (exact integer
    * cents, surfaced in currency units) — plus 1–5 quintile scores per
    * dimension via FITTED equi-depth breakpoints
    * ([[Features.fitQuantileBins]]) applied map-side. A global ntile
    * would be the textbook formulation but is a single-partition
    * window over every entity — fitted breakpoints keep the scoring
    * shuffle-free at a billion entities (duplicate-heavy metrics make
    * bucket sizes uneven at the boundaries; that is standard for
    * quantile binning and deterministic). The anchor date is
    * caller-fixed, not `current_date` — reruns must not drift.
    *
    * Scale: one grouped aggregate to an entity-sized table; three
    * K-sized fits broadcast back.
    * Output: (idCol, recency_days, frequency, monetary, r_score,
    * f_score, m_score); r_score 5 = most recent.
    */
  def rfmTable(tx: DataFrame, idCol: String, dateCol: String,
               amountCol: String, anchorDate: String): DataFrame = {
    val base = tx.groupBy(col(idCol))
      .agg(
        datediff(lit(anchorDate).cast("date"), max(col(dateCol).cast("date")))
          .cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        (sum(round(col(amountCol) * 100).cast("long")) / 100.0).as("monetary"))
    // every score fits its breakpoints on `base`, not on the previous
    // score's output: scoring only adds columns, so the breakpoints are
    // the same, and each fit reads the input once instead of doubling
    // the plan's scans per score
    def score(d: DataFrame, metric: String, out: String, invert: Boolean) = {
      val binned = Features.applyQuantileBins(d, metric,
        Features.fitQuantileBins(base, metric, 5))
      val s = if (invert) lit(6) - col("bin") else col("bin")
      binned.withColumn(out, s.cast("long")).drop("bin")
    }
    val r = score(base, "recency_days", "r_score", invert = true)
    val f = score(r, "frequency", "f_score", invert = false)
    score(f, "monetary", "m_score", invert = false)
  }

  /** Two-proportion z-test gate for an A/B experiment: per unit (user),
    * exposure = any event at all, conversion = any `convType` event;
    * variants come from `variantCol` (caller-assigned — e.g. a
    * deterministic hash bucket). z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a+1/n_b))
    * with p̂ the pooled rate — the standard large-sample test (Casella &
    * Berger §8.3). Exactly two variants required.
    *
    * Scale: one user-level aggregate (corpus → distinct units), then a
    * 2-row variant aggregate pivoted driver-free into a single row of
    * arithmetic. Output: one row (n_a, n_b, conv_a, conv_b, p_a, p_b,
    * z, significant) — `significant` at the two-sided 5% level.
    */
  def abTestGate(events: DataFrame, unitCol: String, variantCol: String,
                 typeCol: String, convType: String): DataFrame = {
    val units = events
      .groupBy(col(unitCol), col(variantCol).as("__v"))
      .agg(max(when(col(typeCol) === convType, 1).otherwise(0)).as("__conv"))
    val byVariant = units.groupBy(col("__v"))
      .agg(count(lit(1)).as("__n"), sum(col("__conv")).as("__c"))
    val va = byVariant.agg(min(col("__v")).as("__va"))
    val wide = byVariant.crossJoin(broadcast(va)).agg(
      min(col("__va")).as("variant_a"),
      max(when(col("__v") =!= col("__va"), col("__v"))).as("variant_b"),
      count(lit(1)).as("__n_variants"),
      max(when(col("__v") === col("__va"), col("__n"))).as("n_a"),
      max(when(col("__v") =!= col("__va"), col("__n"))).as("n_b"),
      max(when(col("__v") === col("__va"), col("__c"))).as("conv_a"),
      max(when(col("__v") =!= col("__va"), col("__c"))).as("conv_b"))
    wide
      // exactly-two-variants contract, enforced in-plan: assert_true is
      // folded INTO variant_a (null on success) so column pruning can't
      // drop it — fails loudly at execution, no driver-side action
      .withColumn("variant_a",
        when(assert_true(col("__n_variants") === 2,
          lit("abTestGate requires exactly 2 variants")).isNull,
          col("variant_a")))
      .withColumn("p_a", col("conv_a") / col("n_a"))
      .withColumn("p_b", col("conv_b") / col("n_b"))
      .withColumn("__pool", (col("conv_a") + col("conv_b")) / (col("n_a") + col("n_b")))
      // degenerate pools (nobody / everybody converts) have zero pooled
      // variance — no test statistic exists; null z, not a 0/0 error
      .withColumn("z",
        when(col("__pool") > 0 && col("__pool") < 1,
          (col("p_a") - col("p_b")) /
            sqrt(col("__pool") * (lit(1) - col("__pool")) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))))
      .withColumn("significant", abs(col("z")) > 1.959963984540054)
      .select(col("variant_a"), col("variant_b"), col("n_a"), col("n_b"),
        col("conv_a"), col("conv_b"), col("p_a"), col("p_b"),
        col("z"), col("significant"))
  }
}
