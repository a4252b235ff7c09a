package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Explicit skew mitigation for equi-joins. First resorts at 100 TB, in
  * order: (1) broadcast the small side — no shuffle, no skew; (2) AQE's
  * skew-join split (`spark.sql.adaptive.skewJoin.*`) — runtime, free. This
  * operator is for the cases those can't reach: both sides too large to
  * broadcast AND the skew concentrated in keys AQE won't split further
  * (its splitting is bounded by partition-size thresholds), or engines/
  * paths where AQE doesn't apply (e.g. feeding a streaming join).
  *
  * Mechanism (the standard salting construction): every row of the LARGE
  * side gets a uniform salt in [0, S); the other side is replicated S
  * times with each salt value; the join key becomes (key, salt), so one
  * hot key's rows spread over S shuffle partitions instead of one. The
  * salt changes WHERE rows meet, never WHICH rows meet — output equals
  * the unsalted join exactly (the spec and q47's oracle assert this).
  * Cost: the replicated side shuffles S× its size — pick S ≈ the ratio
  * hottest-key-rows / average-partition-rows, not "big to be safe".
  */
object SkewJoins {

  /** Inner equi-join with the LEFT side salted and the RIGHT side
    * replicated `salt` times. `rand(seed)` keeps runs reproducible in
    * distribution; results are salt-independent by construction.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 salt: Int, seed: Long = 42L): DataFrame = {
    require(salt > 1, s"salt must be > 1 (got $salt); use a plain join otherwise")
    val l = left.withColumn("__salt", (rand(seed) * salt).cast("int"))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    l.join(r, keys :+ "__salt").drop("__salt")
  }

  /** [[saltedJoin]] that salts ONLY detected hot keys: a pre-pass samples
    * the left (large) side and any key whose estimated row count exceeds
    * `hotThreshold` is salted; the rest join plain (salt 0, replication
    * 1). This keeps the replication cost proportional to the number of
    * HOT keys instead of S× the whole right side — at 100 TB the
    * difference between "feasible mitigation" and "S× the shuffle".
    *
    * The hot-key set is collected to the driver and broadcast — bounded
    * by construction (keys above a count threshold are few; `maxHotKeys`
    * turns a mis-set threshold into an error instead of a driver OOM).
    * Sampling misses a hot key with probability ≤ exp(−fraction·rows_k)
    * (Chernoff): a key at 10× the threshold with fraction 0.01 and
    * threshold 10k is missed with p < 1e-400 — and a miss only costs the
    * skew, never correctness (unsalted keys take the plain path). The
    * salt changes WHERE rows meet, never WHICH rows meet: output equals
    * the plain join exactly (spec + q61 oracle assert this).
    */
  def hotKeySaltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                       salt: Int, hotThreshold: Long,
                       sampleFraction: Double = 0.01, seed: Long = 42L,
                       maxHotKeys: Int = 100000): DataFrame = {
    require(salt > 1, s"salt must be > 1 (got $salt); use a plain join otherwise")
    val hotSet = detectHotTags(left, keys, hotThreshold, sampleFraction, seed, maxHotKeys)
    val keyTag = tagOf(keys)
    // native membership test (In/InSet — codegen'd, ships with the plan;
    // no UDF, no manual broadcast); empty set → nothing salted
    def isHot = if (hotSet.isEmpty) lit(false) else keyTag.isInCollection(hotSet)
    val l = left.withColumn("__salt",
      when(isHot, (rand(seed) * salt).cast("int")).otherwise(lit(0)))
    val r = right.withColumn("__salt", explode(
      when(isHot, sequence(lit(0), lit(salt - 1)))
        .otherwise(array(lit(0)))))
    l.join(r, keys :+ "__salt").drop("__salt")
  }

  /** [[hotKeySaltedJoin]] with the hot threshold derived from the data
    * instead of hand-tuned: a key is hot when its rows would dominate a
    * shuffle partition — estimated rows ≥ `skewFactor` × (|left| /
    * `spark.sql.shuffle.partitions`). An ABSOLUTE threshold is a scale
    * trap: one tuned to flag a 10k-row key at sf X flags EVERY key at
    * 100·X (measured at the 100× bench, where threshold 300 against
    * ~600 rows/key classified all 100k keys hot, shipped a 100k-entry
    * InSet with every task, and replicated the whole dim — the
    * mitigation became the skew). Skew is relative to the partition by
    * definition: a key that fits comfortably in its partition needs no
    * salting no matter how many rows it has.
    *
    * Costs one extra `left.count()` job (metadata-cheap on a plain
    * parquet scan, one narrow pass otherwise) before the sampling pass.
    */
  def hotKeySaltedJoinAuto(left: DataFrame, right: DataFrame, keys: Seq[String],
                           salt: Int, sampleFraction: Double = 0.01,
                           skewFactor: Double = 2.0, seed: Long = 42L,
                           maxHotKeys: Int = 100000): DataFrame = {
    require(skewFactor > 0, s"skewFactor must be > 0, got $skewFactor")
    hotKeySaltedJoin(left, right, keys, salt,
      hotThreshold = autoHotThreshold(left, skewFactor),
      sampleFraction = sampleFraction, seed = seed, maxHotKeys = maxHotKeys)
  }

  /** skewFactor × average shuffle-partition rows, floor 1 (package-
    * visible so the spec can pin the formula).
    */
  private[operators] def autoHotThreshold(left: DataFrame, skewFactor: Double): Long =
    thresholdFromRows(left, left.count(), skewFactor)

  /** The threshold arithmetic alone, for callers that already paid for
    * the count — [[decide]] was counting the corpus TWICE (once here,
    * once for its decision record) before this split.
    */
  private def thresholdFromRows(left: DataFrame, rows: Long,
                                skewFactor: Double): Long = {
    val parts = left.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.round(skewFactor * rows / math.max(1, parts)))
  }

  /** The tag is computed by the SAME expression in detection and
    * tagging, so value rendering can never diverge between the two; the
    * \u0001 separator keeps multi-col keys unambiguous. (A tag collision
    * could only mis-classify a key's hotness, which affects cost, never
    * the join result.)
    */
  private def tagOf(keys: Seq[String]) =
    concat_ws("\u0001", keys.map(k => col(k).cast("string")): _*)

  /** The sampling pre-pass on its own (package-visible so the spec can
    * assert detection directly): tags of keys whose estimated row count
    * exceeds `hotThreshold`.
    */
  private[operators] def detectHotTags(left: DataFrame, keys: Seq[String],
                                       hotThreshold: Long, sampleFraction: Double,
                                       seed: Long, maxHotKeys: Int): Set[String] = {
    require(sampleFraction > 0 && sampleFraction <= 1,
      s"sampleFraction must be in (0,1], got $sampleFraction")
    val sampleThreshold = math.max(1L, math.round(hotThreshold * sampleFraction))
    val hot = left.sample(withReplacement = false, sampleFraction, seed)
      .groupBy(tagOf(keys).as("__tag")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= sampleThreshold)
      .select(col("__tag"))
      .limit(maxHotKeys + 1)
      .collect()
    require(hot.length <= maxHotKeys,
      s"more than $maxHotKeys hot keys detected — raise hotThreshold or maxHotKeys")
    hot.map(_.getString(0)).toSet
  }

  /** The strategy [[decide]] picked, with the measurements that picked
    * it — logged/asserted instead of re-derived, so a plan audit can
    * pin WHY a join shaped itself the way it did.
    */
  sealed trait Strategy
  /** Right side fits the byte budget — hash-join with no shuffle. */
  case object BroadcastRight extends Strategy
  /** No broadcast, no skew worth mitigating — let AQE handle the rest. */
  case object PlainShuffle extends Strategy
  /** Hot-key salting with the given fan-out and detection threshold. */
  final case class SaltHotKeys(salt: Int, hotThreshold: Long) extends Strategy

  final case class JoinDecision(strategy: Strategy, rightBytes: BigInt,
                                leftRows: Long, estHotKeyRows: Long,
                                hotThreshold: Long)

  /** Sketch-driven join planning: measure, then pick the strategy a
    * human would — in the order that matters at 100 TB. (1) BROADCAST
    * when the right side's Catalyst-estimated bytes fit `broadcastBytes`
    * (the same statistic Spark's own `autoBroadcastJoinThreshold`
    * consults — a BYTES gate; unknown stats estimate high, so the
    * fallback direction is the safe shuffle). (2) Otherwise SALT iff a
    * sampled key profile of the left side estimates some key's rows
    * above `skewFactor ×` the average shuffle partition's rows (the
    * [[hotKeySaltedJoinAuto]] relative threshold — absolute thresholds
    * are a scale trap), with the fan-out sized FROM the measurement:
    * salt ≈ hottest ∕ threshold, clamped to [2, maxSalt] — replication
    * priced by how much leveling the key actually needs, not "big to be
    * safe". (3) Otherwise PLAIN — AQE's runtime skew split handles what
    * sampling can't see. The salt changes WHERE rows meet, never WHICH
    * rows meet, so every strategy returns the identical row set (the
    * q214 oracle and the spec's tri-fixture audit assert this).
    *
    * Cost of deciding: ONE sampled aggregate (map-side-combined, never
    * a corpus shuffle) — it yields both the hottest-key estimate (max)
    * and the row-count estimate (sum ∕ fraction, the same estimator
    * `detectHotTags` trusts per key). When Catalyst plan stats carry a
    * rowCount the exact value is used at zero scans; a full
    * `left.count()` runs only as the empty-sample fallback (a corpus
    * the sample missed entirely is tiny, so the count is cheap). (The
    * salted EXECUTION path adds its own sampled pass to learn WHICH
    * tags are hot — decide only measured the max.)
    */
  def decide(left: DataFrame, right: DataFrame, keys: Seq[String],
             broadcastBytes: Long = 64L * 1024 * 1024,
             skewFactor: Double = 2.0, sampleFraction: Double = 0.01,
             seed: Long = 42L, maxSalt: Int = 32): JoinDecision = {
    require(keys.nonEmpty, "adaptive join needs at least one key column")
    require(maxSalt > 1, s"maxSalt must be > 1, got $maxSalt")
    val rightBytes = right.queryExecution.optimizedPlan.stats.sizeInBytes
    if (rightBytes <= broadcastBytes)
      return JoinDecision(BroadcastRight, rightBytes, -1L, -1L, -1L)
    // ONE sampled aggregate measures both decision inputs: the hottest
    // key's sampled count (max) and the sampled row total (sum)
    val sampled = left.sample(withReplacement = false, sampleFraction, seed)
      .groupBy(tagOf(keys).as("__tag")).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n")).as("__m"), sum(col("__n")).as("__s")).collect()(0)
    val leftRows = left.queryExecution.optimizedPlan.stats.rowCount match {
      case Some(exact) => exact.toLong // plan stats known — zero scans
      case None if !sampled.isNullAt(1) =>
        math.round(sampled.getLong(1) / sampleFraction) // the detectHotTags estimator
      case None => left.count() // empty sample → tiny corpus, count is cheap
    }
    val threshold = thresholdFromRows(left, leftRows, skewFactor)
    val estHot =
      if (sampled.isNullAt(0)) 0L
      else math.round(sampled.getLong(0) / sampleFraction)
    if (estHot > threshold) {
      val salt = math.min(maxSalt.toLong,
        math.max(2L, (estHot + threshold - 1) / threshold)).toInt
      JoinDecision(SaltHotKeys(salt, threshold), rightBytes, leftRows, estHot, threshold)
    } else JoinDecision(PlainShuffle, rightBytes, leftRows, estHot, threshold)
  }

  /** Execute `decision` (or [[decide]] fresh when omitted): the
    * measurement-driven inner equi-join. One call site replaces the
    * human choice between `join` / `broadcast` / [[hotKeySaltedJoin]].
    */
  def adaptiveJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   broadcastBytes: Long = 64L * 1024 * 1024,
                   skewFactor: Double = 2.0, sampleFraction: Double = 0.01,
                   seed: Long = 42L, maxSalt: Int = 32): DataFrame =
    apply(left, right, keys,
      decide(left, right, keys, broadcastBytes, skewFactor, sampleFraction,
        seed, maxSalt),
      sampleFraction, seed)

  /** [[adaptiveJoin]] with the decision made (and loggable) up front. */
  def apply(left: DataFrame, right: DataFrame, keys: Seq[String],
            decision: JoinDecision, sampleFraction: Double = 0.01,
            seed: Long = 42L): DataFrame = decision.strategy match {
    case BroadcastRight => left.join(broadcast(right), keys)
    case PlainShuffle => left.join(right, keys)
    case SaltHotKeys(salt, hotThreshold) =>
      hotKeySaltedJoin(left, right, keys, salt, hotThreshold, sampleFraction, seed)
  }

  /** CMS-sketch estimate of the join OUTPUT cardinality (the q137
    * inner-product estimator as a planning input): Σ_k cntL(k)·cntR(k)
    * within sketch error — the pre-flight that catches an exploding
    * many-to-many join BEFORE it runs, in two one-pass sketches instead
    * of a count-group-join. Overestimates (never under) by the CMS
    * guarantee.
    */
  def estimateJoinOutputRows(left: DataFrame, right: DataFrame,
                             keys: Seq[String],
                             width: Int = 4096, depth: Int = 4): Long = {
    def sk(df: DataFrame) =
      df.agg(GraftFunctions.call("cms_build", tagOf(keys), lit(width), lit(depth)).as("sk"))
    sk(left).select(col("sk").as("a"))
      .crossJoin(broadcast(sk(right).select(col("sk").as("b"))))
      .select(GraftFunctions.call("cms_inner_product", col("a"), col("b")).as("est"))
      .collect()(0).getLong(0)
  }

  /** Key-skew profile — the diagnostic that decides WHICH of the skew
    * strategies above (plain AQE, salted, hot-key-only) a join needs,
    * turned into a first-class queryable table instead of a one-off
    * `ps`-and-squint. For the `topK` heaviest keys: the row count, the
    * share of all rows in parts-per-million, and the salt factor a
    * [[saltedJoin]] would need to level that key down to the average —
    * `ceil(cnt · D / N)` (how many average-sized keys the hot key
    * weighs). All integer arithmetic, so an oracle restates it
    * verbatim.
    *
    * Scale shape: one partial-aggregable count per key (map-side
    * combine — the corpus never shuffles, only (key, count) pairs),
    * two broadcast scalars (N, D) from the same aggregate, and a
    * global top-K that plans as TakeOrderedAndProject — no full sort.
    */
  def keySkewProfile(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("__N"),
      count(lit(1)).as("__D"))
    counts.crossJoin(broadcast(totals))
      .select(col(keyCol), col("cnt"),
        expr("cnt * 1000000 div __N").as("share_ppm"),
        expr("(cnt * __D + __N - 1) div __N").as("salt_factor"))
      .orderBy(col("cnt").desc, col(keyCol))
      .limit(topK)
  }
}
