package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Context-window packing for LLM training: documents' token streams are
  * laid end-to-end and cut into fixed-size bins ("concat-then-split", the
  * standard pretraining batcher — a document whose tokens straddle a cut
  * spans two-plus bins). No reference implementation (SURVEY.md §7.4
  * LLM-pipeline category).
  *
  * The computation is a GLOBAL exact prefix sum of token counts in id
  * order — the naive form is `sum over (Window.orderBy(id))`, a single-
  * partition window that melts the driver at 100 TB (same hazard as W1,
  * SURVEY §2.5). It runs on [[GroupOps.exclusivePrefixSum]] — the same
  * two-phase scan [[GroupOps.denseId]] uses (weight = the token count
  * instead of 1), one shared implementation of the scale-critical
  * machinery.
  */
object Packing {

  /** (id, n_tokens, start_off, bin, bins_spanned): token offsets and bin
    * assignment for budget-`B` packing over documents in ascending
    * `idCol` order. `bin` = B-quotient of the first token's offset;
    * `bins_spanned` counts every bin the document touches.
    */
  def packConcat(df: DataFrame, idCol: String, textCol: String, budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val counted = df.select(col(idCol),
      size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_tokens"))
    binned(GroupOps.exclusivePrefixSum(counted, Seq(col(idCol)),
      Seq(col("n_tokens") -> "start_off")), budget)
  }

  /** Exact long bin arithmetic (`div`, not double `/` — offsets past 2^53
    * must not round) on a frame carrying (n_tokens, start_off).
    */
  private def binned(df: DataFrame, budget: Int): DataFrame =
    df.withColumn("bin", expr(s"start_off div $budget"))
      .withColumn("bins_spanned",
        when(col("n_tokens") === 0, lit(1L)).otherwise(
          expr(s"(start_off + n_tokens - 1) div $budget") - col("bin") + 1))

  /** Grouped form: packing restarts per `groupCol` (per-language /
    * per-source shards). Cheaper than [[packConcat]] — one hash shuffle
    * and an ordinary partitioned window, parallel across groups; the
    * two-phase scan is only needed when the order is global.
    */
  def packByGroup(df: DataFrame, groupCol: String, idCol: String, textCol: String,
                  budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    binned(df.select(col(groupCol), col(idCol),
        size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_tokens"))
      .withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L))),
      budget)
  }

  /** Balanced training-shard assignment by Longest-Processing-Time
    * scheduling (Graham '69, the 4/3-approximate makespan minimizer):
    * per `groupCol`, documents sorted by (token count DESC, id ASC)
    * are assigned greedily to the least-loaded of `k` shards, ties to
    * the lowest shard index — the shard writer that keeps per-file
    * token counts near-equal so no trainer reads a straggler file.
    *
    * LPT is sequential BY DEFINITION (each placement depends on all
    * prior loads), so groups are the parallelism unit: one hash
    * shuffle on `groupCol`, a within-partition sort, one streaming
    * pass per group with k running counters — no window over the
    * corpus, no driver state. At 100 TB the group is the natural
    * shard domain anyway (per-source / per-language output files); a
    * global LPT would serialize the corpus through one task and is
    * deliberately not offered.
    *
    * Output: (group, id, n_tokens, shard ∈ [0, k)).
    */
  def lptShards(df: DataFrame, groupCol: String, idCol: String, textCol: String,
                k: Int): DataFrame = {
    require(k > 0, s"shard count must be positive, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    // null text/id rows DROP (the Rolling.ewma convention): a null
    // token count would kill the whole job at the non-nullable tuple
    // encoder instead of failing one row's placement
    val counted = df
      .filter(col(textCol).isNotNull && col(idCol).isNotNull)
      .select(
        col(groupCol).cast("string").as("group"),
        col(idCol).cast("long").as("id"),
        size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_tokens"))
      // EXPLICIT partition count (the Dedup.denseBlockPairJoin
      // convention): the per-group fold's parallelism IS the partition
      // count, and a bare repartition(col) is AQE-coalescible
      .repartition(spark.sessionState.conf.numShufflePartitions, col("group"))
      .sortWithinPartitions(col("group"), col("n_tokens").desc, col("id"))
      .as[(String, Long, Long)]
    counted.mapPartitions { it =>
      var curGroup: String = null
      val loads = new Array[Long](k)
      it.map { case (g, id, n) =>
        if (g != curGroup) { curGroup = g; java.util.Arrays.fill(loads, 0L) }
        var best = 0
        var s = 1
        while (s < k) { if (loads(s) < loads(best)) best = s; s += 1 }
        loads(best) += n
        (g, id, n, best)
      }
    }.toDF("group", "id", "n_tokens", "shard")
  }
}
