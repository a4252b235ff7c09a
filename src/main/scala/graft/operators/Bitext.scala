package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Margin-based bitext mining (Artetxe & Schwenk, ACL '19 — the ratio
  * margin): aligns parallel sentence/document pairs across two
  * embedding spaces by scoring each candidate pair's cosine AGAINST
  * the local similarity neighbourhood, which kills the hubness false
  * positives a raw cosine threshold keeps. The score is
  *
  *   margin(x, y) = cos(x, y) / ((avgK_fwd(x) + avgK_bwd(y)) / 2)
  *
  * where avgK is the mean cosine of the top-k neighbours in each
  * direction; pairs that are BOTH forward-best and backward-best by
  * margin and clear the threshold are emitted. No reference
  * counterpart (SURVEY.md §7.4 LLM-pipeline category).
  *
  * Decomposed from candidate GENERATION: [[marginMine]] takes the two
  * candidate frames `(query_id, neighbour_id, cosine_sim)` from any
  * top-k generator — [[Similarity.bruteForceTopK]] for a bounded
  * mining batch (the q220 form), [[Similarity.lshTopK]] or
  * [[Similarity.ivfTopK]] for full-corpus mining at 100 TB. The
  * scoring itself is all group-sized windows and key joins: the only
  * shuffles are on the query/neighbour ids, nothing corpus-quadratic,
  * nothing on the driver.
  *
  * The margin formula is symmetric in (x, y), so one margin table
  * serves both direction-best checks; mutuality is assessed within
  * the candidate sets (the standard intersection form of the paper).
  */
object Bitext {

  /** Margin-score and mutually filter candidate pairs.
    *
    * @param fwd forward candidates: src queries over the tgt corpus,
    *            columns (query_id, neighbour_id, cosine_sim)
    * @param bwd backward candidates: tgt queries over the src (batch)
    *            corpus, same columns
    * @param threshold minimum margin to emit (1.0 = neighbourhood-
    *                  average; the paper operates around 1.05–1.2)
    * @return (src_id, tgt_id, cosine_sim, margin), the mined pairs
    *
    * PRECONDITION (caller contract): `bwd`'s query set must COVER
    * `fwd`'s neighbour ids (and vice versa) — the standard mutual-kNN
    * setup where the backward run queries exactly the targets the
    * forward run retrieved (the q220 harness does this). The margin
    * join is INNER on the neighbourhood averages, so a candidate whose
    * counterpart is missing from the other direction's query set drops
    * BEFORE the best-per-query window — with partial coverage a
    * runner-up could be crowned "forward best". Generate both
    * directions from the same candidate universe.
    */
  def marginMine(fwd: DataFrame, bwd: DataFrame,
                 threshold: Double): DataFrame = {
    val aF = fwd.groupBy(col("query_id").as("x"))
      .agg(avg(col("cosine_sim")).as("a_fwd"))
    val aB = bwd.groupBy(col("query_id").as("y"))
      .agg(avg(col("cosine_sim")).as("a_bwd"))

    def margined(pairs: DataFrame): DataFrame = pairs
      .join(aF, "x").join(aB, "y")
      .withColumn("margin",
        col("cosine_sim") / ((col("a_fwd") + col("a_bwd")) / 2.0))

    val mF = margined(fwd.select(col("query_id").as("x"),
      col("neighbour_id").as("y"), col("cosine_sim")))
    val mB = margined(bwd.select(col("neighbour_id").as("x"),
      col("query_id").as("y"), col("cosine_sim")))

    val bestF = mF.withColumn("rn", row_number().over(
        Window.partitionBy(col("x"))
          .orderBy(col("margin").desc, col("y").asc)))
      .filter(col("rn") === 1)
      .select(col("x"), col("y"), col("cosine_sim"), col("margin"))
    val bestB = mB.withColumn("rn", row_number().over(
        Window.partitionBy(col("y"))
          .orderBy(col("margin").desc, col("x").asc)))
      .filter(col("rn") === 1)
      .select(col("x"), col("y"))

    bestF.join(bestB, Seq("x", "y"))
      .filter(col("margin") >= threshold)
      .select(col("x").as("src_id"), col("y").as("tgt_id"),
        col("cosine_sim"), col("margin"))
  }
}
