package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level statistical summaries for training-data audits — how
  * much vocabulary remains unseen, whether token frequencies follow the
  * expected power law, how concentrated the corpus is on few domains.
  * No reference implementation exists (SURVEY.md §7.4 extension family;
  * estimators from the published literature — Chao Biometrics '84,
  * Zipf '49 / Newman's log-log fit, Gini '12).
  *
  * Scale design (100 TB): every operator reduces the corpus to a
  * VOCABULARY- or GROUP-sized table in one tokenize+aggregate pass
  * (map-side partial aggregation), then does constant-size arithmetic
  * on that. Nothing here ever holds row-level state.
  */
object CorpusStats {

  /** Token-frequency table (token, freq) — the shared first pass.
    * Tokenizes through the seam ([[graft.functions.Tokenize]]):
    * Unicode mode gives real vocabulary on CJK/Thai corpora, where
    * whitespace mode counts whole clauses as single "types".
    */
  def tokenFrequencies(df: DataFrame, textCol: String,
                       mode: graft.functions.Tokenize.Mode =
                         graft.functions.Tokenize.Whitespace): DataFrame = {
    df.select(explode(
        graft.functions.Tokenize.tokens(col(textCol), mode)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
  }

  /** Chao1 species-richness estimate of the vocabulary: how many token
    * TYPES the corpus-generating process has, including ones not yet
    * seen — chao1 = D + f1·(f1−1)/(2·(f2+1)) (the bias-corrected form,
    * defined even when no doubletons exist), where D = observed types,
    * f1 = singletons, f2 = doubletons (Chao '84; Colwell & Coddington
    * '94 eq. 6). The unseen mass estimate tells you whether more
    * crawling still buys new vocabulary.
    * Output: one row (n_tokens, vocab, f1, f2, chao1).
    */
  def chao1(df: DataFrame, textCol: String,
            mode: graft.functions.Tokenize.Mode =
              graft.functions.Tokenize.Whitespace): DataFrame =
    tokenFrequencies(df, textCol, mode).agg(
      sum(col("freq")).as("n_tokens"),
      count(lit(1)).as("vocab"),
      sum(when(col("freq") === 1, 1L).otherwise(0L)).as("f1"),
      sum(when(col("freq") === 2, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1",
        col("vocab") +
          (col("f1") * (col("f1") - 1)) / (lit(2.0) * (col("f2") + 1)))

  /** Zipf power-law fit: OLS slope of ln(freq) on ln(rank) over the
    * top `topN` ranks (rank 1 = most frequent; frequency ties break by
    * token so the ranking is total). Natural language sits near −1;
    * a much flatter slope flags template/boilerplate corpora, a much
    * steeper one flags degenerate repetition. Slope and intercept from
    * the closed-form OLS sums — exact arithmetic on a topN-sized table.
    * Output: one row (n_ranks, slope, intercept).
    */
  def zipfSlope(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // orderBy+limit plans as TakeOrdered (distributed partial top-k) —
    // the global rank window then runs over a topN-sized table only,
    // never over the full vocabulary
    val top = tokenFrequencies(df, textCol)
      .orderBy(col("freq").desc, col("token").asc)
      .limit(topN)
    val ranked = top
      .withColumn("rank", row_number().over(
        Windows.boundedGlobal(col("freq").desc, col("token").asc)))
      .select(log(col("rank")).as("x"), log(col("freq")).as("y"))
    ranked.agg(
      count(lit(1)).as("n_ranks"),
      sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
      sum(col("x") * col("y")).as("__sxy"),
      sum(col("x") * col("x")).as("__sxx"))
      .withColumn("slope",
        (col("n_ranks") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("n_ranks") * col("__sxx") - col("__sx") * col("__sx")))
      .withColumn("intercept",
        (col("__sy") - col("slope") * col("__sx")) / col("n_ranks"))
      .select(col("n_ranks"), col("slope"), col("intercept"))
  }

  /** Gini concentration of corpus volume over a grouping key (domain,
    * source, language): 0 = perfectly even, → 1 = all volume on one
    * group. Computed on the GROUP-sized share table via the rank form
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n with xᵢ ascending (Gini '12;
    * ties broken by group key for a total order). A heavily
    * concentrated corpus is a diversity risk the mixture-rebalance
    * family (q162) then fixes.
    * Output: one row (n_groups, total, gini).
    */
  def giniConcentration(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = df.groupBy(col(keyCol)).agg(count(lit(1)).as("x"))
      .withColumn("i", row_number().over(
        Windows.boundedGlobal(col("x").asc, col(keyCol).asc)).cast("long"))
    sizes.agg(
      count(lit(1)).as("n_groups"),
      sum(col("x")).as("total"),
      sum(col("i") * col("x")).as("__ix"))
      .withColumn("gini",
        lit(2.0) * col("__ix") / (col("n_groups") * col("total")) -
          (col("n_groups") + 1) / col("n_groups").cast("double"))
      .select(col("n_groups"), col("total"), col("gini"))
  }
}
