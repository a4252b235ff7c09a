package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Ranking-quality evaluation for retrieval pipelines: the metrics a
  * search/RAG stack runs after every index or model change — P@k,
  * R@k, MRR, and graded nDCG@k — computed distributed over (results,
  * judgments) tables. Everything is two bounded joins and one window
  * over the JUDGMENT set (results are nQueries·k rows, judgments are
  * the labeled pairs): at 100 TB the corpus never appears here, only
  * its evaluated slice.
  *
  * Conventions (TREC-standard): ranks are 1-based; a document is
  * relevant when its grade > 0; DCG uses the graded gain
  * (2^grade − 1)/log2(rank + 1); IDCG ranks the query's judged grades
  * descending (ties by doc id) and takes the top k, so nDCG = 1 iff
  * the retrieved order is an ideal order. Queries with no judged
  * relevant documents get recall/mrr/ndcg = 0, not null/NaN.
  */
object Retrieval {

  /** Per-query metrics table.
    *
    * @param results   `(queryCol, docCol, rankCol)` — ≤ k rows per
    *                  query, rank 1-based (rows with rank > k are
    *                  ignored, so a k'-deep result table evaluates at
    *                  any k ≤ k')
    * @param judgments `(queryCol, docCol, gradeCol)` — graded
    *                  relevance; unjudged retrieved docs count as
    *                  grade 0
    */
  def rankingMetrics(results: DataFrame, judgments: DataFrame,
                     queryCol: String, docCol: String, rankCol: String,
                     gradeCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val res = results
      .select(col(queryCol).as("__q"), col(docCol).as("__d"),
        col(rankCol).cast("int").as("__r"))
      .filter(col("__r") <= k)
    val jud = judgments.select(col(queryCol).as("__q"), col(docCol).as("__d"),
      col(gradeCol).cast("double").as("__g"))

    val gain = (pow(lit(2.0), col("__g")) - 1) / log2(col("__r") + 1)
    val perQuery = res.join(jud, Seq("__q", "__d"), "left")
      .na.fill(0.0, Seq("__g"))
      .groupBy(col("__q"))
      .agg(count(lit(1)).as("n_retrieved"),
        sum(when(col("__g") > 0, 1L).otherwise(0L)).as("n_relevant_retrieved"),
        sum(gain).as("dcg"),
        max(when(col("__g") > 0, lit(1.0) / col("__r")).otherwise(0.0)).as("mrr"))

    val relevant = jud.filter(col("__g") > 0)
    val totals = relevant.groupBy(col("__q"))
      .agg(count(lit(1)).as("n_relevant_total"))
    val ideal = relevant
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("__q")).orderBy(col("__g").desc, col("__d").asc)))
      .filter(col("__r") <= k)
      .groupBy(col("__q")).agg(sum(gain).as("idcg"))

    perQuery
      .join(totals, Seq("__q"), "left")
      .join(ideal, Seq("__q"), "left")
      .select(col("__q").as(queryCol),
        col("n_retrieved"),
        coalesce(col("n_relevant_total"), lit(0L)).as("n_relevant_total"),
        col("n_relevant_retrieved"),
        (col("n_relevant_retrieved") / k.toDouble).as("precision_k"),
        when(col("n_relevant_total").isNull, 0.0)
          .otherwise(col("n_relevant_retrieved") / col("n_relevant_total"))
          .as("recall_k"),
        col("mrr"),
        when(col("idcg").isNull, 0.0)
          .otherwise(col("dcg") / col("idcg")).as("ndcg"))
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * merge N ranked runs — lexical, vector, any backend — into one
    * list by `score(d) = Σ_runs 1/(k + rank_run(d))`, the standard
    * hybrid-search combiner (k = 60 per the paper; rank-based, so no
    * cross-run score calibration is needed, which is exactly why it
    * beats score averaging across heterogeneous retrievers). A doc
    * absent from a run simply contributes nothing from it; `n_runs`
    * reports how many runs surfaced each doc. Fused ranks re-densify
    * 1..topN per query, ties breaking by doc id.
    *
    * Scale shape: runs are nQueries·depth rows (evaluation-sized) —
    * one keyed aggregation + one per-query window over ≤ Σ depths
    * rows; the corpus stays inside the retrievers.
    */
  def rrfFusion(runs: Seq[DataFrame], queryCol: String, docCol: String,
                rankCol: String, k: Int = 60, topN: Int = 10): DataFrame = {
    require(runs.nonEmpty, "rrfFusion needs at least one run")
    require(k >= 0, s"k must be >= 0, got $k")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val contribs = runs.map(_.select(col(queryCol), col(docCol),
        (lit(1.0) / (lit(k) + col(rankCol).cast("double"))).as("__c")))
      .reduce(_ unionByName _)
    contribs
      .groupBy(col(queryCol), col(docCol))
      .agg(sum(col("__c")).as("rrf_score"), count(lit(1)).as("n_runs"))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(col(queryCol))
          .orderBy(col("rrf_score").desc, col(docCol).asc)))
      .filter(col("fused_rank") <= topN)
  }

  /** Hard-negative mining for contrastive retrieval training (the DPR /
    * ANCE recipe — Karpukhin et al. 2020, Xiong et al. 2021): for each
    * query, take its top-ranked retrieved candidates, remove the judged
    * positives, and keep the first `n` that remain — the
    * "looks-relevant-but-isn't" examples a bi-encoder needs, mined from
    * the retriever's own confusions rather than sampled at random.
    *
    * Composable over ANY retrieval backend: `results` is a ranked
    * candidate table (from brute-force, LSH, IVF, or PQ search),
    * `positives` the (query, doc) pairs to exclude. Negative ranks are
    * re-densified (1..n) after exclusion so downstream samplers can
    * stratify on them; all other `results` columns (scores, metadata)
    * pass through. A query whose candidate list is entirely positive
    * yields fewer than `n` rows — mine deeper, don't pad.
    *
    * Scale shape: results are nQueries·depth rows — evaluation-sized,
    * never corpus-sized; one keyed anti-join + one per-query window
    * over ≤ depth rows. The expensive part (candidate generation)
    * stays in the ANN family where its scale story already lives.
    */
  def hardNegatives(results: DataFrame, positives: DataFrame,
                    queryCol: String, docCol: String, rankCol: String,
                    n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val pos = positives.select(col(queryCol), col(docCol)).distinct()
    results.join(pos, Seq(queryCol, docCol), "left_anti")
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy(col(queryCol)).orderBy(col(rankCol).asc)))
      .filter(col("neg_rank") <= n)
      .drop(rankCol)
  }

  /** Rank-Biased Overlap between two rankings of the same query set
    * (Webber, Moffat & Zobel TOIS '10), truncated at depth k:
    * RBO@k = Σ_{d=1..k} (1−p)·p^(d−1) · |A_:d ∩ B_:d| / d — the
    * top-weighted similarity between two runs (index versions, model
    * candidates) that plain set overlap or Kendall tau get wrong for
    * rankings, because disagreement at rank 1 should cost more than at
    * rank 10. p is the persistence parameter (0.9 ≈ "user looks at
    * ~10 results").
    *
    * Scale: runs are evaluation-sized (nQueries·k rows). The per-depth
    * prefix-overlap table comes from one join on (query, doc) — a doc
    * in both runs enters every depth d ≥ max(rank_a, rank_b), counted
    * via an explode over its [max(rank), k] range; everything after is
    * a per-query aggregate. Exact geometric weights, no iteration.
    * Output: (queryCol, rbo).
    */
  def rankBiasedOverlap(runA: DataFrame, runB: DataFrame,
                        queryCol: String, docCol: String, rankCol: String,
                        k: Int, p: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(p > 0 && p < 1, s"p must be in (0,1), got $p")
    val a = runA.filter(col(rankCol) <= k)
      .select(col(queryCol).as("__q"), col(docCol).as("__d"),
        col(rankCol).cast("int").as("__ra"))
    val b = runB.filter(col(rankCol) <= k)
      .select(col(queryCol).as("__q"), col(docCol).as("__d"),
        col(rankCol).cast("int").as("__rb"))
    // common docs enter the prefix intersection at depth max(ra, rb)
    val weights = a.join(b, Seq("__q", "__d"))
      .withColumn("__depth",
        explode(sequence(greatest(col("__ra"), col("__rb")), lit(k))))
      .groupBy(col("__q"), col("__depth"))
      .agg(count(lit(1)).as("__overlap"))
      .withColumn("__term",
        lit(1 - p) * pow(lit(p), col("__depth") - 1) *
          col("__overlap") / col("__depth"))
    // queries present in either run but with zero prefix overlap score 0
    val universe = a.select(col("__q")).unionByName(b.select(col("__q"))).distinct()
    universe.join(
        weights.groupBy(col("__q")).agg(sum(col("__term")).as("__rbo")),
        Seq("__q"), "left")
      .select(col("__q").as(queryCol),
        coalesce(col("__rbo"), lit(0.0)).as("rbo"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * SIGIR '98): from each query's CANDIDATE pool (a bounded top-N from
    * a first-stage retriever — the caller's contract, like every
    * bounded-broadcast site here), greedily select k results maximizing
    * λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s) — relevance traded
    * against redundancy, the standard diversification pass between
    * retrieval and a context window.
    *
    * Engineering shape: pairwise candidate similarities are
    * precomputed ONCE with the codegen'd cosine kernel (N² per query,
    * bounded by the pool contract), then the k greedy rounds are pure
    * max/compare DataFrame ops — k keyed joins over evaluation-sized
    * tables, no driver-side loop over data, no per-row lambda
    * arithmetic outside expressions. rel and sim quantize to 6 dp (the
    * engine's proven cosine parity bound) and scores to 9 dp before
    * each argmax, ties by doc id — so the selection is total-ordered
    * and engine-portable. Picks carry `mmr_rank` 1..k; a query with
    * fewer than k candidates simply stops early.
    * Output: (queryCol, mmr_rank, docCol, mmr_score).
    */
  def mmrDiversify(cands: DataFrame, queryCol: String, docCol: String,
                   relCol: String, vecCol: String,
                   lambda: Double, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1], got $lambda")
    // both tables feed every greedy round — persist, or round i
    // re-derives the candidate pull and the N² cosine pass i times.
    // TRACKED: an untracked persist outlives its query, and the next
    // identical plan double-caches AND rides the leaked cache — the
    // q197/q216 measurement-subsidy bug, found here by the round-14
    // bench-marker attribution (the last CacheManager warning pair)
    val c = graft.Caches.track(
      cands.select(col(queryCol).as("__q"), col(docCol).as("__d"),
        round(col(relCol).cast("double"), 6).as("__rel"), col(vecCol).as("__v"))
        .persist())
    val sims = graft.Caches.track(c.as("a").join(c.as("b"),
        col("a.__q") === col("b.__q") && col("a.__d") =!= col("b.__d"))
      .select(col("a.__q").as("__q"), col("a.__d").as("__d"),
        col("b.__d").as("__db"),
        round(GraftFunctions.call("cosine_similarity", col("a.__v"), col("b.__v")), 6)
          .as("__sim"))
      .persist())
    val mu = lit(1 - lambda) // IEEE 1−λ, restated identically by oracles
    def pickRound(scored: DataFrame, rank: Int): DataFrame =
      scored
        .withColumn("__score",
          round(lit(lambda) * col("__rel") -
            mu * coalesce(col("__pen"), lit(0.0)), 9))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("__q"))
            .orderBy(col("__score").desc, col("__d").asc)))
        .filter(col("__rn") === 1)
        .select(col("__q"), col("__d"),
          lit(rank.toLong).as("mmr_rank"), col("__score").as("mmr_score"))
    var all = graft.Caches.track(
      pickRound(c.withColumn("__pen", lit(null).cast("double")), 1)
        .localCheckpoint(false))
    for (i <- 2 to k) {
      val remaining = c.join(all.select(col("__q"), col("__d")),
        Seq("__q", "__d"), "left_anti")
      val penalties = sims
        .join(all.select(col("__q"), col("__d").as("__db")), Seq("__q", "__db"))
        .groupBy(col("__q"), col("__d"))
        .agg(max(col("__sim")).as("__pen"))
      // checkpoint per round: the accumulated picks feed the NEXT
      // round's anti-join and penalty join — without lineage
      // truncation round i replays rounds 1..i−1 (quadratic replans).
      // Lazy (an eager cut would add a build job per round) and tracked,
      // so scope exit frees every round's blocks
      all = graft.Caches.track(all.unionByName(
          pickRound(remaining.join(penalties, Seq("__q", "__d"), "left"), i))
        .localCheckpoint(false))
    }
    all.select(col("__q").as(queryCol), col("mmr_rank"),
      col("__d").as(docCol), col("mmr_score"))
  }
}
