package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Corpus-relative text relevance scoring (TF-IDF / BM25) — the ranking
  * primitive behind corpus search, quality-weighted sampling, and
  * query-targeted subset extraction in a training-data pipeline. No
  * reference implementation (SURVEY.md §7.4 LLM-pipeline category);
  * semantics are the standard Robertson/Sparck-Jones BM25 with the
  * Lucene-style non-negative idf: ln(1 + (N - n_t + 0.5) / (n_t + 0.5)).
  *
  * Scale shape (the 100 TB contract):
  *  - one explode over the corpus with the doc length RIDING ALONG on
  *    each token row, immediately filtered to the query terms — the
  *    shuffled tf table is |matching docs| × |query terms| rows and no
  *    corpus-keyed join exists anywhere (an earlier formulation joined
  *    tf against a corpus-wide doc-length table — a corpus-sized
  *    shuffle for two longs a map-side column already knew);
  *  - document-frequency and corpus stats (N, avgdl) are tiny aggregates
  *    (≤ |query terms| rows / 1 row) joined back by explicit broadcast —
  *    no corpus-sized build side anywhere.
  *
  * Tokenization IS [[graft.functions.TextFunctions.tokens]] (lower +
  * trim + whitespace split) — the one canonical tokenizer, so scores
  * line up with the text stats the pipeline already computes by
  * construction.
  */
object Scoring {

  /** Per-document BM25 score against a bag of query terms.
    * Output: (id, n_matched, score) — one row per document containing at
    * least one query term.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val docs = df.select(col(idCol),
      graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"))

    // 1-row corpus stats (N, avgdl — over ALL docs, matching or not);
    // broadcast into the score projection
    val stats = docs
      .select(size(col("__toks")).cast("long").as("__dl"))
      .agg(count(lit(1)).as("__n_docs"), avg(col("__dl")).as("__avgdl"))

    // (id, dl, term, tf) for query terms only — dl rides along on the
    // token rows, and the explode's output is cut down BEFORE any shuffle
    val tf = docs
      .select(col(idCol), size(col("__toks")).cast("long").as("__dl"),
        explode(col("__toks")).as("__term"))
      .filter(col("__term").isin(terms: _*))
      .groupBy(col(idCol), col("__dl"), col("__term"))
      .agg(count(lit(1)).as("__tf"))

    // (term, n_t): in how many docs each query term appears — ≤ |terms| rows
    val dfreq = tf.groupBy(col("__term")).agg(count(lit(1)).as("__nt"))

    val idf = log(lit(1.0) +
      (col("__n_docs") - col("__nt") + lit(0.5)) / (col("__nt") + lit(0.5)))
    val tfNorm = col("__tf") * (lit(k1) + 1.0) /
      (col("__tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("__dl") / col("__avgdl")))

    tf.join(broadcast(dfreq), "__term")
      .crossJoin(broadcast(stats))
      .withColumn("__contrib", idf * tfNorm)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matched"), sum(col("__contrib")).as("score"))
  }

  /** Corpus vocabulary induction: one row per distinct token with its
    * collection frequency (`tf`, total occurrences) and document
    * frequency (`df`, docs containing it) — the input to tokenizer
    * vocabulary construction, stop-word discovery, and idf tables.
    * Empty tokens (empty/whitespace-only docs) are excluded.
    *
    * Scale shape: one explode + one hash aggregate keyed on token —
    * partial (map-side) aggregation shrinks the shuffle to vocabulary
    * size, not corpus size. Exact `count(DISTINCT id)` plans a two-phase
    * Expand aggregate; at 100 TB pass `exactDf = false` for the
    * single-pass HLL sketch (±rsd, default 5%) when df feeds a
    * threshold, not an oracle.
    */
  def vocabTable(df: DataFrame, idCol: String, textCol: String,
                 exactDf: Boolean = true): DataFrame = {
    val tok = df.select(col(idCol).as("__id"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    tok.groupBy(col("token"))
      .agg(count(lit(1)).as("tf"),
        (if (exactDf) countDistinct(col("__id"))
         else approx_count_distinct(col("__id"))).as("df"))
  }

  /** Exact top-k frequent items via the Misra–Gries sketch
    * ([[graft.expressions.MisraGries]], a mergeable
    * `TypedImperativeAggregate`): pass 1 sketches with `capacity`
    * counters per partial buffer (the shuffle carries ≤ capacity
    * counters per partition, never the item domain); pass 2 re-counts
    * ONLY the ≤ capacity surviving candidates exactly (broadcast
    * membership cuts the stream map-side, so the exact shuffle is
    * candidate-keyed, vocabulary-independent).
    *
    * Correctness contract: MG guarantees every item with true count >
    * N/(capacity+1) survives pass 1, so the exact top-k is provably
    * complete whenever the k-th exact count clears that bar — size
    * `capacity` ≫ k (default 16×) for the long-tail margin. This is
    * the heavy-hitters shape for domains too large to groupBy whole
    * (URLs, n-grams, user agents at 100 TB).
    */
  def heavyHitters(items: DataFrame, itemCol: String, k: Int,
                   capacity: Int = 0): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val cap = if (capacity > 0) capacity else 16 * k
    require(cap >= k, s"capacity $cap must be >= k=$k")
    val candidates = items
      .agg(GraftFunctions.call("misra_gries", col(itemCol), lit(cap)).as("__sk"))
      .select(explode(col("__sk")).as("__c"))
      .select(col("__c.item").as(itemCol))
    items.join(broadcast(candidates), Seq(itemCol), "left_semi")
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col(itemCol))
      .limit(k)
  }

  /** Corpus-wide bigram PMI collocation mining: scores adjacent token
    * pairs by pointwise mutual information
    * `ln( (c_xy / N_bi) / ((c_x / N_uni) · (c_y / N_uni)) )` — the
    * standard signal for multi-word expressions ("new york", "machine
    * learning") feeding tokenizer merge rules and phrase-aware dedup.
    * `minCount` floors the bigram count first (PMI is notoriously noisy
    * on hapax pairs).
    *
    * Scale shape: bigrams are generated MAP-SIDE from each token array
    * (a zip of the array with its own tail — no self-join of the token
    * table, which is the classic quadratic mistake here); one explode +
    * hash aggregate each for bigram and unigram counts (both shrink to
    * vocabulary size via partial aggregation); the two unigram joins key
    * on a vocabulary-sized table, so they are plain shuffle joins —
    * nothing corpus-sized is ever broadcast or re-shuffled.
    */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Long = 5): DataFrame = {
    val toks = df.select(graft.functions.TextFunctions.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= 2)
    // map-side bigram list: (t[i], t[i+1]) pairs as a struct array
    val bi = toks.select(explode(
        zip_with(slice(col("__t"), lit(1), size(col("__t")) - 1),
                 slice(col("__t"), lit(2), size(col("__t")) - 1),
          (a, b) => struct(a.as("word_a"), b.as("word_b")))).as("__bi"))
      .select(col("__bi.word_a"), col("__bi.word_b"))
      .filter(col("word_a") =!= "" && col("word_b") =!= "")
      .groupBy(col("word_a"), col("word_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val uni = df.select(explode(
        graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("__c"))
    // both totals are 1-row aggregates; broadcast into the projection
    val nUni = uni.agg(sum(col("__c")).as("__n_uni"))
    val nBi = bi.agg(sum(col("c_ab")).as("__n_bi"))
    bi.join(uni.withColumnRenamed("token", "word_a").withColumnRenamed("__c", "__ca"), "word_a")
      .join(uni.withColumnRenamed("token", "word_b").withColumnRenamed("__c", "__cb"), "word_b")
      .crossJoin(broadcast(nBi)).crossJoin(broadcast(nUni))
      .select(col("word_a"), col("word_b"), col("c_ab"),
        log((col("c_ab").cast("double") / col("__n_bi")) /
          ((col("__ca").cast("double") / col("__n_uni")) *
           (col("__cb").cast("double") / col("__n_uni")))).as("pmi"))
  }

  /** KL divergence D(P‖Q) between the token distributions of two corpus
    * slices (e.g. a candidate source vs the trusted training mix) — the
    * distribution-shift gate for admitting new data sources. Additive
    * (Laplace) smoothing `alpha` over the UNION vocabulary keeps Q(t)=0
    * terms finite; returns one row per slice-`p` value with the
    * divergence and both token totals.
    *
    * Scale shape: one explode + one (slice, token) hash aggregate
    * (partial-agg shrinks to vocabulary size), a full-outer self-pivot
    * on token (vocabulary-keyed shuffle join), and a scalar aggregate —
    * the corpus itself moves exactly once.
    */
  def tokenKlDivergence(df: DataFrame, sliceCol: String, textCol: String,
                        pSlice: String, qSlice: String,
                        alpha: Double = 0.5): DataFrame = {
    val counts = df
      .filter(col(sliceCol).isin(pSlice, qSlice))
      .select(col(sliceCol).as("__s"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(sum(when(col("__s") === pSlice, 1L).otherwise(0L)).as("__cp"),
           sum(when(col("__s") === qSlice, 1L).otherwise(0L)).as("__cq"))
    val vocab = counts.agg(count(lit(1)).as("__v"),
      sum(col("__cp")).as("__np"), sum(col("__cq")).as("__nq"))
    counts.crossJoin(broadcast(vocab))
      .select(
        ((col("__cp") + lit(alpha)) / (col("__np") + lit(alpha) * col("__v"))).as("__p"),
        ((col("__cq") + lit(alpha)) / (col("__nq") + lit(alpha) * col("__v"))).as("__q"),
        col("__np"), col("__nq"))
      .agg(sum(col("__p") * log(col("__p") / col("__q"))).as("kl_divergence"),
        first(col("__np")).as("p_tokens"), first(col("__nq")).as("q_tokens"))
      .select(lit(pSlice).as("p_slice"), lit(qSlice).as("q_slice"),
        col("kl_divergence"), col("p_tokens"), col("q_tokens"))
  }

  /** Per-(doc, term) TF-IDF weights over the WHOLE vocabulary — the
    * feature-extraction form (ln-smoothed idf = ln(N / n_t)). Unlike
    * [[bm25]] the df table here is vocabulary-sized, so it is joined by
    * shuffle, not broadcast (a 100 TB corpus's vocabulary is itself
    * large); the join key (term) is the aggregation key, so the exchange
    * is reused between the df agg and the join.
    */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = df.select(col(idCol),
      graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"))
    val nDocs = docs.agg(count(lit(1)).as("__n_docs"))
    val terms = docs
      .select(col(idCol), explode(col("__toks")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy(col("term")).agg(count(lit(1)).as("__nt"))
    terms.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("term"), col("tf"),
        (col("tf") * log(col("__n_docs").cast("double") / col("__nt"))).as("tf_idf"))
  }

  /** Inverted index construction: token → exact document frequency +
    * the posting list (first `maxPostings` doc ids in ascending order,
    * comma-joined) — the retrieval-side artifact behind BM25 serving,
    * contamination lookups, and keyword routing. `minDf` prunes the
    * hapax tail (most of any corpus's vocabulary) from the output.
    *
    * Scale shape: one shuffle on the token; doc_freq and the posting
    * cap come from a window pass over the SAME (token)-partitioned sort,
    * and the final aggregate reuses that partitioning. The cap is
    * applied BEFORE `collect_list` (row_number ≤ maxPostings), so no
    * executor ever materializes a stopword's full posting list — the
    * unbounded-`collect_list` trap this operator exists to avoid. The
    * doc_freq count is windowed over all rows, so it stays exact for
    * capped tokens.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 1L, maxPostings: Int = 1000): DataFrame = {
    require(minDf >= 1 && maxPostings >= 1, "minDf and maxPostings must be >= 1")
    val perDoc = df.select(col(idCol).as("__id"),
        explode(array_distinct(graft.functions.TextFunctions.tokens(col(textCol))))
          .as("token"))
      .filter(col("token") =!= "")
    val w = Window.partitionBy(col("token"))
    val ordered = w.orderBy(col("__id").asc)
    perDoc
      .withColumn("doc_freq", count(lit(1)).over(w))
      .withColumn("__rn", row_number().over(ordered))
      .filter(col("doc_freq") >= minDf && col("__rn") <= maxPostings)
      .groupBy(col("token"), col("doc_freq"))
      .agg(concat_ws(",",
        transform(sort_array(collect_list(col("__id"))), _.cast("string")))
        .as("postings"))
  }

  /** Per-document bigram multiplicities of `df`'s `textCol` tokens,
    * (__id, w1, w2, __m), persisted and tracked: the corpus side of
    * [[bigramCrossEntropy]] and [[kneserNeyBigram]].
    */
  private def docBigrams(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("__id"),
      graft.functions.TextFunctions.tokens(col(textCol)).as("__t"))
    // bigrams by zipping the token array with itself shifted one left;
    // slice() is 1-based and clamps, so a 1-token doc yields no rows
    val bg = toks
      .select(col("__id"),
        explode(arrays_zip(
          slice(col("__t"), lit(1), greatest(size(col("__t")) - 1, lit(0))),
          slice(col("__t"), lit(2), greatest(size(col("__t")) - 1, lit(0))))).as("__b"))
      .select(col("__id"), col("__b.0").as("w1"), col("__b.1").as("w2"))
    graft.Caches.track(bg.groupBy(col("__id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("__m"))
      .persist())
  }

  /** Per-document bigram-LM cross-entropy — the perplexity-style quality
    * signal training-data pipelines use to rank documents against the
    * corpus distribution (a KenLM-shaped filter without the external
    * model: the corpus IS the model). Maximum-likelihood bigram model
    * fit on the whole corpus, each document scored by the mean negative
    * log2 probability of its own bigrams:
    *
    *   H(d) = -(1/|d|) Σ_bigrams log2( c(w1,w2) / c(w1·) )
    *
    * where c(w1·) counts w1 as a bigram CONTEXT (so probabilities
    * normalize exactly: Σ_w2 P(w2|w1) = 1). Unsmoothed on purpose —
    * scoring the training corpus itself means every document bigram has
    * corpus support by construction, and the estimator stays an exact
    * ratio an oracle restates verbatim. Low H = formulaic/repetitive
    * relative to the corpus; high H = surprising (or noisy) text.
    *
    * Scale shape: one explode pass over the corpus; per-document bigram
    * multiplicities collapse BEFORE any join (map-side combine on
    * (id, w1, w2)); both model tables are type-level aggregates (vocab-
    * bounded, way below corpus-bounded), joined on bigram/context keys
    * as plain shuffle hash joins AQE is free to convert to broadcast.
    * No per-token row ever crosses a join.
    *
    * Output: (id, n_bigrams, cross_entropy) — docs with fewer than two
    * tokens have no bigrams and produce no row.
    */
  def bigramCrossEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docBg = docBigrams(df, idCol, textCol)
    val c12 = docBg.groupBy(col("w1"), col("w2")).agg(sum(col("__m")).as("__c12"))
    val c1 = docBg.groupBy(col("w1")).agg(sum(col("__m")).as("__c1"))
    val model = c12.join(c1, "w1")
      .select(col("w1"), col("w2"),
        log2(col("__c12").cast("double") / col("__c1")).as("__logp"))
    docBg.join(model, Seq("w1", "w2"))
      .groupBy(col("__id").as(idCol))
      .agg(sum(col("__m")).as("n_bigrams"),
        (-sum(col("__m") * col("__logp")) / sum(col("__m"))).as("cross_entropy"))
  }

  /** Interpolated Kneser-Ney bigram LM (Kneser & Ney '95; the Chen &
    * Goodman '98 standard formulation) — THE n-gram smoothing behind
    * KenLM-class models, completing the LM family next to the MLE
    * in-corpus entropy ([[bigramCrossEntropy]]) and web-scale Stupid
    * Backoff ([[stupidBackoff]]):
    *
    *   P(w2|w1) = max(c(w1,w2) − D, 0)/c(w1)
    *            + (D · N1+(w1,·)/c(w1)) · (N1+(·,w2)/N1+(·,·))
    *
    * with fixed discount D and the continuation counts N1+ = distinct
    * bigram TYPES (following w1 / preceding w2 / total) — the
    * insight that "Francisco" is frequent but only ever follows
    * "San", so its unigram fallback weight should be tiny.
    * Self-scored on the corpus (the [[bigramCrossEntropy]]
    * convention), so every doc bigram has model support; the
    * interpolation term still reshapes every probability.
    *
    * Exact-replay engineering (the q248 convention): each DISTINCT
    * bigram type's log-prob is computed ONCE in a fixed-
    * parenthesization double expression and quantized to integer
    * micro-log units in Spark SQL `round()`; a document's total is
    * then a sum of count·llq LONGS — order-free, hash-matchable.
    *
    * Scale shape: [[bigramCrossEntropy]]'s exactly — per-doc
    * multiplicities collapse map-side before any join, all four model
    * tables are bigram-TYPE-sized aggregates, the scalar type total
    * rides in broadcast, and the llq join is per distinct doc-bigram,
    * never per token.
    *
    * Output: (id, n_bigrams, sum_llq, nll_milli) — docs with fewer
    * than two tokens have no bigrams and produce no row; nll_milli is
    * the q259 milli-nat mean quantization.
    */
  def kneserNeyBigram(df: DataFrame, idCol: String, textCol: String,
                      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount must be in (0,1), got $discount")
    val docBg = docBigrams(df, idCol, textCol)
    val c12 = docBg.groupBy(col("w1"), col("w2")).agg(sum(col("__m")).as("__c12"))
      .persist()
    graft.Caches.track(c12)
    val c1 = c12.groupBy(col("w1"))
      .agg(sum(col("__c12")).as("__c1"), count(lit(1)).as("__n1fw"))
    val cont = c12.groupBy(col("w2")).agg(count(lit(1)).as("__n1bw"))
    val totDf = c12.agg(count(lit(1)).as("__tot"))
    // one llq per bigram TYPE; parenthesization mirrored verbatim by
    // the oracle so the doubles are bit-identical before quantization
    val typeScores = c12.join(c1, "w1").join(cont, "w2")
      .crossJoin(broadcast(totDf))
      .select(col("w1"), col("w2"),
        round(log(
          (greatest(col("__c12").cast("double") - discount, lit(0.0)) /
            col("__c1").cast("double")) +
          (((lit(discount) * col("__n1fw").cast("double")) /
            col("__c1").cast("double")) *
            (col("__n1bw").cast("double") / col("__tot").cast("double")))
        ) * 1e6, 0).cast("long").as("__llq"))
    docBg.join(typeScores, Seq("w1", "w2"))
      .groupBy(col("__id").as(idCol))
      .agg(sum(col("__m")).as("n_bigrams"),
        sum(col("__m") * col("__llq")).as("sum_llq"))
      .withColumn("nll_milli",
        round(-col("sum_llq").cast("double") /
          (col("n_bigrams").cast("double") * 1000.0), 0).cast("long"))
  }

  /** Stupid Backoff trigram scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — THE web-scale
    * distributed-LM recipe: no discounting, no normalization, just
    * relative frequencies with a fixed backoff penalty, chosen
    * precisely because it MapReduces):
    *
    *   S(w3 | w1 w2) = c3(w1w2w3)/c2(w1w2)        if the trigram is in the model
    *                 = α · c2(w2w3)/c1(w2)         else if the bigram is
    *                 = α² · c1(w3)/T               else (OOV w3: α² · 1/T —
    *                                                the paper stops at the
    *                                                unigram MLE; a 1-pseudo-
    *                                                count keeps OOV finite
    *                                                and SQL-restatable)
    *
    * fit on `train` and applied to `score` (a perplexity-style quality
    * filter needs held-out scoring — fit on the corpus itself, every
    * trigram has support and backoff is dead code; [[bigramCrossEntropy]]
    * is that in-corpus variant). Output per scored doc: `(id,
    * n_trigrams, sb_cost)` where `sb_cost` = mean negative log2 S —
    * docs under 3 tokens yield no row.
    *
    * Scale shape: the three model tables are VOCAB-sized aggregates
    * (map-side combined); the scored side collapses per-doc trigram
    * multiplicities before any join, then meets the model in
    * token-keyed left joins AQE broadcasts when the model fits. T
    * rides in as a broadcast scalar. The backoff CASE never needs a
    * guard join: a trigram hit implies its context bigram is in c2,
    * a bigram hit implies w2 is in c1 — containment by construction.
    */
  def stupidBackoff(train: DataFrame, scored: DataFrame, idCol: String,
                    textCol: String, alpha: Double = 0.4): DataFrame = {
    val tok = graft.functions.TextFunctions.tokens _
    def grams(df: DataFrame, n: Int, names: Seq[String]): DataFrame = {
      val t = df.select(tok(col(textCol)).as("__t"))
      val width = greatest(size(col("__t")) - (n - 1), lit(0))
      t.select(explode(arrays_zip(
          (0 until n).map(i => slice(col("__t"), lit(i + 1), width)): _*)).as("__g"))
        .select((0 until n).map(i => col(s"__g.$i").as(names(i))): _*)
    }
    val c3 = grams(train, 3, Seq("w1", "w2", "w3"))
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    val c2 = grams(train, 2, Seq("wa", "wb"))
      .groupBy("wa", "wb").agg(count(lit(1)).as("c2"))
    val c1 = grams(train, 1, Seq("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val total = c1.agg(sum(col("c1")).as("__T"))

    val toks = scored.select(col(idCol).as("__id"), tok(col(textCol)).as("__t"))
    val width = greatest(size(col("__t")) - 2, lit(0))
    val trows = toks.select(col("__id"), explode(arrays_zip(
        slice(col("__t"), lit(1), width), slice(col("__t"), lit(2), width),
        slice(col("__t"), lit(3), width))).as("__g"))
      .select(col("__id"), col("__g.0").as("w1"), col("__g.1").as("w2"),
        col("__g.2").as("w3"))
      .groupBy("__id", "w1", "w2", "w3").agg(count(lit(1)).as("__m"))

    val a = lit(alpha)
    val s = trows
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2.select(col("wa").as("w1"), col("wb").as("w2"), col("c2").as("c2ctx")),
        Seq("w1", "w2"), "left")
      .join(c2.select(col("wa").as("w2"), col("wb").as("w3"), col("c2").as("c2b")),
        Seq("w2", "w3"), "left")
      .join(c1.select(col("w").as("w2"), col("c1").as("c1ctx")), Seq("w2"), "left")
      .join(c1.select(col("w").as("w3"), col("c1").as("c1t")), Seq("w3"), "left")
      .crossJoin(broadcast(total))
      .withColumn("__s",
        when(col("c3").isNotNull, col("c3").cast("double") / col("c2ctx"))
          .when(col("c2b").isNotNull, a * col("c2b").cast("double") / col("c1ctx"))
          .otherwise(a * a * coalesce(col("c1t"), lit(1L)).cast("double") / col("__T")))
    s.groupBy(col("__id").as(idCol))
      .agg(sum(col("__m")).as("n_trigrams"),
        (-sum(col("__m") * log2(col("__s"))) / sum(col("__m"))).as("sb_cost"))
  }

  /** Hashing-trick featurizer (Weinberger et al. 2009, "Feature Hashing
    * for Large Scale Multitask Learning"): tokens map to a fixed
    * `nBuckets`-dim space by hash, with a second hash choosing the SIGN
    * so collisions cancel in expectation instead of biasing upward —
    * the unbounded-vocabulary-to-fixed-width step a linear quality
    * model or any online learner needs, with no vocabulary table at
    * all.
    *
    * Hashes are the engine's portable md5-bucket primitive
    * ([[graft.operators.Sampling.hashBucket]] arithmetic): bucket =
    * first-8-hex-chars-of-md5 mod nBuckets, sign from the SECOND 8 hex
    * chars' parity — both restatable in any engine with md5. Output:
    * `(id, bucket, feat)` where feat = Σ sign over token OCCURRENCES
    * (signed term frequency), zero-sum buckets dropped (they ARE the
    * cancelled collisions — emitting 0-weight features defeats the
    * sparsity the trick exists for).
    *
    * Scale shape: one explode + map-side hash; per-doc buckets collapse
    * with a partial-aggregable sum. Feature width is a constant the
    * caller picks; the corpus shuffles only (id, bucket) partials.
    */
  def hashedFeatures(df: DataFrame, idCol: String, textCol: String,
                     nBuckets: Int = 1024): DataFrame = {
    require(nBuckets > 1, s"nBuckets must be > 1, got $nBuckets")
    val toks = df.select(col(idCol).as("__id"),
      explode(graft.functions.TextFunctions.tokens(col(textCol))).as("__w"))
    val h = md5(col("__w"))
    toks
      .withColumn("__bucket",
        conv(substring(h, 1, 8), 16, 10).cast("long") % nBuckets)
      .withColumn("__sign",
        when(conv(substring(h, 9, 8), 16, 10).cast("long") % 2 === 0, lit(1L))
          .otherwise(lit(-1L)))
      .groupBy(col("__id").as(idCol), col("__bucket").as("bucket"))
      .agg(sum(col("__sign")).as("feat"))
      .filter(col("feat") =!= 0L)
  }

  /** Cluster labeling by document-frequency lift: for every cluster of
    * an assignment table, the tokens that are discriminatively
    * OVER-represented there — `lift(t, c) = (df_c(t)/n_c) / (df(t)/n)`
    * — the catalog step after any clustering (k-means cells, near-dup
    * components, LSH buckets) that turns opaque cluster ids into
    * human-auditable topic labels. Document frequency (distinct
    * presence), not term frequency: a single doc repeating a token
    * can't fake a cluster theme. `minDocs` floors df_c (lift is noisy
    * on hapax evidence — the PMI minCount precedent).
    *
    * Scale shape: one distinct-token explode joined to the
    * (doc-sized) assignment; all aggregates collapse to
    * vocabulary×clusters / vocabulary / clusters sizes with map-side
    * combine; the final window runs over ≤ vocabulary-sized rows per
    * cluster. Nothing corpus-sized is broadcast.
    *
    * Output: (cluster, lift_rank, token, df_c, lift), top `topN`
    * tokens per cluster, lift descending, token tie-break.
    */
  def clusterLabels(assign: DataFrame, assignIdCol: String, clusterCol: String,
                    docs: DataFrame, idCol: String, textCol: String,
                    topN: Int = 5, minDocs: Long = 3): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    import org.apache.spark.sql.expressions.Window
    // the universe is the ASSIGNED docs — both df tables and both
    // totals normalize over the same population, so lift is a clean
    // ratio of proportions even under partial assignments. NB: the q142
    // oracle computes the global df over ALL documents; the two agree
    // only when every doc is assigned (true for q142's k-means input) —
    // under a partial assignment the oracle's tok CTE must be
    // restricted to assigned docs to keep parity with this definition
    val toks = docs.select(col(idCol).as("__id"),
      explode(array_distinct(filter(split(lower(trim(col(textCol))), " "),
        t => t =!= lit("")))).as("token"))
    val members = docs.select(col(idCol).as("__id"))
      .join(assign.select(col(assignIdCol).as("__id"), col(clusterCol).as("cluster")),
        Seq("__id"))
    val nC = members.groupBy(col("cluster")).agg(count(lit(1)).as("__n_c"))
    val nDocs = members.agg(count(lit(1)).as("__n"))
    val mToks = toks.join(members, Seq("__id"))
    val dfC = mToks
      .groupBy(col("cluster"), col("token")).agg(count(lit(1)).as("df_c"))
    val dfAll = mToks.groupBy(col("token")).agg(count(lit(1)).as("__df_all"))
    dfC.filter(col("df_c") >= minDocs)
      .join(nC, Seq("cluster"))
      .join(dfAll, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("lift",
        (col("df_c").cast("double") / col("__n_c")) /
          (col("__df_all").cast("double") / col("__n")))
      .withColumn("lift_rank", row_number().over(
        Window.partitionBy(col("cluster"))
          .orderBy(col("lift").desc, col("token").asc)))
      .filter(col("lift_rank") <= topN)
      .select(col("cluster"), col("lift_rank"), col("token"), col("df_c"), col("lift"))
  }

  /** Mutual information between two categorical columns,
    * MI = Σ_xy p(x,y) · ln(p(x,y) / (p(x)·p(y))) in nats — the
    * feature-selection / redundancy measure (Cover & Thomas ch.2).
    * Null categories count as their own level (consistent with GROUP BY
    * null semantics in both engines).
    *
    * Scale: one pass builds the CELL-sized contingency table (at most
    * |X|·|Y| rows — for real categorical columns, kilobytes regardless
    * of corpus size); marginals derive from it by re-aggregation, so
    * the corpus is scanned exactly once and everything downstream is
    * cell-sized broadcast arithmetic.
    * Output: one row (n, n_cells, mi).
    */
  def mutualInformation(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df.groupBy(col(colA).as("__x"), col(colB).as("__y"))
      .agg(count(lit(1)).as("__nxy"))
    val mx = cells.groupBy(col("__x")).agg(sum(col("__nxy")).as("__nx"))
    val my = cells.groupBy(col("__y")).agg(sum(col("__nxy")).as("__ny"))
    val n = cells.agg(sum(col("__nxy")).as("__n"))
    cells
      .join(broadcast(mx), Seq("__x"))
      .join(broadcast(my), Seq("__y"))
      .crossJoin(broadcast(n))
      .agg(
        max(col("__n")).as("n"),
        count(lit(1)).as("n_cells"),
        sum((col("__nxy") / col("__n")) *
          log((col("__nxy") * col("__n")) / (col("__nx") * col("__ny"))))
          .as("mi"))
  }
}
