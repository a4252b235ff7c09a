package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Trained character-n-gram language classifier: multinomial naive
  * Bayes over hashed char-3-gram features — the fastText-class model
  * shape (Joulin et al. '16; Cavnar-Trenkle '94 n-gram LID), trained
  * IN-ENGINE so a 100 TB corpus labels itself from a labeled sample
  * with no external artifact. Replaces nothing: the q30 stopword
  * heuristic stays as the zero-training fallback, but it goes blind on
  * short texts and no-stopword domains (code, tables, named entities)
  * — char-grams don't (the LangNbSpec fixtures pin exactly those
  * misclassifications).
  *
  * Model math, chosen to be ORACLE-REPLAYABLE end to end:
  *   - features: every char 3-gram of the whitespace-collapsed
  *     lowercased text, hashed to `buckets` ids via the first 4 md5
  *     digest bytes mod buckets (the [[graft.expressions.CharGramBuckets]]
  *     kernel ≡ DuckDB `CAST(('0x'||substring(md5(g),1,8)) AS BIGINT)
  *     % buckets`);
  *   - per-class gram log-likelihoods with add-one smoothing,
  *     QUANTIZED to integer micro-log units:
  *     llq(c,b) = round(ln((cnt(c,b)+1)/(tot(c)+buckets))·10⁶);
  *   - log-priors likewise: pq(c) = round(ln(docs(c)/docs)·10⁶);
  *   - a document's class score = pq(c) + Σ_grams llq(c, bucket) —
  *     a SUM OF LONGS, so it is exact and summation-ORDER-independent,
  *     which is what lets DuckDB's unordered `sum()` hash-match Spark's
  *     (the engine's integer-quantization convention: double addition
  *     is non-associative, long addition is).
  *
  * All quantization happens in Spark SQL `round()` (BigDecimal
  * HALF_UP = half away from zero, matching DuckDB `round`) — never
  * `math.round`, whose half-toward-+∞ differs on negative ties.
  *
  * Scale shape: training is one explode + map-side-combined
  * count aggregate whose output is bounded by classes × buckets (the
  * driver collect is GATED on that product, the bounded-collect
  * convention); scoring is map-side only — one fused kernel pass per
  * document + an argmax over the broadcast model, no shuffle.
  */
object LangNb {

  /** Micro-log quantization: 10⁶ units per natural-log unit. */
  val Scale = 1e6

  final case class Model(langs: Array[String], priorsQ: Array[Long],
                         logLikQ: Array[Array[Long]], defaultQ: Array[Long],
                         n: Int, buckets: Int) {
    /** Score text grams (bucket ids) against every class; argmax with
      * lang-ascending tie-break (langs is sorted, strict > keeps the
      * first maximum).
      */
    def predict(grams: Seq[Int]): (String, Long) = {
      var bestI = 0
      var bestS = Long.MinValue
      var c = 0
      while (c < langs.length) {
        var s = priorsQ(c)
        val ll = logLikQ(c)
        grams.foreach(b => s += ll(b))
        if (s > bestS) { bestS = s; bestI = c }
        c += 1
      }
      (langs(bestI), bestS)
    }

    /** [[predict]] plus the winner-vs-runner-up margin (exact long
      * difference of the two top scores) — the routing-confidence
      * signal a curation pipeline thresholds before committing a
      * document to a per-language path. Single-class models have no
      * runner-up; margin 0 by convention.
      */
    def predictWithMargin(grams: Seq[Int]): (String, Long, Long) = {
      var bestI = 0
      var bestS = Long.MinValue
      var secondS = Long.MinValue
      var c = 0
      while (c < langs.length) {
        var s = priorsQ(c)
        val ll = logLikQ(c)
        grams.foreach(b => s += ll(b))
        if (s > bestS) { secondS = bestS; bestS = s; bestI = c }
        else if (s > secondS) { secondS = s }
        c += 1
      }
      (langs(bestI), bestS, if (langs.length < 2) 0L else bestS - secondS)
    }
  }

  /** The normalization both train and predict share: lowercase, trim,
    * collapse whitespace runs to one space — so line breaks don't mint
    * distinct grams. DuckDB replay:
    * `regexp_replace(lower(trim(text)), '\s+', ' ', 'g')`.
    */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Hashed char-n-gram bucket ids of a text column (the fused
    * [[graft.expressions.CharGramBuckets]] kernel; one pass, codegen'd).
    */
  def gramBuckets(text: Column, n: Int, buckets: Int): Column =
    GraftFunctions.call("char_gram_buckets", normalized(text), lit(n), lit(buckets))

  /** Train on a labeled corpus: one aggregate per model table (gram
    * counts ≤ classes×buckets rows, class totals, doc priors), all
    * quantization in Spark SQL. The collect is bounded by
    * classes × buckets and gated at `maxCells` — past that the model
    * belongs in a table, not driver memory.
    */
  def fit(df: DataFrame, textCol: String, labelCol: String,
          n: Int = 3, buckets: Int = 1024,
          maxCells: Long = 4L * 1024 * 1024): Model = {
    val docs = df.filter(col(textCol).isNotNull)
      .select(col(labelCol).cast("string").as("lang"), col(textCol).as("__t"))
    // no FanOut here: the r15 A/B (bench_fanout_on/off, committed in
    // OPTIMIZATION_r15.md) measured the probe+shuffle costing MORE than
    // the parallelism buys on this kernel (q248 1.18x slower with it)
    val grams = docs.select(col("lang"),
      explode(gramBuckets(col("__t"), n, buckets)).as("b"))
    // persisted: counts (≤ classes×buckets rows) feeds both the class
    // totals and the final log-likelihood join — without the cache the
    // corpus-sized gram pass above runs once per consumer
    val counts = grams.groupBy(col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
      .persist()
    graft.Caches.track(counts)
    val totals = counts.groupBy(col("lang")).agg(sum(col("c")).as("tot"))
    val docCounts = docs.groupBy(col("lang")).agg(count(lit(1)).as("docs"))

    // priors + per-class defaults: one small collect each (≤ classes
    // rows; the total joins in as a broadcast 1-row aggregate — not a
    // global window, whose single-partition exec this engine bans)
    val priorRows = docCounts
      .crossJoin(broadcast(docCounts.agg(sum(col("docs")).as("__total"))))
      .select(col("lang"),
        round(log(col("docs").cast("double") / col("__total")) * Scale, 0)
          .cast("long").as("pq"))
      .collect()
    val langs = priorRows.map(_.getString(0)).sorted
    require(langs.length.toLong * buckets <= maxCells,
      s"model of ${langs.length} classes x $buckets buckets exceeds the " +
        s"$maxCells-cell driver gate; raise maxCells or store the model as a table")
    val langIdx = langs.zipWithIndex.toMap
    val priorsQ = new Array[Long](langs.length)
    priorRows.foreach(r => priorsQ(langIdx(r.getString(0))) = r.getLong(1))

    val defaultQ = new Array[Long](langs.length)
    totals
      .select(col("lang"),
        round(log(lit(1.0) / (col("tot") + buckets)) * Scale, 0)
          .cast("long").as("dq"))
      .collect()
      .foreach(r => defaultQ(langIdx(r.getString(0))) = r.getLong(1))

    val logLikQ = Array.tabulate(langs.length)(c => Array.fill(buckets)(defaultQ(c)))
    counts.join(totals, Seq("lang"))
      .select(col("lang"), col("b"),
        round(log((col("c") + 1).cast("double") / (col("tot") + buckets)) * Scale, 0)
          .cast("long").as("llq"))
      .collect()
      .foreach(r => logLikQ(langIdx(r.getString(0)))(r.getInt(1)) = r.getLong(2))
    Model(langs, priorsQ, logLikQ, defaultQ, n, buckets)
  }

  /** Score a corpus against a trained model map-side: one fused gram
    * pass + broadcast-model argmax per row, no shuffle. Adds
    * `pred_lang` and the exact integer score `score_q`. Null text
    * scores as an EMPTY gram set (prior-only argmax) — [[fit]] filters
    * nulls out of training, but the scoring API must not NPE on them
    * (the gram kernel is null-intolerant, so the UDF sees a null Seq).
    */
  def predict(df: DataFrame, textCol: String, model: Model): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val score = udf((grams: Seq[Int]) =>
      bc.value.predict(if (grams == null) Nil else grams))
    df.withColumn("__pred",
        score(gramBuckets(col(textCol), model.n, model.buckets)))
      .withColumn("pred_lang", col("__pred._1"))
      .withColumn("score_q", col("__pred._2"))
      .drop("__pred")
  }

  /** [[predict]] plus the exact winner-vs-runner-up margin column
    * (`margin_q`, integer micro-log units) — same map-side shape and
    * the same null-text contract (empty grams, prior-only score).
    */
  def predictMargins(df: DataFrame, textCol: String, model: Model): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val score = udf((grams: Seq[Int]) =>
      bc.value.predictWithMargin(if (grams == null) Nil else grams))
    df.withColumn("__pred",
        score(gramBuckets(col(textCol), model.n, model.buckets)))
      .withColumn("pred_lang", col("__pred._1"))
      .withColumn("score_q", col("__pred._2"))
      .withColumn("margin_q", col("__pred._3"))
      .drop("__pred")
  }
}
