package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Gopher/C4-style document-quality rule pack — the published heuristic
  * filter set a pretraining pipeline runs over every crawled document,
  * composed as ONE map-side operator emitting per-rule booleans plus an
  * overall keep flag.
  *
  * Rules and thresholds are the published ones:
  *
  *  - Gopher (Rae et al. '21, Table A1):
  *      word count in [50, 100000]; mean word length in [3, 10];
  *      symbol-to-word ratio ('#' and ellipsis) ≤ 0.1; lines starting
  *      with a bullet ≤ 90%; lines ending in an ellipsis ≤ 30%; words
  *      with ≥1 alphabetic character ≥ 80%; ≥ 2 distinct of the 8
  *      "stop words" (the, be, to, of, and, that, have, with);
  *      duplicate-line fraction ≤ 0.30; top 2-gram fraction ≤ 0.20;
  *      top 3-gram fraction ≤ 0.18. (The n-gram rules here use the
  *      gram-count fraction top_cnt∕n_grams — the q64 repetition
  *      statistic — where the paper uses the character fraction; same
  *      signal, exactly restatable by an external SQL engine.)
  *  - C4 (Raffel et al. '20 §2.2): drop pages containing '{' (code)
  *      and pages containing "lorem ipsum" (placeholder text).
  *
  * Shape at 100 TB: ONE projection — split once, derive every rule
  * from the shared token/line arrays, with the repeated-n-gram signal
  * from the native one-pass [[graft.expressions.NgramRepetition]]
  * kernel (zero shuffle, zero row amplification; the stats never leave
  * the row). No UDF, no window, no aggregate — the filter composes
  * with a parquet scan and keeps whole-stage codegen intact.
  */
object QualityRules {

  /** Gopher's stop-word list (Table A1) — presence of ≥2 distinct. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The 12 rule column names, in declaration order. */
  val ruleNames: Seq[String] = Seq("r_word_count", "r_mean_word_len",
    "r_symbol_ratio", "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
    "r_stopwords", "r_dup_lines", "r_top_2gram", "r_top_3gram",
    "r_no_brace", "r_no_lorem")

  /** Per-document rule table: id, audit stats (n_words, n_lines,
    * mean_word_len), the 12 rule booleans (r_*), and `keep` = AND of
    * all rules. Null text = empty document (every count 0).
    * `carryCols` pass through untouched (e.g. the host for [[hostGate]]).
    */
  def ruleTable(df: DataFrame, idCol: String, textCol: String,
                stopwords: Seq[String] = gopherStopwords,
                carryCols: Seq[String] = Nil): DataFrame = {
    val txt = coalesce(col(textCol).cast("string"), lit(""))
    val base = df.select(col(idCol) +: carryCols.map(col) :+ txt.as("__t"): _*)
      .withColumn("__w", filter(split(trim(col("__t")), "\\s+"),
        w => length(w) > 0))
      .withColumn("__wl", transform(col("__w"), w => lower(w)))
      .withColumn("__l", filter(transform(split(col("__t"), "\n"),
        l => trim(l)), l => length(l) > 0))
      .withColumn("__r2", GraftFunctions.call("ngram_repetition", col("__wl"), lit(2)))
      .withColumn("__r3", GraftFunctions.call("ngram_repetition", col("__wl"), lit(3)))
    val nW = size(col("__w")).cast("long")
    val nL = size(col("__l")).cast("long")
    def frac(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den.cast("double")).otherwise(lit(0.0))
    val meanLen = frac(aggregate(col("__w"), lit(0L),
      (acc, w) => acc + length(w).cast("long")), nW)
    // '#' count + '…' count + non-overlapping '...' count (both engines
    // replace left-to-right non-overlapping, so the counts agree)
    def occ(c: Column, sub: String): Column =
      ((length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(sub), "")))
        / sub.length).cast("long")
    val symbols = occ(col("__t"), "#") + occ(col("__t"), "…") +
      occ(col("__t"), "...")
    val bulletFrac = frac(size(filter(col("__l"),
      l => l.rlike("^[-*•]"))).cast("long"), nL)
    val ellipsisFrac = frac(size(filter(col("__l"),
      l => l.endsWith("...") || l.endsWith("…"))).cast("long"), nL)
    val alphaFrac = frac(size(filter(col("__w"),
      w => w.rlike("[A-Za-z]"))).cast("long"), nW)
    val stopHits = size(filter(
      typedLit(stopwords),
      sw => array_contains(col("__wl"), sw))).cast("long")
    val dupLineFrac = frac(nL - size(array_distinct(col("__l"))).cast("long"), nL)
    def topFrac(r: Column): Column =
      frac(r.getField("top_cnt"), r.getField("n_grams"))
    base.select(col(idCol) +: carryCols.map(col) ++: Seq(
        nW.as("n_words"),
        nL.as("n_lines"),
        round(meanLen, 6).as("mean_word_len"),
        (nW >= 50 && nW <= 100000).as("r_word_count"),
        (meanLen >= 3.0 && meanLen <= 10.0).as("r_mean_word_len"),
        (frac(symbols, nW) <= 0.1).as("r_symbol_ratio"),
        (bulletFrac <= 0.9).as("r_bullet_lines"),
        (ellipsisFrac <= 0.3).as("r_ellipsis_lines"),
        (alphaFrac >= 0.8).as("r_alpha_words"),
        (stopHits >= 2).as("r_stopwords"),
        (dupLineFrac <= 0.3).as("r_dup_lines"),
        (topFrac(col("__r2")) <= 0.2).as("r_top_2gram"),
        (topFrac(col("__r3")) <= 0.18).as("r_top_3gram"),
        (!col("__t").contains("{")).as("r_no_brace"),
        (!lower(col("__t")).contains("lorem ipsum")).as("r_no_lorem")): _*)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") && col("r_symbol_ratio") &&
          col("r_bullet_lines") && col("r_ellipsis_lines") && col("r_alpha_words") &&
          col("r_stopwords") && col("r_dup_lines") && col("r_top_2gram") &&
          col("r_top_3gram") && col("r_no_brace") && col("r_no_lorem"))
  }

  /** Host-level curation gate (the C4/RefinedWeb practice of dropping
    * WHOLE hosts whose document quality collapses — a bad host is a
    * better predictor than any single bad page): per host, document
    * and keep counts, the keep rate, per-rule failure counts (which
    * rule sinks this host), and `host_keep` = keep_rate ≥ minKeepRate.
    *
    * Shape at 100 TB: the map-side [[ruleTable]] projection followed by
    * ONE hash aggregate keyed on the host — host-sized output,
    * map-side-combined counts, no second corpus pass.
    */
  def hostGate(df: DataFrame, idCol: String, textCol: String,
               hostCol: String, stopwords: Seq[String] = gopherStopwords,
               minKeepRate: Double = 0.5): DataFrame = {
    require(minKeepRate >= 0 && minKeepRate <= 1,
      s"minKeepRate must be in [0,1], got $minKeepRate")
    val rules = ruleTable(df, idCol, textCol, stopwords, carryCols = Seq(hostCol))
    val aggs = sum(col("keep").cast("long")).as("n_keep") +:
      ruleNames.map(rc =>
        sum((!col(rc)).cast("long")).as("n_fail_" + rc.stripPrefix("r_")))
    rules.groupBy(col(hostCol).as("host"))
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
      .withColumn("keep_rate",
        round(col("n_keep").cast("double") / col("n_docs"), 6))
      .withColumn("host_keep",
        col("n_keep").cast("double") / col("n_docs") >= minKeepRate)
  }
}
