package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Text-analysis operators for LLM training-data pipelines: token stats,
  * quality scoring, stopword-profile language ID, and document
  * fingerprinting. No reference implementation (SURVEY.md §7.4) — spec'd
  * from standard corpus-filtering practice (C4/Gopher-style quality rules).
  * Everything is built-in expressions (split/HOFs/regexp) — no UDFs, so the
  * scan stays whole-stage-codegen'd or at worst native-expression-evaluated,
  * and at 100 TB these are pure map-side columns computed in the same pass
  * as the parquet scan.
  */
object TextFunctions {

  /** Whitespace tokens, lowercased. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-style pre-tokenization (GPT-2's pattern, Java-regex dialect):
    * contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs, residual whitespace. Counts approximate LLM token
    * budgets far better than whitespace splitting (punctuation and digits
    * tokenize separately; CJK text splits per letter-run, not per line).
    */
  private val bpePattern =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+"

  /** All BPE-ish tokens (array). */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpePattern), lit(0))

  /** BPE-ish token count — whitespace-only residuals excluded so the
    * count reflects content tokens.
    */
  def bpeishTokenCount(text: Column): Column =
    size(filter(bpeishTokens(text), t => t.rlike("\\S")))

  /** Distinct-token fraction — low values flag boilerplate/spam. */
  def uniqueTokenRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") / size(tokens(text))

  /** Mean token length in characters. */
  def avgTokenLength(text: Column): Column = {
    val t = tokens(text)
    aggregate(t, lit(0L), (acc, w) => acc + length(w)).cast("double") / size(t)
  }

  /** Fraction of characters that are punctuation. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
      length(text)

  /** Fraction of tokens found in `stopwords` (a bounded literal list). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val t = tokens(text)
    size(filter(t, w => w.isInCollection(stopwords))).cast("double") / size(t)
  }

  /** ALL token statistics in one native pass — `struct<n_tokens,
    * n_unique, sum_token_len, n_stopwords>` via the JIT'd
    * [[graft.expressions.TextArrayStats]] kernel. The per-stat columns
    * above each re-run `split` AND evaluate their lambda interpreted
    * per element; for corpus-wide profiling use this (split once, one
    * array scan). Value-compatible with the declarative forms.
    */
  def tokenStatsNative(text: Column, stopwords: Seq[String]): Column =
    tokenStatsNative(text, stopwords, Tokenize.Whitespace)

  /** [[tokenStatsNative]] through the tokenizer seam — pass
    * [[Tokenize.Unicode]] for CJK/Thai corpora, where whitespace
    * "tokens" are whole clauses and every ratio below is meaningless.
    *
    * Whitespace mode feeds the RAW split (keeps the "" token an empty
    * document produces) — NOT `Tokenize.tokens`' filtered form — so the
    * kernel stays value-compatible with the declarative per-stat columns
    * and the q29 oracle's unfiltered `string_split` (the spec's empty-doc
    * fixture caught the filtered variant drifting: n_tokens 0 vs 1).
    */
  def tokenStatsNative(text: Column, stopwords: Seq[String],
                       mode: Tokenize.Mode): Column = {
    val toks = mode match {
      case Tokenize.Whitespace => tokens(text)
      case _ => Tokenize.tokens(text, mode)
    }
    GraftFunctions.call("text_array_stats", toks, typedlit(stopwords))
  }

  /** Composite quality score in [0,1], Gopher-flavoured: rewards normal
    * token lengths, lexical diversity and some stopword mass; penalizes
    * punctuation soup. Weights are engine policy, not reference semantics.
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lenOk = when(tokenCount(text).between(5, 10000), lit(1.0)).otherwise(lit(0.0))
    val wordLenOk = when(avgTokenLength(text).between(2.0, 12.0), lit(1.0)).otherwise(lit(0.0))
    val diversity = least(uniqueTokenRatio(text) * 2.0, lit(1.0))
    val stop = least(stopwordRatio(text, stopwords) * 5.0, lit(1.0))
    val punctOk = lit(1.0) - least(punctRatio(text) * 4.0, lit(1.0))
    round(lenOk * 0.2 + wordLenOk * 0.2 + diversity * 0.2 + stop * 0.2 + punctOk * 0.2, 6)
  }

  // ------------------------------------------------------------------
  // Language identification (stopword-profile heuristic)
  // ------------------------------------------------------------------

  /** Tiny high-frequency function-word profiles. A real pipeline would use
    * char n-gram profiles over a trained table; the operator shape (score
    * per language in one map-side pass, argmax with deterministic
    * tie-break) is what matters for the engine.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von"),
    "en" -> Seq("the", "a", "and", "is", "not", "of", "to", "in", "it", "that"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "no", "un", "una", "de"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "un", "une", "dans", "que"),
    "zh" -> Seq("的", "是", "不", "了", "在", "我", "有", "和", "就", "人"))

  /** Hit-count of one language profile against the token list. */
  def langHits(text: Column, lang: String): Column = {
    val words = langProfiles.toMap.apply(lang)
    size(filter(tokens(text), w => w.isInCollection(words)))
  }

  /** Predicted language: argmax of profile hit-counts; ties break to the
    * lexicographically first language code; all-zero scores → "und"
    * (undetermined, BCP-47 style).
    */
  def langId(text: Column): Column = {
    // max hits wins; ties break to the lexicographically FIRST lang, so a
    // plain sort_array desc on (hits, lang) structs won't do — filter to
    // the max-hits entries and take the min lang.
    val arr = array(langProfiles.map { case (lang, _) =>
      struct(langHits(text, lang).as("hits"), lit(lang).as("lang"))
    }: _*)
    val maxHits = array_max(transform(arr, s => s.getField("hits")))
    val winners = filter(arr, s => s.getField("hits") === maxHits)
    val winner = array_min(transform(winners, s => s.getField("lang")))
    when(maxHits === 0, lit("und")).otherwise(winner)
  }

  /** Corpus-scale language scoring: explode tokens once, one codegen'd
    * hash aggregate computing every profile's hit count, argmax with the
    * same tie-break as [[langId]]. The per-row HOF variants above
    * re-evaluate the token split per profile (~12× per row measured at
    * bench) — this is the path for bulk scoring.
    * Output: (id, <lang>_hits per profile, pred_lang).
    */
  def langScoreTable(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    val hits = langProfiles.map { case (lang, words) =>
      sum(when(col("__tok").isInCollection(words), 1).otherwise(0)).as(s"${lang}_hits")
    }
    val scored = df
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("__tok"))
      .groupBy(col("id"))
      .agg(hits.head, hits.tail: _*)
    val hitCols = langProfiles.map { case (lang, _) => col(s"${lang}_hits") }
    val maxHits = greatest(hitCols: _*)
    // first profile (lexicographic order) reaching the max wins
    val pred = langProfiles.map(_._1).foldRight(lit("und")) { (lang, rest) =>
      when(col(s"${lang}_hits") === maxHits, lit(lang)).otherwise(rest)
    }
    scored.withColumn("pred_lang", when(maxHits === 0, lit("und")).otherwise(pred))
  }

  // ------------------------------------------------------------------
  // Fingerprinting
  // ------------------------------------------------------------------

  /** Content fingerprint: md5 hex of the whitespace-normalized lowercase
    * text — stable across engines (pure function of bytes).
    */
  /** Identifier-aware tokenization for CODE corpora: splits camelCase
    * and PascalCase at lower→upper and letter→digit boundaries, treats
    * `_ . - #` runs as separators, lowercases — `parseHttpRequest2` →
    * [parse, http, request, 2]. Whitespace tokenizers leave identifiers
    * as opaque blobs, inflating code-corpus vocabulary by orders of
    * magnitude. Regexes avoid lookarounds (RE2-compatible: the same
    * transform is writable in engines without backtracking).
    */
  def codeTokens(text: Column): Column = {
    val split1 = regexp_replace(text, "([a-z0-9])([A-Z])", "$1 $2")
    val split2 = regexp_replace(split1, "([A-Za-z])([0-9])", "$1 $2")
    val sep = regexp_replace(split2, "[_.\\-#]+", " ")
    array_remove(split(lower(trim(sep)), "\\s+"), "")
  }

  def contentFingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Winnowing-style rolling fingerprint (Schleimer et al. '03): hash every
    * k-gram shingle, slide a window of `w` hashes, keep each window's
    * minimum — the classic local document fingerprint set for plagiarism /
    * near-dup detection. Output: array of selected hashes (distinct,
    * sorted for determinism).
    */
  def winnowingFingerprints(text: Column, k: Int = 3, w: Int = 4): Column = {
    val toks = tokens(text)
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - k, lit(0))),
      i => xxhash64(array_join(slice(toks, i + 1, lit(k)), " ")))
    val windows = transform(
      sequence(lit(0), greatest(size(grams) - w, lit(0))),
      i => array_min(slice(grams, i + 1, lit(w))))
    array_sort(array_distinct(windows))
  }

  /** Engine-portable winnowing ([[winnowingFingerprints]] with md5-
    * prefix gram hashes instead of xxhash64): any engine with md5 can
    * recompute the fingerprint set, which is what makes a MOSS-style
    * overlap ORACLE possible ([[graft.operators.Dedup
    * .winnowedOverlapPairs]]). Same selection semantics: hash every
    * k-gram, slide a w-window, keep each window's minimum, distinct +
    * sorted. xxhash64 stays the fast path where portability doesn't
    * matter.
    */
  def winnowingFingerprintsPortable(text: Column, k: Int = 3, w: Int = 4): Column = {
    val toks = tokens(text)
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - k, lit(0))),
      i => conv(substring(md5(array_join(slice(toks, i + 1, lit(k)), " ")), 1, 8),
        16, 10).cast("long"))
    val windows = transform(
      sequence(lit(0), greatest(size(grams) - w, lit(0))),
      i => array_min(slice(grams, i + 1, lit(w))))
    array_sort(array_distinct(windows))
  }

  /** Gopher-style repetition profile (Rae et al. '21 §A1.1 quality
    * heuristics): per document, the fraction of n-gram mass held by the
    * single most frequent n-gram (`top_frac`) and the fraction that is
    * repeat occurrences (`dup_frac` = 1 − distinct/total) — high values
    * flag boilerplate, keyword stuffing, and degenerate generations that
    * per-token stats (q29) can't see. Documents with fewer than n tokens
    * produce no row (no n-gram exists — the oracle agrees).
    *
    * Runs on the fused native kernel
    * ([[graft.expressions.NgramRepetition]]): one local hash-map pass
    * per document, ZERO shuffle — the declarative explode + double-agg
    * form paid an interpreted lambda per element plus two corpus-sized
    * exchanges (measured 8.7 s → sub-second at sf0.1) and is kept below
    * as the kernel's executable spec. Fractions are exact long/long
    * divisions — engine-portable, no float-association risk.
    */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, n: Int = 2): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    df.select(col(idCol),
        GraftFunctions.call("ngram_repetition", tokens(col(textCol)), lit(n)).as("__r"))
      .filter(col("__r.n_grams") > 0)
      .select(col(idCol), col("__r.n_grams").as("n_grams"),
        (col("__r.top_cnt").cast("double") / col("__r.n_grams")).as("top_frac"),
        (lit(1.0) - col("__r.distinct_cnt").cast("double") / col("__r.n_grams")).as("dup_frac"))
  }

  /** URL canonicalization for page-level dedup: lowercase scheme+host,
    * strip the fragment, strip tracking query params (utm_*, fbclid,
    * gclid, ref), drop an empty leftover '?', and remove a trailing
    * slash on non-root paths — the normalization that makes
    * 'HTTPS://Example.com/a/?utm_source=x' and 'https://example.com/a'
    * the SAME page before fingerprint dedup. Pure regexp chain
    * (codegen'd, map-side); engine-portable (the q71 oracle re-runs the
    * identical RE2-compatible patterns).
    */
  def normalizeUrl(url: Column): Column = {
    // lowercase scheme://host (group 1), keep the rest as-is
    val hostLower = concat(
      lower(regexp_extract(url, "^([a-zA-Z]+://[^/?#]*)", 1)),
      regexp_extract(url, "^[a-zA-Z]+://[^/?#]*(.*)$", 1))
    val noFragment = regexp_replace(hostLower, "#.*$", "")
    // tracking params must start at a [?&] boundary — an unanchored match
    // eats the tail of longer names ('?href=1' -> '?h'), merging distinct
    // pages. The kept boundary char may leave '&&' / '?&' / trailing
    // separators; three tidy passes normalize them.
    val noTracking = regexp_replace(noFragment,
      "([?&])(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*", "$1")
    val tidy = regexp_replace(regexp_replace(regexp_replace(noTracking,
      "&&+", "&"), "\\?&", "?"), "[?&]+$", "")
    // trailing slash on a non-root path
    regexp_replace(tidy, "(://[^/?#]+/.+?)/$", "$1")
  }

  /** Per-document Shannon entropy of the token (or n-gram) distribution,
    * in bits: `H = log2(N) − Σ c·log2(c) / N` — the information-density
    * quality signal that catches low-entropy boilerplate ("click here
    * click here …") AND high-entropy noise (random strings) that the
    * ratio stats miss; standard alongside the Gopher repetition rules.
    * Documents with no n-gram produce no row (same contract as
    * [[repetitionStats]]).
    *
    * Same fused kernel as [[repetitionStats]] (the per-doc gram hash map
    * yields Σc·ln c in the same pass): map-side, ZERO shuffle — per-doc
    * entropy never needs the corpus-wide exchanges of the naive
    * explode + two-level aggregate form (kept below as the executable
    * spec).
    */
  def tokenEntropyTable(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, n: Int = 1): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    df.select(col(idCol),
        GraftFunctions.call("ngram_repetition", tokens(col(textCol)), lit(n)).as("__r"))
      .filter(col("__r.n_grams") > 0)
      .select(col(idCol), col("__r.n_grams").as("n_grams"),
        ((log(col("__r.n_grams")) - col("__r.sum_c_ln_c") / col("__r.n_grams"))
          / math.log(2.0)).as("entropy_bits"))
  }

  /** Declarative form of [[tokenEntropyTable]] (explode → (doc, gram)
    * counts → per-doc Σc·ln c) — the kernel's executable specification;
    * `TextFunctionsSpec` pins kernel ≡ declarative.
    */
  def tokenEntropyTableDeclarative(df: org.apache.spark.sql.DataFrame, idCol: String,
                                   textCol: String, n: Int = 1): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    val toks = tokens(col(textCol))
    val grams = when(size(toks) >= n, transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol), explode(grams).as("__gram"))
      .groupBy(col(idCol), col("__gram"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_grams"),
        sum(col("__c").cast("double") * log(col("__c").cast("double"))).as("__sclc"))
      .select(col(idCol), col("n_grams"),
        ((log(col("n_grams")) - col("__sclc") / col("n_grams")) / math.log(2.0))
          .as("entropy_bits"))
  }

  /** Model-based quality scoring: a fixed-weight logistic model over the
    * per-document stats (log token count, unique-token ratio, mean token
    * length, stopword ratio) — the engine-side shape of "apply a trained
    * quality classifier to every document" (fastText/linear classifiers
    * in CCNet/LLaMA-style pipelines). Weights arrive as data (broadcast
    * policy, not code); inference is a pure map-side projection over the
    * one-pass stats kernel — at 100 TB model scoring adds zero shuffle
    * to the scan. Output: (id, score∈(0,1), keep = score ≥ threshold).
    */
  def qualityModelTable(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, stopwords: Seq[String],
                        weights: QualityWeights = QualityWeights.default,
                        threshold: Double = 0.5): org.apache.spark.sql.DataFrame = {
    val s = GraftFunctions.call("text_array_stats", tokens(col(textCol)), typedlit(stopwords))
    val nTok = col("__s.n_tokens").cast("double")
    val z = lit(weights.bias) +
      lit(weights.wLogTokens) * log(nTok + 1.0) +
      lit(weights.wUniqueRatio) * (col("__s.n_unique") / nTok) +
      lit(weights.wAvgTokenLen) * (col("__s.sum_token_len") / nTok) +
      lit(weights.wStopwordRatio) * (col("__s.n_stopwords") / nTok)
    df.select(col(idCol), s.as("__s"))
      .filter(col("__s.n_tokens") > 0)
      .select(col(idCol), (lit(1.0) / (lit(1.0) + exp(-z))).as("score"))
      .withColumn("keep", col("score") >= threshold)
  }

  /** Logistic quality-model coefficients. The defaults reward stopword
    * mass and lexical diversity with a mild length prior — engine
    * policy standing in for trained coefficients, which drop in as data.
    */
  case class QualityWeights(bias: Double, wLogTokens: Double, wUniqueRatio: Double,
                            wAvgTokenLen: Double, wStopwordRatio: Double)
  object QualityWeights {
    val default: QualityWeights =
      QualityWeights(bias = -3.0, wLogTokens = 0.4, wUniqueRatio = 2.0,
        wAvgTokenLen = 0.1, wStopwordRatio = 4.0)
  }

  /** Declarative (explode + aggregate) form of [[repetitionStats]] —
    * the kernel's executable specification; `TextFunctionsSpec` pins
    * kernel ≡ declarative.
    */
  def repetitionStatsDeclarative(df: org.apache.spark.sql.DataFrame, idCol: String,
                                 textCol: String, n: Int = 2): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    val toks = tokens(col(textCol))
    val grams = when(size(toks) >= n, transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol), explode(grams).as("__gram"))
      .groupBy(col(idCol), col("__gram"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col(idCol))
      .agg(sum(col("__cnt")).as("n_grams"),
        max(col("__cnt")).as("__top"),
        count(lit(1)).as("__distinct"))
      .select(col(idCol), col("n_grams"),
        (col("__top").cast("double") / col("n_grams")).as("top_frac"),
        (lit(1.0) - col("__distinct").cast("double") / col("n_grams")).as("dup_frac"))
  }
}
