package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Generation-quality text metrics — sentence BLEU (Papineni et al.
  * ACL '02) and ROUGE-N precision/recall/F1 (Lin '04) — as map-side
  * dataframe operators. No reference implementation (the reference is
  * an ETL pipeline); spec'd from the papers, with the clipped-count
  * kernel in [[graft.expressions.NgramOverlapStats]].
  *
  * Shape for scale: both metrics are per-(candidate, reference) PAIR
  * scalars, and the pair's two token arrays are colocated in one row,
  * so the whole metric family is a projection — no shuffle, no
  * explode-join per n-gram order, and the corpus is scanned once. The
  * only shuffle in a full evaluation run is whatever JOIN built the
  * pair table (and for the adjacent-pair harness below, a single
  * window over the source partition).
  */
object TextEval {

  /** Whitespace tokens, lowercased, empties dropped (split on a
    * literal space — the DuckDB-replayable form used by the dedup
    * oracles). The tokenizer seam: metrics that accept a
    * [[graft.functions.Tokenize.Mode]] route through it so CJK/Thai
    * corpora get real word tokens ([[graft.functions.Tokenize]]).
    */
  private def toks(text: Column): Column =
    toks(text, graft.functions.Tokenize.Whitespace)

  private def toks(text: Column, mode: graft.functions.Tokenize.Mode): Column =
    graft.functions.Tokenize.tokensSpaceSplit(text, mode)

  /** Deterministic evaluation pairs: each document as candidate
    * against the NEXT doc id within its `partCol` group as reference
    * (lead over a keyed window — SQL-replayable, SF-independent, and
    * meaningful on a corpus with shared vocabulary). Last doc of each
    * group has no reference and is dropped.
    */
  def adjacentPairs(docs: DataFrame, idCol: String, textCol: String,
                    partCol: String): DataFrame =
    adjacentPairsKeep(docs, idCol, textCol, partCol).drop(partCol)

  /** [[adjacentPairs]] retaining the grouping column — the form the
    * corpus-level aggregates ([[corpusBleu]], [[selfBleu]]) group by.
    */
  private def adjacentPairsKeep(docs: DataFrame, idCol: String, textCol: String,
                                partCol: String): DataFrame = {
    // the window must order by the POST-rename id — idCol no longer
    // exists after the select below
    val w = Window.partitionBy(col(partCol)).orderBy(col("cand_id"))
    docs
      .select(col(idCol).as("cand_id"), col(textCol).as("cand_text"), col(partCol))
      .withColumn("ref_id", lead(col("cand_id"), 1).over(w))
      .withColumn("ref_text", lead(col("cand_text"), 1).over(w))
      .filter(col("ref_id").isNotNull)
  }

  /** The shared stats column: `array<struct<n, clipped, cand_total,
    * ref_total>>` for n = 1..maxN, one kernel pass per pair row.
    */
  private def overlapStats(candText: Column, refText: Column, maxN: Int,
                           mode: graft.functions.Tokenize.Mode =
                             graft.functions.Tokenize.Whitespace): Column =
    GraftFunctions.call("ngram_overlap_stats",
      toks(candText, mode), toks(refText, mode), lit(maxN))

  /** Sentence BLEU-maxN with Lin–Och add-one smoothing for n ≥ 2
    * (NIST '04 smoothing-1: `(clipped+1)/(total+1)` so a missing
    * higher-order match degrades instead of zeroing the geometric
    * mean; the unigram term stays unsmoothed, so an empty or fully
    * disjoint candidate still scores 0). Brevity penalty
    * `min(1, e^(1 - r/c))` on unigram lengths. Output per pair:
    * `c_len, r_len, m1..m{maxN} (clipped counts), bp, bleu`.
    */
  def bleu(pairs: DataFrame, candTextCol: String, refTextCol: String,
           maxN: Int = 4,
           mode: graft.functions.Tokenize.Mode =
             graft.functions.Tokenize.Whitespace): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"bleu maxN must be in [1,8], got $maxN")
    val withStats = pairs.withColumn("__ov",
      overlapStats(col(candTextCol), col(refTextCol), maxN, mode))
    bleuFromStats(withStats, pairs.columns.toSeq, maxN)
  }

  /** Multi-reference sentence BLEU — the form real eval sets need
    * (1..k references; Papineni §2.1 clips each candidate gram against
    * its MAX count over all references, brevity penalty on the
    * closest-length reference, ties to the shorter). `refsTextCol` is
    * an `array<string>` of reference TEXTS; clipping runs in the
    * one-pass [[graft.expressions.NgramOverlapStatsMulti]] kernel
    * (the per-gram max canNOT be assembled from per-reference kernel
    * results — see the kernel doc). Zero references score 0. Same
    * output shape and smoothing as [[bleu]].
    */
  def bleuMulti(pairs: DataFrame, candTextCol: String, refsTextCol: String,
                maxN: Int = 4,
                mode: graft.functions.Tokenize.Mode =
                  graft.functions.Tokenize.Whitespace): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"bleuMulti maxN must be in [1,8], got $maxN")
    val withStats = pairs.withColumn("__ov",
      GraftFunctions.call("ngram_overlap_stats_multi",
        toks(col(candTextCol), mode),
        transform(col(refsTextCol), r => toks(r, mode)),
        lit(maxN)))
    bleuFromStats(withStats, pairs.columns.toSeq, maxN)
  }

  /** The BLEU arithmetic over a frame carrying the `__ov` stats column
    * — shared by the single- and multi-reference forms (identical by
    * construction: the multi kernel emits the same struct shape with
    * max-clipped counts and the effective-reference totals).
    */
  private def bleuFromStats(withStats: DataFrame, baseCols: Seq[String],
                            maxN: Int): DataFrame = {
    val cLen = element_at(col("__ov"), 1).getField("cand_total")
    val rLen = element_at(col("__ov"), 1).getField("ref_total")
    // smoothed precision per order: n=1 raw, n>=2 add-one
    def precN(n: Int): Column = {
      val st = element_at(col("__ov"), n)
      if (n == 1) st.getField("clipped").cast("double") / st.getField("cand_total")
      else (st.getField("clipped") + lit(1)).cast("double") / (st.getField("cand_total") + lit(1))
    }
    val logSum = (1 to maxN).map(n => log(precN(n)) / lit(maxN.toDouble))
      .reduce(_ + _)
    // cLen = 0 guard first: ANSI mode (Spark 4 default) makes the
    // unguarded division throw DIVIDE_BY_ZERO on an empty candidate
    val bp = when(cLen === 0, lit(0.0))
      .when(cLen > rLen, lit(1.0))
      .otherwise(exp(lit(1.0) - rLen.cast("double") / cLen))
    val score = when(cLen === 0 || element_at(col("__ov"), 1).getField("clipped") === 0, lit(0.0))
      .otherwise(bp * exp(logSum))
    val mCols = (1 to maxN).map(n =>
      element_at(col("__ov"), n).getField("clipped").as(s"m$n"))
    withStats.select(
      (baseCols.map(col) :+ cLen.as("c_len") :+ rLen.as("r_len")) ++
        mCols :+ round(bp, 6).as("bp") :+ round(score, 6).as("bleu"): _*)
  }

  /** Micro-averaged corpus BLEU (Papineni et al. ACL '02 §2.2, the
    * number an LLM-data pipeline actually gates on) per `partCol`
    * group: clipped counts and totals SUMMED across the group's
    * adjacent pairs before the precision ratios, corpus brevity
    * penalty on the summed lengths. Smoothing convention matches the
    * sentence form: unigram raw, add-one for n ≥ 2 (at corpus scale
    * the +1 is negligible; at smoke scale it keeps tiny groups from
    * zeroing). All aggregation is over exact LONG counts — order-
    * independent, so the DuckDB oracle replays it bit-for-bit.
    *
    * Scale shape: one map-side kernel pass per pair, then a partial-agg
    * groupBy on `partCol` moving 10 longs per pair — the only shuffle.
    */
  def corpusBleu(docs: DataFrame, idCol: String, textCol: String,
                 partCol: String, maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"corpusBleu maxN must be in [1,8], got $maxN")
    val pairs = adjacentPairsKeep(docs, idCol, textCol, partCol)
    val withStats = pairs.withColumn("__ov",
      overlapStats(col("cand_text"), col("ref_text"), maxN))
    def st(n: Int): Column = element_at(col("__ov"), n)
    val aggs =
      Seq(count(lit(1)).as("n_pairs"),
        sum(st(1).getField("cand_total")).as("c_len"),
        sum(st(1).getField("ref_total")).as("r_len")) ++
      (1 to maxN).map(n => sum(st(n).getField("clipped")).as(s"m$n")) ++
      (2 to maxN).map(n => sum(st(n).getField("cand_total")).as(s"__ct$n"))
    val g = withStats.groupBy(col(partCol)).agg(aggs.head, aggs.tail: _*)
    def precN(n: Int): Column =
      if (n == 1) col("m1").cast("double") / col("c_len")
      else (col(s"m$n") + lit(1)).cast("double") / (col(s"__ct$n") + lit(1))
    val logSum = (1 to maxN).map(n => log(precN(n)) / lit(maxN.toDouble))
      .reduce(_ + _)
    val bp = when(col("c_len") === 0, lit(0.0))
      .when(col("c_len") > col("r_len"), lit(1.0))
      .otherwise(exp(lit(1.0) - col("r_len").cast("double") / col("c_len")))
    val score = when(col("c_len") === 0 || col("m1") === 0, lit(0.0))
      .otherwise(bp * exp(logSum))
    g.select((col(partCol) +: col("n_pairs") +: col("c_len") +: col("r_len") +:
      (1 to maxN).map(n => col(s"m$n"))) :+
      round(bp, 6).as("bp") :+ round(score, 6).as("corpus_bleu"): _*)
  }

  /** Self-BLEU (Zhu et al. '18 "Texygen" §4.2 — LOWER = more diverse
    * corpus; 1.0 = every document repeats its neighbour) per `partCol`
    * group: the mean sentence BLEU over the group's adjacent pairs.
    * The mean is taken over integer BLEU-micros (each pair's 6-dp
    * score ×1e6 as a LONG) so the sum is exact and order-independent —
    * a plain double avg would be partition-order-dependent in the last
    * ulp and could flip the rounded digit vs the oracle.
    */
  def selfBleu(docs: DataFrame, idCol: String, textCol: String,
               partCol: String, maxN: Int = 4): DataFrame = {
    val pairs = adjacentPairsKeep(docs, idCol, textCol, partCol)
    bleu(pairs, "cand_text", "ref_text", maxN)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("bleu") * lit(1e6)).cast("long")).as("__micro"))
      .select(col(partCol), col("n_pairs"),
        round(col("__micro").cast("double") /
          (col("n_pairs").cast("double") * lit(1e6)), 6).as("self_bleu"))
  }

  /** ROUGE-L (Lin '04 §3): longest-common-subsequence recall,
    * precision, and β-weighted F per pair — the order-sensitive
    * complement to ROUGE-N (n-grams reward any local overlap; LCS
    * rewards the longest IN-ORDER common skeleton). The LCS length
    * comes from the one-pass [[graft.expressions.LcsLength]] kernel
    * (O(Lc·Lr) two-row DP over interned ids, map-side like every
    * metric in this family). F = (1+β²)·P·R ∕ (R + β²·P); β = 1 is the
    * symmetric F1 most eval harnesses report.
    */
  def rougeL(pairs: DataFrame, candTextCol: String, refTextCol: String,
             beta: Double = 1.0): DataFrame = {
    require(beta > 0, s"rougeL beta must be positive, got $beta")
    val withLcs = pairs
      .withColumn("__ct", toks(col(candTextCol)))
      .withColumn("__rt", toks(col(refTextCol)))
      .withColumn("__lcs", GraftFunctions.call("lcs_length", col("__ct"), col("__rt")))
    val cLen = size(col("__ct")).cast("long")
    val rLen = size(col("__rt")).cast("long")
    val p = when(cLen === 0, lit(0.0)).otherwise(col("__lcs").cast("double") / cLen)
    val r = when(rLen === 0, lit(0.0)).otherwise(col("__lcs").cast("double") / rLen)
    val b2 = beta * beta
    val f = when(p + r === 0.0, lit(0.0))
      .otherwise(lit(1.0 + b2) * p * r / (r + lit(b2) * p))
    withLcs.select(
      (pairs.columns.map(col).toSeq :+
        cLen.as("c_len") :+ rLen.as("r_len") :+ col("__lcs").as("lcs") :+
        round(p, 6).as("precision") :+ round(r, 6).as("recall") :+
        round(f, 6).as("rouge_l")): _*)
  }

  /** Word error rate — `edits ∕ r_len` where `edits` is the unit-cost
    * token Levenshtein distance ([[graft.expressions.TokenEditDistance]]),
    * the transcription/ASR quality number a multimodal pipeline gates
    * speech-derived text on. Empty-reference convention (documented, a
    * plain 1/0 would divide by zero): 0.0 when the hypothesis is also
    * empty, 1.0 otherwise — capped, never the unbounded edits∕0. WER
    * itself is NOT capped at 1 (a long wrong hypothesis can exceed it;
    * that is standard).
    */
  def wer(pairs: DataFrame, hypTextCol: String, refTextCol: String): DataFrame = {
    val withEd = pairs
      .withColumn("__ht", toks(col(hypTextCol)))
      .withColumn("__rt", toks(col(refTextCol)))
      .withColumn("__ed", GraftFunctions.call("token_edit_distance", col("__ht"), col("__rt")))
    val hLen = size(col("__ht")).cast("long")
    val rLen = size(col("__rt")).cast("long")
    val rate = when(rLen > 0, col("__ed").cast("double") / rLen)
      .when(hLen === 0, lit(0.0))
      .otherwise(lit(1.0))
    withEd.select(
      (pairs.columns.map(col).toSeq :+
        hLen.as("h_len") :+ rLen.as("r_len") :+ col("__ed").as("edits") :+
        round(rate, 6).as("wer")): _*)
  }

  /** Multi-reference WER — the ASR convention for k transcripts: the
    * hypothesis scores its BEST (minimum-WER) reference, ties to the
    * lowest reference index (NIST sclite behavior). One row per pair
    * with the winning reference's index and stats; zero references →
    * null stats (callers filter — the [[rougeNMulti]] convention).
    *
    * Scale shape: hypothesis tokens staged as an attribute, per-ref
    * edit-distance kernels inside a row-local `transform`, argmin via
    * `array_min` over (wer, idx, …) structs — map-side, no shuffle.
    * (Each ref's tokenization evaluates twice inside the lambda —
    * size + kernel; negligible next to the O(|h|·|r|) DP.)
    */
  def werMulti(pairs: DataFrame, hypTextCol: String, refsTextCol: String,
               mode: graft.functions.Tokenize.Mode =
                 graft.functions.Tokenize.Whitespace): DataFrame = {
    val staged = pairs
      .withColumn("__ht", toks(col(hypTextCol), mode))
      .withColumn("__ws", transform(col(refsTextCol), (r, i) => {
        val rt = toks(r, mode)
        val ed = GraftFunctions.call("token_edit_distance", col("__ht"), rt)
        val hLen = size(col("__ht"))
        val rLen = size(rt)
        val w = when(rLen > 0, ed.cast("double") / rLen)
          .when(hLen === 0, lit(0.0))
          .otherwise(lit(1.0))
        struct(w.as("wer"), i.as("idx"), ed.cast("long").as("edits"),
          rLen.cast("long").as("r_len"))
      }))
    val best = array_min(col("__ws")) // lexicographic: min wer, ties -> lowest idx
    staged.select((pairs.columns.map(col).toSeq :+
      size(col("__ht")).cast("long").as("h_len") :+
      best.getField("idx").cast("long").as("ref_idx") :+
      best.getField("r_len").as("r_len") :+
      best.getField("edits").as("edits") :+
      round(best.getField("wer"), 6).as("wer")): _*)
  }

  /** chrF — character n-gram F-score (Popović WMT '15), the MT metric
    * that survives morphology and tokenization differences BLEU
    * chokes on: whitespace is stripped, the text becomes a character
    * sequence, and precision/recall are macro-averaged over char
    * n-gram orders 1..maxN (an order with a zero denominator
    * contributes 0 — the paper's all-orders average), then combined
    * recall-weighted: chrF_β = (1+β²)·P·R ∕ (β²·P + R). β = 2 is the
    * standard chrF2. Same one-pass kernel as BLEU — the "tokens" are
    * single characters, so the whole metric stays a map-side
    * projection.
    */
  def chrF(pairs: DataFrame, candTextCol: String, refTextCol: String,
           maxN: Int = 6, beta: Double = 2.0): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"chrF maxN must be in [1,8], got $maxN")
    require(beta > 0, s"chrF beta must be positive, got $beta")
    def chars(c: Column): Column =
      filter(split(regexp_replace(lower(trim(c)), "\\s+", ""), ""), t => t =!= lit(""))
    val withStats = pairs.withColumn("__ov",
      GraftFunctions.call("ngram_overlap_stats",
        chars(col(candTextCol)), chars(col(refTextCol)), lit(maxN)))
    def st(n: Int): Column = element_at(col("__ov"), n)
    def pN(n: Int): Column = {
      val t = st(n)
      when(t.getField("cand_total") === 0, lit(0.0))
        .otherwise(t.getField("clipped").cast("double") / t.getField("cand_total"))
    }
    def rN(n: Int): Column = {
      val t = st(n)
      when(t.getField("ref_total") === 0, lit(0.0))
        .otherwise(t.getField("clipped").cast("double") / t.getField("ref_total"))
    }
    val chrP = (1 to maxN).map(pN).reduce(_ + _) / lit(maxN.toDouble)
    val chrR = (1 to maxN).map(rN).reduce(_ + _) / lit(maxN.toDouble)
    val b2 = beta * beta
    val score = when(chrP + chrR === 0.0, lit(0.0))
      .otherwise(lit(1.0 + b2) * chrP * chrR / (lit(b2) * chrP + chrR))
    withStats.select(
      (pairs.columns.map(col).toSeq :+
        st(1).getField("cand_total").as("c_chars") :+
        st(1).getField("ref_total").as("r_chars") :+
        round(chrP, 6).as("chr_p") :+ round(chrR, 6).as("chr_r") :+
        round(score, 6).as("chrf")): _*)
  }

  /** One-scan generation-eval datacard: per `partCol` group, the mean
    * sentence BLEU-4, chrF2, ROUGE-L F1, and WER over the group's
    * adjacent pairs. All four metrics are map-side projections over
    * the SAME pair row, so they compose into a single stage — one
    * corpus scan, one lead-window shuffle, one group aggregate —
    * instead of four separate queries re-reading the corpus. Each mean
    * is over integer metric-micros (the 6-dp score ×1e6 as a LONG), so
    * the sums are exact and order-independent (the [[selfBleu]]
    * convention).
    */
  def generationEvalSummary(docs: DataFrame, idCol: String, textCol: String,
                            partCol: String): DataFrame = {
    val pairs = adjacentPairsKeep(docs, idCol, textCol, partCol)
    val keep = pairs.columns
    def trim(df: DataFrame, metric: String): DataFrame =
      df.select((keep.map(col) :+ col(metric)).toSeq ++
        (if (df.columns.contains("bleu") && metric != "bleu") Seq(col("bleu")) else Nil) ++
        (if (df.columns.contains("chrf") && metric != "chrf") Seq(col("chrf")) else Nil) ++
        (if (df.columns.contains("rouge_l") && metric != "rouge_l") Seq(col("rouge_l")) else Nil): _*)
    val withBleu = trim(bleu(pairs, "cand_text", "ref_text"), "bleu")
    val withChrf = trim(chrF(withBleu, "cand_text", "ref_text"), "chrf")
    val withRl = trim(rougeL(withChrf, "cand_text", "ref_text"), "rouge_l")
    val scored = trim(wer(withRl, "cand_text", "ref_text"), "wer")
    def micros(c: String): Column =
      sum(round(col(c) * lit(1e6)).cast("long")).as(s"__$c")
    def mean(c: String): Column =
      round(col(s"__$c").cast("double") /
        (col("n_pairs").cast("double") * lit(1e6)), 6).as(s"${c}_mean")
    scored.groupBy(col(partCol))
      .agg(count(lit(1)).as("n_pairs"),
        micros("bleu"), micros("chrf"), micros("rouge_l"), micros("wer"))
      .select(col(partCol), col("n_pairs"),
        mean("bleu"), mean("chrf"), mean("rouge_l"), mean("wer"))
  }

  /** ROUGE-N precision / recall / F1 per pair for every order in `ns`
    * — one output row per (pair, n). `recall = clipped / ref_total`
    * (the headline ROUGE number), `precision = clipped / cand_total`,
    * `f1` their harmonic mean; all 0 when the denominator is 0.
    */
  def rougeN(pairs: DataFrame, candTextCol: String, refTextCol: String,
             ns: Seq[Int] = Seq(1, 2)): DataFrame = {
    require(ns.nonEmpty && ns.forall(n => n >= 1 && n <= 8), s"rougeN orders must be in [1,8], got $ns")
    val maxN = ns.max
    val withStats = pairs.withColumn("__ov",
      overlapStats(col(candTextCol), col(refTextCol), maxN))
      .withColumn("__st", explode(filter(col("__ov"),
        st => st.getField("n").isInCollection(ns))))
    val clipped = col("__st").getField("clipped")
    val cTot = col("__st").getField("cand_total")
    val rTot = col("__st").getField("ref_total")
    val prec = when(cTot === 0, lit(0.0)).otherwise(clipped.cast("double") / cTot)
    val rec = when(rTot === 0, lit(0.0)).otherwise(clipped.cast("double") / rTot)
    val f1 = when(prec + rec === 0.0, lit(0.0))
      .otherwise(lit(2.0) * prec * rec / (prec + rec))
    withStats.select((pairs.columns.map(col).toSeq :+
      col("__st").getField("n").as("n") :+
      clipped.as("overlap") :+ cTot.as("cand_total") :+ rTot.as("ref_total") :+
      round(prec, 6).as("precision") :+ round(rec, 6).as("recall") :+
      round(f1, 6).as("f1")): _*)
  }

  /** Multi-reference ROUGE-N (Lin '04: the score against k references
    * is the MAX per-reference score — unlike BLEU's per-gram max-merge,
    * ROUGE picks the best whole reference). One row per (pair, n) with
    * the winning reference's index (`ref_idx`, 0-based; F1 ties go to
    * the lowest index) and its stats. `refsTextCol` is an
    * `array<string>` of reference texts.
    *
    * Scale shape: the per-reference kernels run inside a `transform`
    * over the refs array in the SAME row, candidate tokens staged as
    * their own column so the lambda references an attribute (HOFs
    * re-evaluate captured subtrees per element — the winnowing
    * lesson); the argmax is an `array_max` over (f1, −idx) structs.
    * Entirely map-side — no explode-join, no shuffle. Pairs with zero
    * references emit null stats (callers filter or treat as 0).
    */
  def rougeNMulti(pairs: DataFrame, candTextCol: String, refsTextCol: String,
                  ns: Seq[Int] = Seq(1, 2),
                  mode: graft.functions.Tokenize.Mode =
                    graft.functions.Tokenize.Whitespace): DataFrame = {
    require(ns.nonEmpty && ns.forall(n => n >= 1 && n <= 8),
      s"rougeNMulti orders must be in [1,8], got $ns")
    val maxN = ns.max
    val staged = pairs
      .withColumn("__ct", toks(col(candTextCol), mode))
      .withColumn("__ovs", transform(col(refsTextCol),
        r => GraftFunctions.call("ngram_overlap_stats", col("__ct"), toks(r, mode), lit(maxN))))
    def bestFor(n: Int): Column = {
      val scored = transform(col("__ovs"), (ov, i) => {
        val st = element_at(ov, n)
        val clipped = st.getField("clipped")
        val cTot = st.getField("cand_total")
        val rTot = st.getField("ref_total")
        val prec = when(cTot === 0, lit(0.0)).otherwise(clipped.cast("double") / cTot)
        val rec = when(rTot === 0, lit(0.0)).otherwise(clipped.cast("double") / rTot)
        val f1 = when(prec + rec === 0.0, lit(0.0))
          .otherwise(lit(2.0) * prec * rec / (prec + rec))
        struct(f1.as("f1"), (-i).as("neg_idx"), prec.as("precision"),
          rec.as("recall"), clipped.as("overlap"),
          cTot.as("cand_total"), rTot.as("ref_total"))
      })
      array_max(scored) // lexicographic: max f1, ties -> lowest ref idx
    }
    val rows = array(ns.map(n => struct(lit(n).as("n"), bestFor(n).as("b"))): _*)
    staged.withColumn("__row", explode(rows))
      .select((pairs.columns.map(col).toSeq :+
        col("__row.n").as("n") :+
        (-col("__row.b.neg_idx")).as("ref_idx") :+
        col("__row.b.overlap").as("overlap") :+
        col("__row.b.cand_total").as("cand_total") :+
        col("__row.b.ref_total").as("ref_total") :+
        round(col("__row.b.precision"), 6).as("precision") :+
        round(col("__row.b.recall"), 6).as("recall") :+
        round(col("__row.b.f1"), 6).as("f1")): _*)
  }
}
