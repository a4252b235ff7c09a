package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-computed BLEU / ROUGE-N cases (Papineni et al. ACL '02;
  * Lin '04) plus the three regressions that shipped q198/q199 broken in
  * round 9: the adjacentPairs post-rename window, ANSI divide-by-zero
  * on an empty candidate, and the gram-key separator collision.
  */
class TextEvalSpec extends SparkSpec {
  import spark.implicits._

  private def pairsOf(rows: (String, String)*) =
    rows.toSeq.toDF("cand_text", "ref_text")

  test("BLEU-4: hand-worked clipped counts, smoothing, BP, geometric mean") {
    // cand: the cat sat on the mat (6 toks); ref: the cat is on the mat
    // m1 = 5 (the×2, cat, on, mat), m2 = 3 (the cat / on the / the mat),
    // m3 = 1 (on the mat), m4 = 0
    // p1 = 5/6 raw; smoothed p2 = 4/6, p3 = 2/5, p4 = 1/4; bp = 1 (c = r)
    val out = TextEval.bleu(
      pairsOf("The cat sat on the mat" -> "the cat is on the mat"),
      "cand_text", "ref_text", maxN = 4).collect().head
    assert(out.getAs[Long]("c_len") == 6 && out.getAs[Long]("r_len") == 6)
    assert(out.getAs[Long]("m1") == 5)
    assert(out.getAs[Long]("m2") == 3)
    assert(out.getAs[Long]("m3") == 1)
    assert(out.getAs[Long]("m4") == 0)
    assert(out.getAs[Double]("bp") == 1.0)
    val expected = math.exp(
      math.log(5.0 / 6) / 4 + math.log(4.0 / 6) / 4 +
      math.log(2.0 / 5) / 4 + math.log(1.0 / 4) / 4)
    assert(math.abs(out.getAs[Double]("bleu") - expected) < 1e-6,
      s"bleu ${out.getAs[Double]("bleu")} vs $expected")
  }

  test("BLEU: Papineni §2.1 degenerate candidate — clipping caps the(×7) at 2") {
    val out = TextEval.bleu(
      pairsOf("the the the the the the the" -> "the cat is on the mat"),
      "cand_text", "ref_text", maxN = 1).collect().head
    assert(out.getAs[Long]("m1") == 2, "modified unigram precision numerator is 2, not 7")
    assert(out.getAs[Long]("c_len") == 7)
    // p1 = 2/7, c > r so bp = 1
    assert(math.abs(out.getAs[Double]("bleu") - 2.0 / 7) < 1e-6)
  }

  test("BLEU: short candidate pays the brevity penalty e^(1 - r/c)") {
    // cand "the cat" (2), ref "the cat is on the mat" (6): p1 = 1
    val out = TextEval.bleu(pairsOf("the cat" -> "the cat is on the mat"),
      "cand_text", "ref_text", maxN = 1).collect().head
    val bp = math.exp(1.0 - 6.0 / 2.0)
    assert(math.abs(out.getAs[Double]("bp") - bp) < 1e-6)
    assert(math.abs(out.getAs[Double]("bleu") - bp) < 1e-6)
  }

  test("BLEU: empty / whitespace-only candidate scores 0 without DIVIDE_BY_ZERO (ANSI)") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "regression only meaningful under ANSI mode — Spark 4 default")
    val out = TextEval.bleu(pairsOf("   " -> "a b c", "" -> "a"),
      "cand_text", "ref_text", maxN = 2).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getAs[Long]("c_len") == 0)
      assert(r.getAs[Double]("bp") == 0.0 && r.getAs[Double]("bleu") == 0.0)
    }
  }

  test("BLEU: fully disjoint candidate scores exactly 0 (unsmoothed unigram)") {
    val out = TextEval.bleu(pairsOf("x y z" -> "a b c"),
      "cand_text", "ref_text", maxN = 4).collect().head
    assert(out.getAs[Long]("m1") == 0 && out.getAs[Double]("bleu") == 0.0)
  }

  test("gram keys: a U+0001 inside a token must not collide with a joined bigram") {
    val SEP = "\u0001"
    // cand toks [a, b<SEP>c, x] vs ref toks [a<SEP>b, c, x]: only the
    // unigram "x" matches; a fixed-SEP join would fake a bigram match
    val out = TextEval.bleu(pairsOf(s"a b${SEP}c x" -> s"a${SEP}b c x"),
      "cand_text", "ref_text", maxN = 2).collect().head
    assert(out.getAs[Long]("m1") == 1)
    assert(out.getAs[Long]("m2") == 0, "length-prefixed keys: no separator collision")
  }

  test("ROUGE-1/2: hand-worked precision, recall, F1") {
    // cand "the cat sat" vs ref "the cat is on the mat"
    val out = TextEval.rougeN(pairsOf("the cat sat" -> "the cat is on the mat"),
      "cand_text", "ref_text", ns = Seq(1, 2))
      .orderBy("n").collect()
    assert(out.length == 2)
    val r1 = out(0); val r2 = out(1)
    assert(r1.getAs[Long]("overlap") == 2 && r1.getAs[Long]("cand_total") == 3
      && r1.getAs[Long]("ref_total") == 6)
    assert(math.abs(r1.getAs[Double]("precision") - 2.0 / 3) < 1e-6)
    assert(math.abs(r1.getAs[Double]("recall") - 1.0 / 3) < 1e-6)
    assert(math.abs(r1.getAs[Double]("f1") - 4.0 / 9) < 1e-6)
    assert(r2.getAs[Long]("overlap") == 1 && r2.getAs[Long]("cand_total") == 2
      && r2.getAs[Long]("ref_total") == 5)
    assert(math.abs(r2.getAs[Double]("precision") - 0.5) < 1e-6)
    assert(math.abs(r2.getAs[Double]("recall") - 0.2) < 1e-6)
    assert(math.abs(r2.getAs[Double]("f1") - 0.2 / 0.7) < 1e-6)
  }

  test("ROUGE: zero denominators yield 0.0, not errors (ANSI)") {
    val out = TextEval.rougeN(pairsOf("" -> "a b", "a b" -> "", "" -> ""),
      "cand_text", "ref_text", ns = Seq(1)).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getAs[Double]("f1") == 0.0)
      assert(r.getAs[Double]("precision") == 0.0 || r.getAs[Long]("cand_total") > 0)
      assert(r.getAs[Double]("recall") == 0.0 || r.getAs[Long]("ref_total") > 0)
    }
  }

  test("adjacentPairs: lead over the post-rename id within each group") {
    val docs = Seq(
      (3L, "c", "s1"), (1L, "a", "s1"), (2L, "b", "s1"), (9L, "z", "s2"))
      .toDF("doc_id", "text", "source")
    val got = TextEval.adjacentPairs(docs, "doc_id", "text", "source")
      .orderBy("cand_id")
      .select("cand_id", "ref_id", "cand_text", "ref_text")
      .as[(Long, Long, String, String)].collect().toSeq
    assert(got == Seq((1L, 2L, "a", "b"), (2L, 3L, "b", "c")),
      "s2's lone doc drops; pairs follow doc_id order within source")
  }

  test("ROUGE-L: hand-worked LCS skeleton; order sensitivity vs ROUGE-1") {
    // LCS("the cat sat on the mat", "the cat is on the mat") =
    // [the cat on the mat] = 5; P = R = 5/6, F1 = 5/6
    val out = TextEval.rougeL(pairsOf("the cat sat on the mat" -> "the cat is on the mat"),
      "cand_text", "ref_text").collect().head
    assert(out.getAs[Long]("lcs") == 5)
    assert(math.abs(out.getAs[Double]("rouge_l") - 5.0 / 6) < 1e-6)
    // same bag, reversed order: ROUGE-1 would be 1.0; ROUGE-L must drop
    val rev = TextEval.rougeL(pairsOf("c b a" -> "a b c"),
      "cand_text", "ref_text").collect().head
    assert(rev.getAs[Long]("lcs") == 1, "reversal leaves a single-token skeleton")
    assert(math.abs(rev.getAs[Double]("rouge_l") - 1.0 / 3) < 1e-6)
  }

  test("ROUGE-L: zero-length sides score 0 cleanly") {
    val out = TextEval.rougeL(pairsOf("" -> "a b", "a" -> "", "" -> ""),
      "cand_text", "ref_text").collect()
    out.foreach { r =>
      assert(r.getAs[Long]("lcs") == 0 && r.getAs[Double]("rouge_l") == 0.0)
    }
  }

  test("WER: substitutions, insertions, deletions, and the uncapped >1 case") {
    val rows = TextEval.wer(pairsOf(
        "the cat sat" -> "the cat sat",          // 0 edits -> 0.0
        "the dog sat" -> "the cat sat",          // 1 sub   -> 1/3
        "the cat" -> "the cat sat",              // 1 del   -> 1/3
        "oh the cat sat" -> "the cat sat",       // 1 ins   -> 1/3
        "a b c d e" -> "x"),                     // 5 edits / 1 ref -> 5.0
      "cand_text", "ref_text").orderBy("cand_text").collect()
      .map(r => r.getAs[String]("cand_text") -> ((r.getAs[Long]("edits"), r.getAs[Double]("wer")))).toMap
    assert(rows("the cat sat") == ((0L, 0.0)))
    assert(rows("the dog sat")._1 == 1L && math.abs(rows("the dog sat")._2 - 1.0 / 3) < 1e-6)
    assert(rows("the cat")._1 == 1L)
    assert(rows("oh the cat sat")._1 == 1L)
    assert(rows("a b c d e") == ((5L, 5.0)), "WER is not capped at 1")
  }

  test("WER: empty-reference convention — 0 iff hypothesis also empty, else 1") {
    val out = TextEval.wer(pairsOf("" -> "", "a b" -> "", "" -> "a b"),
      "cand_text", "ref_text").collect()
      .map(r => (r.getAs[Long]("h_len"), r.getAs[Long]("r_len"), r.getAs[Double]("wer")))
    assert(out.toSet == Set((0L, 0L, 0.0), (2L, 0L, 1.0), (0L, 2L, 1.0)))
  }

  test("chrF: hand-worked char-gram precision/recall and the P=R identity") {
    // chars abcd vs abcf: n=1 clipped 3/4, n=2 clipped 2/3 -> P=R=(0.75+2/3)/2
    val out = TextEval.chrF(pairsOf("abcd" -> "abcf"),
      "cand_text", "ref_text", maxN = 2).collect().head
    val expected = (0.75 + 2.0 / 3) / 2
    assert(out.getAs[Long]("c_chars") == 4 && out.getAs[Long]("r_chars") == 4)
    assert(math.abs(out.getAs[Double]("chr_p") - expected) < 1e-6)
    assert(math.abs(out.getAs[Double]("chr_r") - expected) < 1e-6)
    assert(math.abs(out.getAs[Double]("chrf") - expected) < 1e-6,
      "when P = R, chrF collapses to P for any beta")
  }

  test("chrF: beta=2 weights recall; beta=1 is plain F1") {
    // cand "ab" vs ref "abcdef", maxN=1: P=1, R=1/3
    val f2 = TextEval.chrF(pairsOf("ab" -> "abcdef"),
      "cand_text", "ref_text", maxN = 1, beta = 2.0).collect().head
    assert(math.abs(f2.getAs[Double]("chrf") - 5.0 / 13) < 1e-6)
    val f1 = TextEval.chrF(pairsOf("ab" -> "abcdef"),
      "cand_text", "ref_text", maxN = 1, beta = 1.0).collect().head
    assert(math.abs(f1.getAs[Double]("chrf") - 0.5) < 1e-6)
  }

  test("chrF: whitespace is stripped, case folded; empty candidate scores 0 cleanly") {
    val same = TextEval.chrF(pairsOf("A  b\tC" -> "abc"),
      "cand_text", "ref_text", maxN = 3).collect().head
    assert(same.getAs[Double]("chrf") == 1.0, "whitespace/case must not matter")
    val empty = TextEval.chrF(pairsOf("  " -> "abc", "" -> ""),
      "cand_text", "ref_text").collect()
    empty.foreach(r => assert(r.getAs[Double]("chrf") == 0.0
      && r.getAs[Long]("c_chars") == 0))
  }

  test("self-BLEU: duplicated corpus scores 1.0; a shuffled/diverse one scores lower") {
    val dup = Seq.tabulate(6)(i => (i.toLong, "the cat sat on the mat", "s"))
      .toDF("doc_id", "text", "source")
    val dupOut = TextEval.selfBleu(dup, "doc_id", "text", "source").collect().head
    assert(dupOut.getAs[Long]("n_pairs") == 5)
    assert(dupOut.getAs[Double]("self_bleu") == 1.0,
      "every pair identical -> sentence BLEU 1 everywhere -> mean 1")
    val diverse = Seq(
      (0L, "alpha beta gamma delta epsilon", "s"),
      (1L, "zeta eta theta iota kappa", "s"),
      (2L, "lambda mu nu xi omicron", "s"),
      (3L, "pi rho sigma tau upsilon", "s")).toDF("doc_id", "text", "source")
    val divOut = TextEval.selfBleu(diverse, "doc_id", "text", "source").collect().head
    assert(divOut.getAs[Double]("self_bleu") < 0.1,
      s"disjoint-vocabulary corpus must score near 0, got ${divOut.getAs[Double]("self_bleu")}")
  }

  test("corpus BLEU: micro-average over real documents >= the pair minimum, <= the maximum") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = TextEval.corpusBleu(docs, "doc_id", "text", "source")
      .select("source", "corpus_bleu").as[(String, Double)].collect().toMap
    val pairs = TextEval.bleu(
      TextEval.adjacentPairs(docs, "doc_id", "text", "source"),
      "cand_text", "ref_text")
      // recover each pair's source for the per-group range
      .join(docs.select(col("doc_id").as("cand_id"), col("source")), "cand_id")
      .groupBy("source").agg(min("bleu").as("lo"), max("bleu").as("hi"))
      .as[(String, Double, Double)].collect()
    assert(pairs.nonEmpty && pairs.forall { case (src, lo, hi) =>
      corpus(src) >= lo - 1e-6 && corpus(src) <= hi + 1e-6 },
      s"corpus BLEU outside its group's sentence range: ${pairs.mkString(", ")}")
  }

  test("corpus BLEU: degenerate group (all-empty candidates) scores 0 without error") {
    val docs = Seq((0L, " ", "s"), (1L, " ", "s"), (2L, " ", "s"))
      .toDF("doc_id", "text", "source")
    val out = TextEval.corpusBleu(docs, "doc_id", "text", "source").collect().head
    assert(out.getAs[Long]("c_len") == 0)
    assert(out.getAs[Double]("bp") == 0.0 && out.getAs[Double]("corpus_bleu") == 0.0)
  }

  test("generationEvalSummary: the one-scan rollup equals the per-metric means") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val card = TextEval.generationEvalSummary(docs, "doc_id", "text", "source")
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    // bleu_mean must equal selfBleu (same integer-micro convention)
    val self = TextEval.selfBleu(docs, "doc_id", "text", "source")
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("self_bleu")).toMap
    assert(card.nonEmpty && card.keySet == self.keySet)
    card.foreach { case (src, r) =>
      assert(r.getAs[Double]("bleu_mean") == self(src),
        s"$src: rollup bleu_mean != selfBleu")
      Seq("bleu_mean", "chrf_mean", "rouge_l_mean", "wer_mean").foreach { m =>
        val v = r.getAs[Double](m)
        assert(v >= 0.0 && (m == "wer_mean" || v <= 1.0), s"$src.$m = $v out of range")
      }
    }
  }

  private def multiPairsOf(rows: (String, Seq[String])*) =
    rows.toSeq.toDF("cand_text", "refs")

  test("multi-ref BLEU: Papineni §2.1 worked example — clip at the MAX over references") {
    // the paper's two-reference example: cand the(×7);
    // ref1 "the cat is on the mat" has the×2, ref2 "there is a cat on
    // the mat" has the×1 → clip = max(2,1) = 2, p1 = 2/7
    val out = TextEval.bleuMulti(
      multiPairsOf("the the the the the the the" ->
        Seq("the cat is on the mat", "there is a cat on the mat")),
      "cand_text", "refs", maxN = 1).collect().head
    assert(out.getAs[Long]("m1") == 2)
    assert(out.getAs[Long]("c_len") == 7)
    assert(math.abs(out.getAs[Double]("bleu") - 2.0 / 7) < 1e-6)
  }

  test("multi-ref BLEU: per-gram max-merge strictly beats the best single reference") {
    // cand "a b c d": ref1 covers a,b (+bigram ab), ref2 covers c,d
    // (+bigram cd). Merged: m1 = 4, m2 = 2 (ab, cd); best single ref
    // alone: m1 = 2, m2 = 1 — the reason this needs a kernel, not a
    // max over per-reference results
    val out = TextEval.bleuMulti(
      multiPairsOf("a b c d" -> Seq("a b x y", "c d x y")),
      "cand_text", "refs", maxN = 2).collect().head
    assert(out.getAs[Long]("m1") == 4)
    assert(out.getAs[Long]("m2") == 2)
    val single = TextEval.bleu(
      pairsOf("a b c d" -> "a b x y"), "cand_text", "ref_text", maxN = 2)
      .collect().head
    assert(single.getAs[Long]("m1") == 2 && single.getAs[Long]("m2") == 1)
  }

  test("multi-ref BLEU: effective reference length is the closest, ties to the shorter") {
    // cand 3 toks; refs of 2 and 5 → closest is 2 → r_len = 2
    val a = TextEval.bleuMulti(
      multiPairsOf("a b c" -> Seq("a b", "a b c d e")),
      "cand_text", "refs", maxN = 1).collect().head
    assert(a.getAs[Long]("r_len") == 2)
    // tie: refs of 2 and 4 around cand 3 → shorter wins → 2
    val b = TextEval.bleuMulti(
      multiPairsOf("a b c" -> Seq("a b c d", "a b")),
      "cand_text", "refs", maxN = 1).collect().head
    assert(b.getAs[Long]("r_len") == 2)
    // bp follows the effective length: c_len 3 > r_len 2 → bp = 1
    assert(a.getAs[Double]("bp") == 1.0)
  }

  test("multi-ref BLEU: single reference degrades to bleu(); zero references score 0") {
    val m = TextEval.bleuMulti(
      multiPairsOf("the cat sat on the mat" -> Seq("the cat is on the mat")),
      "cand_text", "refs", maxN = 4).collect().head
    val s = TextEval.bleu(
      pairsOf("the cat sat on the mat" -> "the cat is on the mat"),
      "cand_text", "ref_text", maxN = 4).collect().head
    for (c <- Seq("c_len", "r_len", "m1", "m2", "m3", "m4"))
      assert(m.getAs[Long](c) == s.getAs[Long](c), s"single-ref parity on $c")
    assert(m.getAs[Double]("bleu") == s.getAs[Double]("bleu"))
    val z = TextEval.bleuMulti(
      multiPairsOf("the cat" -> Seq.empty[String]),
      "cand_text", "refs", maxN = 2).collect().head
    assert(z.getAs[Long]("m1") == 0 && z.getAs[Double]("bleu") == 0.0)
    assert(z.getAs[Long]("r_len") == 0)
  }

  test("multi-ref ROUGE-N: max per-reference score, F1 ties to the lowest ref index") {
    // ref0 shares 1 of cand's 3 unigrams, ref1 shares 3 — ref1 wins
    val out = TextEval.rougeNMulti(
      multiPairsOf("a b c" -> Seq("a x y", "a b c")),
      "cand_text", "refs", ns = Seq(1)).collect().head
    assert(out.getAs[Int]("ref_idx") == 1)
    assert(out.getAs[Long]("overlap") == 3)
    assert(out.getAs[Double]("f1") == 1.0)
    // exact F1 tie (identical refs) → index 0
    val tie = TextEval.rougeNMulti(
      multiPairsOf("a b" -> Seq("a b", "a b")),
      "cand_text", "refs", ns = Seq(1, 2)).collect()
    assert(tie.forall(_.getAs[Int]("ref_idx") == 0))
    assert(tie.map(_.getAs[Int]("n")).sorted.toSeq == Seq(1, 2))
  }

  test("multi-ref ROUGE-N: per-order winners can differ (ROUGE picks whole refs, not grams)") {
    // cand "a b c d": ref0 "a x c y" (2 unigrams, 0 bigrams),
    // ref1 "c d x y" (2 unigrams, 1 bigram) — n=1 ties on f1 → ref0;
    // n=2 → ref1
    val out = TextEval.rougeNMulti(
      multiPairsOf("a b c d" -> Seq("a x c y", "c d x y")),
      "cand_text", "refs", ns = Seq(1, 2))
      .collect().map(r => r.getAs[Int]("n") -> r).toMap
    assert(out(1).getAs[Int]("ref_idx") == 0)
    assert(out(2).getAs[Int]("ref_idx") == 1)
    assert(out(2).getAs[Long]("overlap") == 1)
  }

  test("multi-ref WER: best (minimum) reference wins; ties to the lowest index") {
    // hyp "a b c": ref0 "a x c" → 1 edit / 3 = 0.333…, ref1 "a b c d"
    // → 1 edit / 4 = 0.25 → ref1 wins
    val best = TextEval.werMulti(
      multiPairsOf("a b c" -> Seq("a x c", "a b c d")),
      "cand_text", "refs").collect().head
    assert(best.getAs[Long]("ref_idx") == 1L)
    assert(best.getAs[Long]("edits") == 1L && best.getAs[Long]("r_len") == 4L)
    assert(best.getAs[Double]("wer") == 0.25)
    // exact tie (both 1/2) → index 0
    val tie = TextEval.werMulti(
      multiPairsOf("a b" -> Seq("a x", "a y")),
      "cand_text", "refs").collect().head
    assert(tie.getAs[Long]("ref_idx") == 0L && tie.getAs[Double]("wer") == 0.5)
    // a perfect reference anywhere in the list → wer 0
    val perfect = TextEval.werMulti(
      multiPairsOf("a b c" -> Seq("x y z w", "a b c")),
      "cand_text", "refs").collect().head
    assert(perfect.getAs[Long]("ref_idx") == 1L && perfect.getAs[Double]("wer") == 0.0)
  }

  test("multi-ref WER: zero references → null stats (the rougeNMulti convention)") {
    val out = TextEval.werMulti(
      multiPairsOf("a b" -> Seq()), "cand_text", "refs").collect().head
    assert(out.isNullAt(out.fieldIndex("wer")))
    assert(out.getAs[Long]("h_len") == 2L)
  }

  test("standalone session path: bleu() self-registers the kernel function") {
    // regression: the ngram_overlap_stats kernel must not depend on an
    // earlier query having set anything up on the session
    val fresh = spark.newSession()
    import fresh.implicits._
    val df = Seq(("a b", "a b")).toDF("cand_text", "ref_text")
    val out = TextEval.bleu(df, "cand_text", "ref_text", maxN = 2).collect().head
    assert(out.getAs[Double]("bleu") == 1.0)
  }
}
