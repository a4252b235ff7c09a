package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-segmented fixtures for the Unicode tokenizer seam
  * ([[UnicodeTokens]] / graft.functions.Tokenize): CJK per-char
  * refinement, Thai dictionary breaks, space-delimited scripts,
  * ASCII degradation to the whitespace tokenizer, and the BLEU
  * metric threaded through the seam.
  */
class UnicodeTokensSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def seg(s: String): Seq[String] =
    UnicodeTokens.segment(s).map(_.toString).toSeq

  // ---------------------------------------------------------------
  // hand-segmented fixtures
  // ---------------------------------------------------------------

  test("Chinese: one token per Han character") {
    assert(seg("我爱北京天安门") === Seq("我", "爱", "北", "京", "天", "安", "门"))
  }

  test("Japanese: Han + Hiragana per char, Katakana runs kept whole") {
    assert(seg("コンピュータで自然言語処理を学ぶ") ===
      Seq("コンピュ", "ー", "タ", "で", "自", "然", "言", "語", "処", "理", "を", "学", "ぶ"))
  }

  test("Thai: dictionary-based word breaks (not one run per phrase)") {
    assert(seg("ภาษาไทยเป็นภาษาที่สวยงาม") ===
      Seq("ภาษา", "ไทย", "เป็น", "ภาษา", "ที่", "สวย", "งาม"))
  }

  test("Korean: space-delimited Hangul words kept whole") {
    assert(seg("한국어 자연어 처리") === Seq("한국어", "자연어", "처리"))
  }

  test("English with punctuation: UAX#29 words, lowercased, punct dropped") {
    assert(seg("Hello, world! it's a test-case v2.0") ===
      Seq("hello", "world", "it's", "a", "test-case", "v2.0"))
  }

  test("Latin diacritics, Cyrillic, Greek") {
    assert(seg("Grüße für Müller façade naïve") ===
      Seq("grüße", "für", "müller", "façade", "naïve"))
    assert(seg("русский язык и ελληνικά") ===
      Seq("русский", "язык", "и", "ελληνικά"))
  }

  test("mixed script: Han chars split, Latin words kept") {
    assert(seg("mixed 中文 and English 123") ===
      Seq("mixed", "中", "文", "and", "english", "123"))
  }

  test("supplementary-plane Han (surrogate pairs) split per codepoint") {
    assert(seg("𠀀𠀁") === // U+20000, U+20001
      Seq("𠀀", "𠀁"))
  }

  test("degenerate inputs: empty, punctuation-only, whitespace-only") {
    assert(seg("") === Seq.empty)
    assert(seg("!!! ... ???") === Seq.empty)
    assert(seg("   \t\n  ") === Seq.empty)
  }

  test("null text yields null array (expression level)") {
    val df = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(null.asInstanceOf[String])),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.StringType, nullable = true))))
    assert(df.select(call_function("unicode_tokens", col("t"))).collect()(0).isNullAt(0))
  }

  // ---------------------------------------------------------------
  // invariants
  // ---------------------------------------------------------------

  test("ROOT-locale invariance on non-Thai space-delimited fixtures") {
    // the th word instance = ROOT UAX#29 + the Thai dictionary; assert
    // the rules agree on representative non-Thai text so the dictionary
    // upgrade can't silently change Latin/Cyrillic/Greek/Hangul tokens
    val fixtures = Seq(
      "Hello, world! it's a test-case v2.0",
      "Grüße für Müller façade naïve",
      "русский язык и ελληνικά",
      "한국어 자연어 처리",
      "don't co-operate U.S.A. 1,000")
    for (s <- fixtures) {
      val bi = java.text.BreakIterator.getWordInstance(java.util.Locale.ROOT)
      bi.setText(s)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var a = bi.first(); var b = bi.next()
      while (b != java.text.BreakIterator.DONE) {
        val w = s.substring(a, b)
        if (w.codePoints().iterator().asScala.exists(Character.isLetterOrDigit(_)))
          out += w.toLowerCase(java.util.Locale.ROOT)
        a = b; b = bi.next()
      }
      assert(seg(s) === out.toSeq, s"ROOT/th divergence on: $s")
    }
  }

  test("ASCII degradation: unicode tokens == whitespace tokens on the oracle corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val mismatches = docs.select(
        call_function("unicode_tokens", col("text")).as("u"),
        filter(split(lower(trim(col("text"))), " "), t => t =!= lit("")).as("w"))
      .filter(not(col("u") === col("w")))
      .count()
    assert(mismatches === 0L)
  }

  // ---------------------------------------------------------------
  // the seam, end to end
  // ---------------------------------------------------------------

  test("BLEU through the seam: hand-computed Chinese pair; whitespace mode is blind") {
    import graft.operators.TextEval
    import graft.functions.Tokenize
    val pairs = spark.createDataFrame(Seq(
      (1, "我爱北京天安门", "我爱北京"))).toDF("pid", "cand_text", "ref_text")
    // unicode tokens: cand [我,爱,北,京,天,安,门] (7), ref [我,爱,北,京] (4)
    // m1 = 4, p1 = 4/7; cand bigrams 6, ref bigrams 3, m2 = 3,
    // p2 = (3+1)/(6+1) = 4/7; c > r so bp = 1; bleu = 4/7
    val u = TextEval.bleu(pairs, "cand_text", "ref_text", maxN = 2,
      mode = Tokenize.Unicode).collect()(0)
    assert(u.getAs[Long]("c_len") === 7L)
    assert(u.getAs[Long]("r_len") === 4L)
    assert(u.getAs[Long]("m1") === 4L)
    assert(u.getAs[Long]("m2") === 3L)
    assert(u.getAs[Double]("bleu") === math.rint(4.0 / 7.0 * 1e6) / 1e6)
    // whitespace mode sees ONE "token" per side, no match: score 0 —
    // the silent degradation this seam exists to fix
    val w = TextEval.bleu(pairs, "cand_text", "ref_text", maxN = 2,
      mode = Tokenize.Whitespace).collect()(0)
    assert(w.getAs[Long]("c_len") === 1L)
    assert(w.getAs[Long]("m1") === 0L)
    assert(w.getAs[Double]("bleu") === 0.0)
  }

  test("token stats through the seam: Chinese doc gets real counts") {
    import graft.functions.{TextFunctions, Tokenize}
    val df = spark.createDataFrame(Seq((1, "我爱北京天安门 我爱"))).toDF("id", "t")
    val st = df.select(TextFunctions.tokenStatsNative(col("t"), Seq("的"),
      Tokenize.Unicode).as("st")).select(col("st.*")).collect()(0)
    // [我,爱,北,京,天,安,门,我,爱] → 9 tokens, 7 unique, each length 1
    assert(st.getAs[Long]("n_tokens") === 9L)
    assert(st.getAs[Long]("n_unique") === 7L)
    assert(st.getAs[Long]("sum_token_len") === 9L)
    // whitespace mode: 2 clause "tokens" — the degenerate reading
    val ws = df.select(TextFunctions.tokenStatsNative(col("t"), Seq("的"))
      .as("st")).select(col("st.*")).collect()(0)
    assert(ws.getAs[Long]("n_tokens") === 2L)
  }

  test("vocabulary profiling through the seam: chao1 sees Han types") {
    import graft.operators.CorpusStats
    import graft.functions.Tokenize
    val df = spark.createDataFrame(Seq(
      (1, "我爱北京"), (2, "我爱上海"))).toDF("id", "t")
    val u = CorpusStats.chao1(df, "t", Tokenize.Unicode).collect()(0)
    // tokens: 我爱北京 + 我爱上海 → 8 tokens, types {我,爱,北,京,上,海} = 6
    assert(u.getAs[Long]("n_tokens") === 8L)
    assert(u.getAs[Long]("vocab") === 6L)
    val w = CorpusStats.chao1(df, "t").collect()(0)
    assert(w.getAs[Long]("vocab") === 2L) // two whole-clause "types"
  }
}
