package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import TextFunctions._

  private def one[T](in: String, c: org.apache.spark.sql.Column => org.apache.spark.sql.Column): T = {
    import spark.implicits._
    Seq(Tuple1(in)).toDF("t").select(c(col("t")).as("r")).collect()(0).getAs[T](0)
  }

  test("token stats") {
    assert(one[Int]("a b c a", tokenCount) == 4)
    assert(one[Double]("a b c a", uniqueTokenRatio) == 0.75)
    assert(one[Double]("ab cd", avgTokenLength) == 2.0)
    assert(one[Double]("a, b!", punctRatio) == 2.0 / 5.0)
    assert(one[Double]("the cat sat", t => stopwordRatio(t, Seq("the", "a"))) == 1.0 / 3.0)
  }

  test("tokenStatsNative kernel == declarative stats on real documents") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val stop = Seq("the", "a", "and", "of", "to")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      // plus edge shapes the fixture may lack
      .unionByName(Seq((900001L, ""), (900002L, "  the THE the  "),
        (900003L, "ünïcode tokens ünïcode")).toDF("doc_id", "text"))
    import TextFunctions._
    val got = docs.select(col("doc_id"), tokenStatsNative(col("text"), stop).as("st"))
      .select(col("doc_id"), col("st.n_tokens"),
        (col("st.n_unique").cast("double") / col("st.n_tokens")).as("uniq"),
        (col("st.sum_token_len").cast("double") / col("st.n_tokens")).as("avg_len"),
        (col("st.n_stopwords").cast("double") / col("st.n_tokens")).as("stop_ratio"))
    val want = docs.select(col("doc_id"), tokenCount(col("text")).as("n_tokens"),
      uniqueTokenRatio(col("text")).as("uniq"),
      avgTokenLength(col("text")).as("avg_len"),
      stopwordRatio(col("text"), stop).as("stop_ratio"))
    assert(rowsOf(got) == rowsOf(want))
  }

  test("normalize_nfc: composes decomposed sequences; idempotent; null-safe") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      ("café", "café"),          // e + combining acute -> é
      ("Ångström", "Ångström"),
      ("plain ascii", "plain ascii"),
      ("é already composed", "é already composed"))
      .toDF("raw", "want")
    val got = df.select(call_function("normalize_nfc", col("raw")).as("got"), col("want"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
    // idempotent
    val twice = df.select(call_function("normalize_nfc",
      call_function("normalize_nfc", col("raw"))).as("g"), col("want")).collect()
    twice.foreach(r => assert(r.getString(0) == r.getString(1)))
    // null propagates
    val n = Seq(Option.empty[String]).toDF("raw")
      .select(call_function("normalize_nfc", col("raw"))).collect()(0)
    assert(n.isNullAt(0))
  }

  test("BPE-ish tokenization: contractions, digits, punctuation split separately") {
    assert(one[Int]("I don't like 42 apples!", bpeishTokenCount) == 7)
    // I | don | 't | like | 42 | apples | !
    assert(one[Int]("hello world", bpeishTokenCount) == 2)
    assert(one[Int]("2024-01-01", bpeishTokenCount) == 5) // 2024 | - | 01 | - | 01
    // whitespace-only splitting would call this ONE token
    assert(one[Int]("price:$9.99", bpeishTokenCount) > 1)
    assert(one[Int]("price:$9.99", tokenCount) == 1)
  }

  test("qualityScore in [0,1]; clean prose beats punctuation soup") {
    val stop = Seq("the", "a", "and", "of", "to")
    val good = one[Double]("the quick brown fox jumps over the lazy dog and runs to the hills", t => qualityScore(t, stop))
    val bad = one[Double]("!!! ??? ;;; ***", t => qualityScore(t, stop))
    assert(good >= 0 && good <= 1 && bad >= 0 && bad <= 1)
    assert(good > bad)
  }

  test("langId on real sentences") {
    assert(one[String]("the cat is not in the house", langId) == "en")
    assert(one[String]("der Hund ist nicht mit der Katze", langId) == "de")
    assert(one[String]("el perro no es un gato", langId) == "es")
    assert(one[String]("le chien est dans la maison", langId) == "fr")
    assert(one[String]("我 是 不 在", langId) == "zh")
    assert(one[String]("xyzzy plugh", langId) == "und")
  }

  test("langId tie-break is lexicographic first") {
    // "la" is in both es and fr profiles → tie 1:1 → es (lexicographically first)
    assert(one[String]("la table", langId) == "es")
  }

  test("langScoreTable (bulk path) agrees with per-row langId") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat is not in the house"),
      (2L, "der Hund ist nicht mit der Katze"),
      (3L, "el perro no es un gato"),
      (4L, "le chien est dans la maison"),
      (5L, "xyzzy plugh"),
      (6L, "la table")).toDF("id", "text")
    val bulk = TextFunctions.langScoreTable(docs, "id", "text")
      .select("id", "pred_lang").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val perRow = docs.select(col("id"), langId(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bulk == perRow)
    assert(bulk(6L) == "es") // tie-break lexicographic
  }

  test("contentFingerprint: whitespace-insensitive, case-insensitive") {
    val a = one[String]("Hello  World", contentFingerprint)
    val b = one[String]("hello world", contentFingerprint)
    val c = one[String]("hello worlds", contentFingerprint)
    assert(a == b && a != c)
  }

  private def winnow(in: String): Seq[Long] = {
    import spark.implicits._
    Seq(Tuple1(in)).toDF("t")
      .select(winnowingFingerprints(col("t")).as("r")).collect()(0).getSeq[Long](0)
  }

  test("winnowing: identical docs share all fingerprints; shifted doc shares most") {
    val a = winnow("one two three four five six seven eight nine ten")
    val b = winnow("one two three four five six seven eight nine ten")
    val shifted = winnow("zero one two three four five six seven eight nine ten")
    assert(a == b)
    val overlap = a.toSet.intersect(shifted.toSet).size.toDouble / a.size
    assert(overlap > 0.5, s"winnowing should be robust to prefix shift, overlap=$overlap")
  }

  test("repetitionStats: hand-computed bigram fractions; short docs emit no row") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a b"),   // bigrams: [a b, b a, a b, b a, a b] → top 3/5, distinct 2
      (2L, "x y z"),         // bigrams: [x y, y z] → top 1/2, dup 0
      (3L, "solo")).toDF("doc_id", "text")
    val got = TextFunctions.repetitionStats(df, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(1L, 2L))               // doc 3 has no bigram
    assert(got(1L) == ((5L, 3.0 / 5, 1.0 - 2.0 / 5)))
    assert(got(2L) == ((2L, 0.5, 0.0)))
  }

  test("repetitionStats at n=1 equals 1 - uniq_ratio from the token stats") {
    import spark.implicits._
    val df = Seq((1L, "the cat and the hat and the bat")).toDF("doc_id", "text")
    val r = TextFunctions.repetitionStats(df, "doc_id", "text", 1).collect()(0)
    // 8 tokens, 5 distinct ("the"×3, "and"×2) → dup_frac 3/8, top_frac 3/8
    assert((r.getLong(1), r.getDouble(2), r.getDouble(3)) == ((8L, 3.0 / 8, 3.0 / 8)))
  }

  test("repetition kernel ≡ declarative form on random texts, n = 1..3") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Seq("a", "bb", "ccc", "dd", "e")
    val docs = (1L to 60L).map(i =>
      (i, Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    for (n <- 1 to 3) {
      val kernel = TextFunctions.repetitionStats(df, "doc_id", "text", n)
      val decl = TextFunctions.repetitionStatsDeclarative(df, "doc_id", "text", n)
      assert(rowsOf(kernel) == rowsOf(decl), s"n=$n")
    }
  }

  test("repetitionStats is map-side: no Exchange in the plan") {
    import spark.implicits._
    val df = Seq((1L, "x y x y")).toDF("doc_id", "text")
    val rep = TextFunctions.repetitionStats(df, "doc_id", "text", 2)
    rep.collect()
    assert(!rep.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("normalizeUrl: canonical collapse and the cases it must NOT touch") {
    import spark.implicits._
    val cases = Seq(
      // same page, mangled → canonical
      ("HTTPS://Example.COM/a/b/?utm_source=x&ref=y#frag", "https://example.com/a/b"),
      ("https://example.com/a/b", "https://example.com/a/b"),
      // non-tracking params survive, tracking in the middle is excised
      ("https://example.com/p?id=7&utm_campaign=z&x=1", "https://example.com/p?id=7&x=1"),
      // root slash is NOT stripped; path case is preserved
      ("http://Example.com/", "http://example.com/"),
      ("https://example.com/CaseSensitive/Path", "https://example.com/CaseSensitive/Path"),
      // params whose names merely END in a tracking name survive intact:
      // 'href' is not 'ref', 'xutm_source' is not 'utm_source'
      ("https://example.com/p?href=A&b=2", "https://example.com/p?href=A&b=2"),
      ("https://example.com/p?pref=dark", "https://example.com/p?pref=dark"),
      ("https://example.com/p?xref=2&ref=y", "https://example.com/p?xref=2"),
      // consecutive tracking params all stripped, separators tidied
      ("https://example.com/p?utm_a=1&utm_b=2", "https://example.com/p"),
      ("https://example.com/p?a=1&utm_x=2&utm_y=3&b=4", "https://example.com/p?a=1&b=4"),
      ("https://example.com/p?ref=r&id=1", "https://example.com/p?id=1"))
    val got = cases.map(_._1).toDF("u")
      .select(TextFunctions.normalizeUrl(col("u")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2), s"got $got")
  }

  test("normalizeUrl is idempotent over randomized mangled URLs") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val schemes = Seq("http://", "HTTPS://", "https://")
    val hosts = Seq("Example.com", "www.EXAMPLE.org", "a.b.co")
    val paths = Seq("", "/", "/p", "/p/q/", "/P/Q")
    val queries = Seq("", "?id=1", "?utm_source=x", "?id=1&utm_medium=m&x=2",
      "?ref=r&gclid=g", "?href=A&utm_x=1&pref=dark", "?utm_a=1&utm_b=2&xref=3")
    val frags = Seq("", "#top", "#a/b")
    val urls = (1 to 200).map { _ =>
      schemes(rnd.nextInt(3)) + hosts(rnd.nextInt(3)) + paths(rnd.nextInt(5)) +
        queries(rnd.nextInt(5)) + frags(rnd.nextInt(3))
    }
    val rows = urls.toDF("u")
      .select(TextFunctions.normalizeUrl(col("u")).as("n1"))
      .select(col("n1"), TextFunctions.normalizeUrl(col("n1")).as("n2"))
      .collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1),
      s"not idempotent: '${r.getString(0)}' -> '${r.getString(1)}'"))
  }

  test("tokenEntropyTable: hand-computed entropy; kernel ≡ declarative") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a a a"),      // H = 0 (single symbol)
      (2L, "a b c d"),      // H = 2 bits (uniform over 4)
      (3L, "a a b b c c d d"), // H = 2 bits (uniform over 4, doubled)
      (4L, "a a a b")       // H = −(3/4)log2(3/4) − (1/4)log2(1/4)
    ).toDF("doc_id", "text")
    val got = TextFunctions.tokenEntropyTable(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val h4 = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25)) / math.log(2.0)
    assert(math.abs(got(1L)) < 1e-12)
    assert(math.abs(got(2L) - 2.0) < 1e-12)
    assert(math.abs(got(3L) - 2.0) < 1e-12)
    assert(math.abs(got(4L) - h4) < 1e-12)
    val dec = TextFunctions.tokenEntropyTableDeclarative(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    got.foreach { case (k, v) => assert(math.abs(v - dec(k)) < 1e-9, s"doc $k") }
  }

  test("tokenEntropyTable: bigram entropy distinguishes repeated structure") {
    import spark.implicits._
    // same unigram distribution, different bigram structure
    val df = Seq((1L, "a b a b a b"), (2L, "a a a b b b")).toDF("doc_id", "text")
    val got = TextFunctions.tokenEntropyTable(df, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val dec = TextFunctions.tokenEntropyTableDeclarative(df, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) < got(2L)) // alternation = fewer distinct bigrams
    got.foreach { case (k, v) => assert(math.abs(v - dec(k)) < 1e-9) }
  }

  test("qualityModelTable: stopword-rich prose outscores keyword soup; empty docs drop") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat on a mat and looked out of the window to the garden"),
      (2L, "buy buy buy cheap cheap cheap now now now"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextFunctions.qualityModelTable(df, "doc_id", "text",
        stopwords = Seq("the", "a", "and", "of", "to"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 > byId(2L)._2)
    assert(got.forall(r => r._2 > 0.0 && r._2 < 1.0))
    // empty text: tokens = [""], n_tokens = 1 > 0 — still scored; the
    // row only drops when the split yields nothing (never with split's
    // contract), so all 3 score
    assert(got.length == 3)
    // score matches the closed form for doc 2 (no stopwords, 3 unique / 9)
    val z = -3.0 + 0.4 * math.log(10.0) + 2.0 * (3.0 / 9.0) +
      0.1 * ((3 * 3 + 5 * 3 + 3 * 3) / 9.0) + 4.0 * 0.0
    assert(math.abs(byId(2L)._2 - 1.0 / (1.0 + math.exp(-z))) < 1e-12)
  }

  test("two repetition-kernel instances in one projection compile under strict codegen") {
    import spark.implicits._
    val conf = spark.conf
    val prev = Seq("spark.sql.codegen.fallback", "spark.sql.codegen.factoryMode")
      .map(k => k -> conf.getOption(k))
    conf.set("spark.sql.codegen.fallback", "false")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = Seq((1L, "a b a b", "x x x")).toDF("id", "t1", "t2")
      val out = df.select(
        call_function("ngram_repetition", split(col("t1"), " "), lit(2)).as("r1"),
        call_function("ngram_repetition", split(col("t2"), " "), lit(1)).as("r2"))
      val row = out.collect()(0)
      assert(row.getStruct(0).getLong(0) == 3L) // 3 bigrams in t1
      assert(row.getStruct(1).getLong(1) == 3L) // top count 3 in t2
    } finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("codeTokens: camelCase, PascalCase, snake_case, digits, separators") {
    import spark.implicits._
    val cases = Seq(
      ("parseHttpRequest2", Seq("parse", "http", "request", "2")),
      ("XMLHttpRequest", Seq("xmlhttp", "request")), // no interior lower→upper cut in all-caps runs
      ("snake_case_name", Seq("snake", "case", "name")),
      ("dotted.path-name#id", Seq("dotted", "path", "name", "id")),
      ("plain words stay", Seq("plain", "words", "stay")),
      ("v2Engine", Seq("v", "2", "engine")),
      ("", Seq.empty[String])
    )
    val got = cases.map(_._1).toDF("t")
      .select(TextFunctions.codeTokens(col("t")).as("toks"))
      .collect().map(_.getSeq[String](0).toSeq)
    cases.zip(got).foreach { case ((in, want), have) =>
      assert(have == want, s"codeTokens('$in') = $have, expected $want")
    }
  }
}
