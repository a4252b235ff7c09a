package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

class LangNbSpec extends SparkSpec {

  import spark.implicits._

  // small planted corpus: characteristic words per language, enough
  // char-3-gram mass to separate the four Latin-script languages
  private val trainRows: Seq[(String, String)] = Seq(
    "the cat sat on the mat and looked at the dog" -> "en",
    "a quick brown fox jumps over the lazy dog" -> "en",
    "she sells sea shells by the sea shore every morning" -> "en",
    "the weather is lovely and the children are playing outside" -> "en",
    "el rápido zorro marrón salta sobre el perro perezoso" -> "es",
    "la señora compró naranjas y limones en el mercado pequeño" -> "es",
    "los niños juegan en el jardín durante la mañana soleada" -> "es",
    "el señor gonzález enseña español en la universidad" -> "es",
    "der schnelle braune fuchs springt über den faulen hund" -> "de",
    "die straßenbahn fährt durch die stadt und hält am bahnhof" -> "de",
    "geschwindigkeitsbegrenzung auf der autobahn zwischen münchen und nürnberg" -> "de",
    "das mädchen kauft frische brötchen in der bäckerei" -> "de",
    "le rapide renard brun saute par dessus le chien paresseux" -> "fr",
    "la boulangerie vend des croissants et des baguettes chaque matin" -> "fr",
    "les enfants jouent dans le jardin pendant la matinée ensoleillée" -> "fr",
    "monsieur dupont enseigne le français à l'université chaque semaine" -> "fr")

  private lazy val trainDf = trainRows.toDF("text", "lang")
  private lazy val model = LangNb.fit(trainDf, "text", "lang", n = 3, buckets = 512)

  test("kernel parity: char_gram_buckets == declarative pmod(conv(md5(substr)))," +
      " incl. multibyte") {
    val df = Seq("straße münchen", "abc", "ab", "", "naïve… text").toDF("t")
    val n = 3
    val b = 97
    // guard short strings: spark sequence(1, 0) DESCENDS instead of
    // emptying, so the bare transform would mint phantom grams
    val got = df
      .withColumn("__c", LangNb.normalized(col("t")))
      .withColumn("kernel", LangNb.gramBuckets(col("t"), n, b))
      .withColumn("decl", expr(
        s"""case when length(__c) >= $n then transform(
           |  sequence(1, length(__c) - ${n - 1}),
           |  p -> cast(pmod(conv(substring(md5(substr(__c, p, $n)), 1, 8), 16, 10),
           |                 $b) as int))
           |else cast(array() as array<int>) end""".stripMargin))
      .select(col("t"), col("kernel"), col("decl"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"kernel != declarative for '${r.getString(0)}'")
    }
  }

  test("NB classifies short / no-stopword texts the stopword heuristic provably misses") {
    val fixtures = Seq(
      // no function words at all: the q30 profile scores 0 everywhere → "und"
      ("zorro rápido jalapeño señor", "es"),
      ("quick brown fox morning", "en"),
      ("straßenbahn geschwindigkeitsbegrenzung bahnhof", "de"),
      ("croissants baguettes boulangerie matin", "fr"))
    val df = fixtures.toDF("text", "expected")
    val heuristic = df.select(col("text"), col("expected"),
        TextFunctions.langId(col("text")).as("h")).collect()
    heuristic.foreach { r =>
      assert(r.getString(2) == "und",
        s"fixture '${r.getString(0)}' must defeat the stopword heuristic " +
          s"(got '${r.getString(2)}') — pick words outside every profile")
    }
    val nb = LangNb.predict(df, "text", model)
      .select(col("expected"), col("pred_lang")).collect()
    nb.foreach(r => assert(r.getString(0) == r.getString(1),
      s"NB must classify what the heuristic cannot: expected ${r.getString(0)}, " +
        s"got ${r.getString(1)}"))
  }

  test("training-set predictions are all correct; scores are exact longs") {
    val scored = LangNb.predict(trainDf, "text", model)
      .select(col("lang"), col("pred_lang"), col("score_q")).collect()
    scored.foreach { r =>
      assert(r.getString(0) == r.getString(1))
      assert(r.getLong(2) < 0L, "log-scores are sums of negative micro-logs")
    }
  }

  test("no grams (text shorter than n): score falls back to the prior; " +
      "equal priors tie-break lang-ascending") {
    // 4 classes x 4 docs each → equal priors; a 2-char text has no
    // 3-grams, so every class scores exactly its prior and the
    // lang-ascending tie-break picks "de"
    val out = LangNb.predict(Seq("ab").toDF("text"), "text", model)
      .select(col("pred_lang"), col("score_q")).collect()(0)
    assert(out.getString(0) == model.langs.min)
    assert(out.getLong(1) == model.priorsQ(model.langs.indexOf(model.langs.min)))
  }

  test("predictWithMargin: margin is the exact top-two gap; ties give margin 0") {
    val df = Seq("el rápido zorro marrón", "ab").toDF("text")
    val out = LangNb.predictMargins(df, "text", model)
      .select(col("text"), col("pred_lang"), col("score_q"), col("margin_q"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // confident Spanish text: positive margin, winner matches predict()
    val (pEs, sEs, mEs) = out("el rápido zorro marrón")
    assert(pEs == "es" && mEs > 0)
    // recompute the gap by scoring every class directly
    val grams = Seq("el rápido zorro marrón").toDF("text")
      .select(LangNb.gramBuckets(col("text"), model.n, model.buckets))
      .collect()(0).getSeq[Int](0)
    val scores = model.langs.indices.map { c =>
      model.priorsQ(c) + grams.map(model.logLikQ(c)(_)).sum
    }.sorted.reverse
    assert(sEs == scores(0) && mEs == scores(0) - scores(1))
    // no grams + equal priors: every class ties → margin 0
    val (_, _, mTie) = out("ab")
    assert(mTie == 0L)
  }

  test("fit gates the driver collect on classes x buckets") {
    val err = intercept[IllegalArgumentException] {
      LangNb.fit(trainDf, "text", "lang", n = 3, buckets = 512, maxCells = 100)
    }
    assert(err.getMessage.contains("driver gate"))
  }
}
