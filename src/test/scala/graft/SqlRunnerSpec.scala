package graft

import org.apache.spark.sql.functions._

/** The pure-SQL surface: every native expression must be usable from
  * `spark.sql` on a session built with [[graft.expressions.GraftExtensions]]
  * (as `GraftSession.local` builds the shared one) — the path SqlRunner
  * and `spark.sql.extensions`-configured clusters take.
  */
class SqlRunnerSpec extends SparkSpec {

  test("native functions run from pure SQL") {
    import spark.implicits._
    Seq((1L, "the cat the cat sat", Seq(0.6f, -0.8f)))
      .toDF("id", "text", "v").createOrReplaceTempView("sql_docs")
    // the nfc input is 'cafe' + U+0301 (decomposed combining acute);
    // the expected value is the composed single code point U+00E9
    val row = spark.sql(s"""
      SELECT
        cosine_similarity(v, v)                                  AS self_sim,
        quantize_int8_stats(v).q_l1                              AS q_l1,
        ngram_repetition(split(lower(trim(text)), '\\\\s+'), 2).n_grams AS n_bigrams,
        text_array_stats(split(lower(trim(text)), '\\\\s+'),
                         array('the', 'a')).n_stopwords          AS n_stop,
        normalize_nfc('café')                              AS nfc
      FROM sql_docs""").collect()(0)
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-9)
    // scale = 0.8/127; codes = (round(95.25), -127) -> L1 = 95 + 127
    assert(row.getLong(1) == 95L + 127L)
    assert(row.getLong(2) == 4L)
    assert(row.getInt(3) == 2)
    assert(row.getString(4) == "café") // composed single code point
  }
}
