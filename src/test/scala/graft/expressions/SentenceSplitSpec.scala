package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sentence segmentation + sentence-aware chunking: hand-segmented
  * fixtures (the segmentation itself is not SQL-replayable — the
  * UnicodeTokensSpec convention), exact round-trip identities, and
  * the packing arithmetic.
  */
class SentenceSplitSpec extends SparkSpec {

  private def spans(s: String): Seq[String] = SentenceSplit.spans(s).toSeq

  test("hand-segmented fixtures: terminators keep trailing space; abbrev-free prose") {
    assert(spans("A b c. D e f. G h.") == Seq("A b c. ", "D e f. ", "G h."))
    assert(spans("One! Two? Three.") == Seq("One! ", "Two? ", "Three."))
    // no terminator → one span
    assert(spans("no terminator at all") == Seq("no terminator at all"))
    assert(spans("") == Seq())
  }

  test("CJK sentences split on the ideographic full stop") {
    assert(spans("今天天气很好。明天下雨。") == Seq("今天天气很好。", "明天下雨。"))
  }

  test("round trip: every character lands in exactly one span, in order") {
    val messy = "Hello there.  Double  spaced!\nNewline sentence? tail no dot"
    assert(spans(messy).mkString("") == messy)
  }

  test("tokenCount: whitespace runs delimit, empties don't count") {
    assert(SentenceSplit.tokenCount("a b c") == 3)
    assert(SentenceSplit.tokenCount("  a\t\tb \n c  ") == 3)
    assert(SentenceSplit.tokenCount("") == 0)
    assert(SentenceSplit.tokenCount("   ") == 0)
  }

  private def chunksOf(text: String, maxTokens: Int): Seq[(String, Int, Int)] = {
    import spark.implicits._
    Seq(Tuple1(text)).toDF("t")
      .select(explode(call_function("sentence_chunks", col("t"), lit(maxTokens))).as("c"))
      .select(col("c.chunk"), col("c.n_sentences"), col("c.n_tokens"))
      .collect().toSeq.map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
  }

  test("packing: greedy fill, never splits a sentence, exact counts") {
    // spans of 3/3/2 tokens; budget 6 packs the first two, never three
    assert(chunksOf("A b c. D e f. G h.", 6) ==
      Seq(("A b c. D e f. ", 2, 6), ("G h.", 1, 2)))
    // budget 4 → every sentence its own chunk
    assert(chunksOf("A b c. D e f. G h.", 4) ==
      Seq(("A b c. ", 1, 3), ("D e f. ", 1, 3), ("G h.", 1, 2)))
  }

  test("a single sentence over budget becomes its own oversized chunk") {
    assert(chunksOf("one two three four five.", 3) ==
      Seq(("one two three four five.", 1, 5)))
    // and packing resumes cleanly after it (NB: UAX#29 SB8 — a period
    // before a LOWERCASE word does not end the sentence, so the
    // follow-on sentence must be capitalized to be a boundary)
    assert(chunksOf("one two three four five. A b.", 3) ==
      Seq(("one two three four five. ", 1, 5), ("A b.", 1, 2)))
  }

  test("chunk round trip: concat(chunks) == input; token totals conserve") {
    val text = "First sentence here. Second one follows! A third, longer sentence " +
      "with more words in it? Tail without terminator"
    val cs = chunksOf(text, 5)
    assert(cs.map(_._1).mkString("") == text)
    assert(cs.map(_._3).sum == SentenceSplit.tokenCount(text))
    assert(cs.forall(c => c._3 <= 5 || c._2 == 1))
  }

  test("operator: (id, chunk_id, ...) rows in order; null/empty docs emit nothing") {
    import spark.implicits._
    val df = Seq((1L, "A b c. D e f. G h."), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val rows = graft.operators.Chunking.sentenceChunks(df, "doc_id", "text", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.toSeq == Seq((1L, 0L, "A b c. "), (1L, 1L, "D e f. "), (1L, 2L, "G h.")))
  }

  test("refusal: maxTokens < 1") {
    val ex = intercept[Exception] { chunksOf("a b.", 0) }
    assert(ex.getMessage.contains("maxTokens"))
  }
}
