package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The Aho–Corasick kernel against a naive all-positions scan: hand
  * cases for overlap / nesting / word-boundary crossing, randomized
  * parity, type-check refusals, and the Blocklist operator on top.
  */
class AhoCorasickCountsSpec extends SparkSpec {
  import spark.implicits._

  /** Naive reference: all (possibly overlapping) occurrence counts. */
  private def naive(text: String, pats: Seq[String]): Seq[Long] =
    pats.map { p =>
      (0 to text.length - p.length)
        .count(i => text.regionMatches(i, p, 0, p.length)).toLong
    }

  private def kernel(text: String, pats: Seq[String]): Seq[Long] = {
    Seq(Tuple1(text)).toDF("t")
      .select(call_function("aho_corasick_counts", col("t"),
        array(pats.map(lit): _*)))
      .collect().head.getSeq[Long](0)
  }

  test("hand cases: overlap, nesting, phrase across word boundary") {
    // self-overlapping pattern: "aa" occurs 3 times in "aaaa"
    assert(kernel("aaaa", Seq("aa")) === Seq(3L))
    // nested patterns both counted at the same end position
    assert(kernel("window sort here", Seq("sort", "window sort")) === Seq(1L, 1L))
    // phrase crosses the word boundary; word also counted inside it
    assert(kernel("a batch batch batch b", Seq("batch", "batch batch")) ===
      Seq(3L, 2L))
    // no match, empty text
    assert(kernel("xyz", Seq("ab")) === Seq(0L))
    assert(kernel("", Seq("ab")) === Seq(0L))
    // pattern = whole text
    assert(kernel("abc", Seq("abc", "b", "c")) === Seq(1L, 1L, 1L))
  }

  test("unicode patterns (CJK, no word boundaries)") {
    assert(kernel("我爱北京我爱", Seq("我爱", "北京", "爱北")) === Seq(2L, 1L, 1L))
  }

  test("300 random texts vs the naive scan") {
    val rnd = new scala.util.Random(19)
    val alpha = "abc "
    val pats = Seq("a", "ab", "ba", "aa", "ab a", "c", "abc", "b a")
    for (_ <- 1 to 300) {
      val t = Seq.fill(rnd.nextInt(40))(alpha(rnd.nextInt(alpha.length))).mkString
      assert(kernel(t, pats) === naive(t, pats), s"text=[$t]")
    }
  }

  test("null text yields null; refusals on bad pattern lists") {
    val r = Seq(Tuple1(null: String)).toDF("t")
      .select(call_function("aho_corasick_counts", col("t"), array(lit("a"))))
      .collect().head
    assert(r.isNullAt(0))
    // empty pattern, empty list, non-foldable list must all refuse
    intercept[Exception] {
      Seq(Tuple1("x")).toDF("t")
        .select(call_function("aho_corasick_counts", col("t"), array(lit(""))))
        .collect()
    }
    intercept[Exception] {
      Seq(Tuple1("x")).toDF("t")
        .select(call_function("aho_corasick_counts", col("t"),
          typedLit(Array.empty[String])))
        .collect()
    }
    intercept[Exception] {
      Seq(("x", Seq("a"))).toDF("t", "p")
        .select(call_function("aho_corasick_counts", col("t"), col("p")))
        .collect()
    }
  }

  test("Blocklist.annotate totals and gate") {
    import graft.operators.Blocklist
    val docs = Seq(
      (1L, "Batch BATCH batch stream"), // case-folded: "batch batch" x2
      (2L, "clean text here"),
      (3L, "a vector of vectors")
    ).toDF("doc_id", "text")
    val ann = Blocklist.annotate(docs, "text", Seq("batch batch", "vector"))
      .orderBy("doc_id")
      .select("doc_id", "hits_total", "patterns_hit", "blocked")
      .collect().map(_.toSeq)
    assert(ann(0) === Seq(1L, 2L, 1L, true))
    assert(ann(1) === Seq(2L, 0L, 0L, false))
    assert(ann(2) === Seq(3L, 2L, 1L, true)) // "vector" twice ("vectors")
    val clean = Blocklist.filterClean(docs, "text", Seq("batch batch", "vector"))
    assert(clean.select("doc_id").as[Long].collect().toSeq === Seq(2L))
    assert(clean.columns.toSeq === Seq("doc_id", "text"))
  }
}
