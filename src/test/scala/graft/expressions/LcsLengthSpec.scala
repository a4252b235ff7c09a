package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The LCS kernel against a naive quadratic reference over random
  * token arrays, plus the classic hand cases.
  */
class LcsLengthSpec extends SparkSpec {
  import spark.implicits._

  private def naive(a: Seq[String], b: Seq[String]): Long = {
    val dp = Array.ofDim[Int](a.size + 1, b.size + 1)
    for (i <- 1 to a.size; j <- 1 to b.size)
      dp(i)(j) = if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
                 else math.max(dp(i - 1)(j), dp(i)(j - 1))
    dp(a.size)(b.size).toLong
  }

  private def kernel(a: Seq[String], b: Seq[String]): Long = {
    Seq((a, b)).toDF("a", "b")
      .select(call_function("lcs_length", col("a"), col("b")))
      .collect().head.getLong(0)
  }

  test("hand cases: identity, disjoint, interleave, repeats, empties") {
    assert(kernel(Seq("a", "b", "c"), Seq("a", "b", "c")) == 3)
    assert(kernel(Seq("a", "b"), Seq("x", "y")) == 0)
    assert(kernel("a x b y c".split(" "), "a b c".split(" ")) == 3)
    assert(kernel("a a b a".split(" "), "a b a a".split(" ")) == 3)
    assert(kernel(Nil, Seq("a")) == 0 && kernel(Seq("a"), Nil) == 0)
  }

  test("asymmetric swap: lcs(a, b) == lcs(b, a) (the kernel flips to the shorter row)") {
    val a = "the quick brown fox jumps over the lazy dog".split(" ").toSeq
    val b = "the brown dog jumps".split(" ").toSeq
    assert(kernel(a, b) == kernel(b, a))
    // [the brown jumps] — "dog" precedes "jumps" in b but follows it in a
    assert(kernel(a, b) == 3)
  }

  test("200 random pairs match the naive reference") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "dd", "e")
    for (_ <- 1 to 200) {
      val a = Seq.fill(rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
      val b = Seq.fill(rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
      assert(kernel(a, b) == naive(a, b), s"a=$a b=$b")
    }
  }
}
