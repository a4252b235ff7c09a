package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The token Levenshtein kernel against a naive quadratic reference,
  * plus symmetry and the token-vs-character distinction.
  */
class TokenEditDistanceSpec extends SparkSpec {
  import spark.implicits._

  private def naive(a: Seq[String], b: Seq[String]): Long = {
    val dp = Array.ofDim[Int](a.size + 1, b.size + 1)
    for (i <- 0 to a.size) dp(i)(0) = i
    for (j <- 0 to b.size) dp(0)(j) = j
    for (i <- 1 to a.size; j <- 1 to b.size)
      dp(i)(j) = math.min(
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1),
        math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1))
    dp(a.size)(b.size).toLong
  }

  private def kernel(a: Seq[String], b: Seq[String]): Long = {
    Seq((a, b)).toDF("a", "b")
      .select(call_function("token_edit_distance", col("a"), col("b")))
      .collect().head.getLong(0)
  }

  test("hand cases + token (not character) granularity") {
    assert(kernel(Seq("a", "b"), Seq("a", "b")) == 0)
    assert(kernel(Nil, Seq("a", "b")) == 2 && kernel(Seq("a"), Nil) == 1)
    // one token substitution, even though the STRINGS differ by one char
    assert(kernel(Seq("kitten"), Seq("sitten")) == 1)
    // a whole-token view: "ab" vs ["a","b"] is 1 sub + 1 del, not char ops
    assert(kernel(Seq("ab"), Seq("a", "b")) == 2)
  }

  test("symmetry and 200 random pairs vs the naive reference") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("a", "b", "c", "dd", "e", "f")
    for (_ <- 1 to 200) {
      val a = Seq.fill(rnd.nextInt(22))(vocab(rnd.nextInt(vocab.size)))
      val b = Seq.fill(rnd.nextInt(22))(vocab(rnd.nextInt(vocab.size)))
      val d = kernel(a, b)
      assert(d == naive(a, b), s"a=$a b=$b")
      assert(d == kernel(b, a), "distance is symmetric")
    }
  }
}
