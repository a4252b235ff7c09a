package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The clipped-count kernel against a naive Scala reference, across
  * BOTH internal paths: packed-long gram codes (n·bits ≤ 63 — covers
  * practically every real row) and the length-prefixed string fallback
  * (forced by a vocabulary large enough that 8 ids no longer pack).
  */
class NgramOverlapStatsSpec extends SparkSpec {
  import spark.implicits._

  /** Naive reference: clipped_n = Σ_g min(count_cand(g), count_ref(g))
    * over gram SEQUENCES (Papineni §2.1).
    */
  private def naive(cand: Seq[String], ref: Seq[String], maxN: Int): Seq[(Int, Long, Long, Long)] =
    (1 to maxN).map { n =>
      val cg = cand.sliding(n).filter(_.size == n).toSeq
      val rg = ref.sliding(n).filter(_.size == n).toSeq
      val rc = rg.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val clipped = cg.groupBy(identity).map { case (g, occ) =>
        math.min(occ.size.toLong, rc.getOrElse(g, 0L))
      }.sum
      (n, clipped, cg.size.toLong, rg.size.toLong)
    }

  private def kernel(cand: Seq[String], ref: Seq[String], maxN: Int): Seq[(Int, Long, Long, Long)] = {
    val row = Seq((cand, ref)).toDF("c", "r")
      .select(call_function("ngram_overlap_stats", col("c"), col("r"), lit(maxN)).as("ov"))
      .collect().head
    row.getSeq[org.apache.spark.sql.Row](0)
      .map(st => (st.getInt(0), st.getLong(1), st.getLong(2), st.getLong(3)))
  }

  test("packed path: 300 random small-vocab pairs match the naive reference") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "bb", "c", "dd", "e", "", "g h", "")
    for (_ <- 1 to 300) {
      val cand = Seq.fill(rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
      val ref = Seq.fill(rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
      val maxN = 1 + rnd.nextInt(4)
      assert(kernel(cand, ref, maxN) == naive(cand, ref, maxN),
        s"cand=$cand ref=$ref maxN=$maxN")
    }
  }

  test("string fallback path: vocab > 128 with n = 8 (8 ids no longer pack into 63 bits)") {
    val rnd = new scala.util.Random(7)
    // 200 distinct tokens -> bits = 8 -> 8*8 = 64 > 63 forces the fallback at n = 8
    val vocab = Vector.tabulate(200)(i => s"t$i")
    for (_ <- 1 to 20) {
      val cand = Seq.fill(30 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
      // share a run so higher orders actually clip something
      val shared = cand.take(12)
      val ref = shared ++ Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
      assert(kernel(cand, ref, 8) == naive(cand, ref, 8))
    }
  }

  test("empty sides and null-free totals") {
    assert(kernel(Nil, Seq("a", "b"), 3) == naive(Nil, Seq("a", "b"), 3))
    assert(kernel(Seq("a"), Nil, 2) == naive(Seq("a"), Nil, 2))
    assert(kernel(Nil, Nil, 1) == naive(Nil, Nil, 1))
  }
}
