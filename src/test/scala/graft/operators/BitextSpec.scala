package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Margin mining against a hand-built two-space fixture: hubness
  * suppression (the raw-cosine winner loses to the margin winner),
  * mutuality, thresholding, and parity with a naive in-memory
  * replay on random data.
  */
class BitextSpec extends SparkSpec {
  import spark.implicits._

  private def mine(src: Seq[(Long, Array[Float])], tgt: Seq[(Long, Array[Float])],
                   k: Int, threshold: Double) = {
    val sDf = src.toDF("vec_id", "embedding")
    val tDf = tgt.toDF("vec_id", "embedding")
    val fwd = Similarity.bruteForceTopK(sDf, tDf, "vec_id", "embedding", k)
    val bwdQ = tDf.join(fwd.select(col("neighbour_id").as("vec_id")).distinct(), "vec_id")
    val bwd = Similarity.bruteForceTopK(bwdQ, sDf, "vec_id", "embedding", k)
    Bitext.marginMine(fwd, bwd, threshold)
      .orderBy("src_id", "tgt_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
  }

  test("a clean 1:1 alignment is fully recovered") {
    // tgt vectors are near-copies of their src partners
    val dirs = Seq(
      Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(0f, 0f, 1f),
      Array(0.7f, 0.7f, 0f))
    val src = dirs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val tgt = dirs.zipWithIndex.map { case (v, i) =>
      (100L + i, Array(v(0) + 0.01f, v(1) + 0.02f, v(2) + 0.01f))
    }
    val got = mine(src, tgt, k = 3, threshold = 1.0)
    assert(got.toSeq === Seq((0L, 100L), (1L, 101L), (2L, 102L), (3L, 103L)))
  }

  test("a hub target is not multiply awarded: mutuality keeps one src") {
    // hub ≈ everyone's nearest target, but it can be backward-best for
    // only ONE src — the others must not emit the hub
    val src = Seq(
      (0L, Array(1f, 0f, 0.1f)),
      (1L, Array(0.9f, 0.1f, 0.1f)),
      (2L, Array(0.8f, 0.2f, 0.1f)))
    val tgt = Seq(
      (100L, Array(0.9f, 0.1f, 0.1f)), // the hub (exactly src 1)
      (101L, Array(0f, 1f, 0f)))
    val got = mine(src, tgt, k = 2, threshold = 0.0)
    val hubWinners = got.filter(_._2 == 100L)
    assert(hubWinners.length == 1)
    // which src wins is a margin artifact (the ratio normalizes by each
    // src's own neighbourhood average, so the src with the DULLER
    // neighbourhood outranks the exact copy); the property under test
    // is single-award, and the winner is deterministic
    assert(hubWinners.head._1 == 0L)
  }

  test("threshold filters low-margin pairs") {
    val src = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
    val tgt = Seq((100L, Array(1f, 0.05f)), (101L, Array(0.05f, 1f)))
    val all = mine(src, tgt, k = 2, threshold = 0.0)
    val none = mine(src, tgt, k = 2, threshold = 100.0)
    assert(all.nonEmpty && none.isEmpty)
  }

  test("random parity with a naive driver replay") {
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(8)(rnd.nextFloat() - 0.5f)
    val src = (0L until 12L).map(i => (i, vec()))
    val tgt = (100L until 118L).map(i => (i, vec()))
    val k = 3
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    }
    def topk(qs: Seq[(Long, Array[Float])], cs: Seq[(Long, Array[Float])]) =
      qs.flatMap { case (qi, qv) =>
        cs.filter(_._1 != qi).map { case (ci, cv) => (qi, ci, cos(qv, cv)) }
          .sortBy { case (_, ci, c) => (-c, ci) }.take(k)
      }
    val fwd = topk(src, tgt)
    val ys = fwd.map(_._2).distinct.toSet
    val bwd = topk(tgt.filter(t => ys(t._1)), src)
    val aF = fwd.groupBy(_._1).map { case (x, rs) => x -> rs.map(_._3).sum / rs.size }
    val aB = bwd.groupBy(_._1).map { case (y, rs) => y -> rs.map(_._3).sum / rs.size }
    def marg(x: Long, y: Long, c: Double) = c / ((aF(x) + aB(y)) / 2.0)
    val bestF = fwd.map { case (x, y, c) => (x, y, c, marg(x, y, c)) }
      .groupBy(_._1).map(_._2.minBy(t => (-t._4, t._2))).toSeq
    val bestB = bwd.map { case (y, x, c) => (x, y, marg(x, y, c)) }
      .groupBy(_._2).map(_._2.minBy(t => (-t._3, t._1))).map(t => (t._1, t._2)).toSet
    val expect = bestF.filter(t => bestB((t._1, t._2)) && t._4 >= 1.0)
      .map(t => (t._1, t._2)).sorted
    assert(mine(src, tgt, k, 1.0).toSeq === expect)
  }
}
