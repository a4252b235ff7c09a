package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The k-best kernel behind every vector search that returns "the k best
  * neighbours per query" ([[Similarity]]'s top-k routes, [[Pq]]'s ADC
  * scans). A neighbour list keeps the k best (score, id) per query in
  * score order — higher first for similarities, lower first for
  * distances — with ties to the lower id. A NaN score (the cosine of a
  * zero-norm vector) never ranks.
  *
  * [[search]] is the shape REPOSE (ICDE 2021) uses for distributed top-k:
  * the bounded query batch broadcasts once, each corpus partition is
  * scanned once into one bounded heap per query, and only
  * k·|Q|·numPartitions candidates reach the one per-query [[rerank]].
  */
private[operators] object TopK {

  /** One partition's bounded heaps: the k best (score, id) offered per
    * query index. `queryIds(i)` names query `i` in the output.
    */
  final class Heaps(queryIds: Array[Long], k: Int, descending: Boolean) {
    private def before(s1: Double, id1: Long, s2: Double, id2: Long): Boolean =
      if (s1 != s2) (if (descending) s1 > s2 else s1 < s2) else id1 < id2

    // the worst kept candidate sits at the head, ready for eviction
    private val heaps = Array.fill(queryIds.length)(
      new java.util.PriorityQueue[(Double, Long)](k + 1,
        (a: (Double, Long), b: (Double, Long)) =>
          if (before(a._1, a._2, b._1, b._2)) 1
          else if (before(b._1, b._2, a._1, a._2)) -1
          else 0))

    def offer(q: Int, score: Double, id: Long): Unit =
      if (!score.isNaN) {
        val h = heaps(q)
        if (h.size < k) h.add((score, id))
        else if (before(score, id, h.peek()._1, h.peek()._2)) { h.poll(); h.add((score, id)) }
      }

    /** (query id, id, score) for every kept candidate. */
    def rows: Iterator[(Long, Long, Double)] =
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        h.iterator.asScala.map { case (s, id) => (queryIds(q), id, s) }
      }
  }

  /** Scan `corpus` once against a bounded query batch: `state` (the
    * per-query scoring state, bounded by the batch) broadcasts with the
    * query ids, `score` offers each corpus row's candidates to its
    * partition's [[Heaps]], and [[rerank]] merges the partitions.
    * Output: (query_id, `idName`, `scoreName`, rank).
    */
  def search[R, S](corpus: Dataset[R], queryIds: Array[Long], state: S, k: Int,
                   descending: Boolean, idName: String, scoreName: String)
                  (score: (S, R, Heaps) => Unit): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val batch = spark.sparkContext.broadcast((queryIds, state))
    val candidates = corpus.mapPartitions { rows =>
      val (ids, st) = batch.value
      val heaps = new Heaps(ids, k, descending)
      rows.foreach(score(st, _, heaps))
      heaps.rows
    }.toDF("query_id", idName, scoreName)
    rerank(candidates, "query_id", idName, scoreName, k, descending)
  }

  /** Each query's k best rows of `candidates` in the kernel's order, with
    * their `rank` (1..k). A NaN or null score never ranks: Spark orders
    * NaN above every number, so it sorts as null (last) and is dropped.
    * Dropping it before the window instead would be pushed into the join
    * that computes the score, scoring every pair twice.
    */
  def rerank(candidates: DataFrame, queryCol: String, idCol: String, scoreCol: String,
             k: Int, descending: Boolean): DataFrame = {
    val s = col(scoreCol)
    val key = when(!isnan(s), s)
    val w = Window.partitionBy(col(queryCol))
      .orderBy(if (descending) key.desc_nulls_last else key.asc_nulls_last, col(idCol).asc)
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k && key.isNotNull)
  }
}
