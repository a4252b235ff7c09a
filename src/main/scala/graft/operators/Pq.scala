package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze & Schmid, "Product quantization
  * for nearest neighbor search", TPAMI 2011) — the compressed-corpus
  * rung of the ANN family, below [[Similarity.ivfTopK]]'s cell pruning:
  * split each D-dim vector into `m` subvectors, learn `ksub` centroids
  * PER SUBSPACE, and store each vector as `m` small codes. At m = 8 /
  * ksub = 16 a 64-dim float vector (256 B) becomes 8 bytes — 32× —
  * and asymmetric-distance (ADC) scoring reads ONLY codes: per query,
  * one m×ksub table of subspace distances is precomputed, and each
  * corpus vector costs m table lookups, never a decompression. At
  * 100 TB this is the difference between scanning embeddings and
  * scanning codes; compose with IVF cells for the full IVFPQ shape.
  *
  * Codebooks are bounded (m·ksub·dsub floats — KBs) and trained on a
  * bounded deterministic sample, so driver materialization here is the
  * same documented pattern as [[Similarity.kmeansFit]]'s centroid
  * table: bounded-small broadcast state, never corpus-sized.
  *
  * All distance arithmetic is double-precision L2 (the PQ-native
  * metric), in ascending-dimension order, so results are reproducible
  * across engines — q121's encode oracle restates the same argmin in
  * SQL.
  */
object Pq {

  /** Per-subspace codebooks: `cents(s)(j)` is centroid `j` of subspace
    * `s`, each of length `dsub`. Total size m·ksub·dsub floats — KBs.
    */
  final case class Codebooks(m: Int, dsub: Int, ksub: Int,
                             cents: Array[Array[Array[Float]]]) {
    require(cents.length == m && cents.forall(_.length == ksub) &&
      cents.forall(_.forall(_.length == dsub)), "codebook shape mismatch")
  }

  private def sqDistD(v: Array[Float], off: Int, c: Array[Float]): Double = {
    var d = 0.0
    var t = 0
    while (t < c.length) {
      val diff = v(off + t).toDouble - c(t).toDouble
      d += diff * diff
      t += 1
    }
    d
  }

  /** Train codebooks with per-subspace Lloyd iterations on a bounded
    * deterministic sample (the `sampleN` lowest-id vectors — FAISS
    * trains on a sample too; determinism buys reproducible indexes).
    * Init: the sample's first `ksub` subvectors per subspace. Empty
    * cells keep their previous centroid.
    */
  def fit(df: DataFrame, idCol: String, vecCol: String, m: Int,
          ksub: Int, iters: Int = 10, sampleN: Int = 2048): Codebooks = {
    val spark = df.sparkSession
    import spark.implicits._
    val sample = df.orderBy(col(idCol)).limit(sampleN)
      .select(col(vecCol)).as[Array[Float]].collect()
    require(sample.nonEmpty, "empty training sample")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    require(sample.length >= ksub, s"need >= $ksub training vectors, got ${sample.length}")
    val dsub = dim / m
    val cents = Array.tabulate(m, ksub) { (s, j) =>
      java.util.Arrays.copyOfRange(sample(j), s * dsub, (s + 1) * dsub)
    }
    var it = 0
    while (it < iters) {
      var s = 0
      while (s < m) {
        val sums = Array.fill(ksub, dsub)(0.0)
        val counts = new Array[Long](ksub)
        sample.foreach { v =>
          var best = 0
          var bestD = Double.MaxValue
          var j = 0
          while (j < ksub) {
            val d = sqDistD(v, s * dsub, cents(s)(j))
            if (d < bestD) { bestD = d; best = j }
            j += 1
          }
          counts(best) += 1
          var t = 0
          while (t < dsub) { sums(best)(t) += v(s * dsub + t); t += 1 }
        }
        var j = 0
        while (j < ksub) {
          if (counts(j) > 0) {
            var t = 0
            while (t < dsub) {
              cents(s)(j)(t) = (sums(j)(t) / counts(j)).toFloat
              t += 1
            }
          }
          j += 1
        }
        s += 1
      }
      it += 1
    }
    Codebooks(m, dsub, ksub, cents)
  }

  /** Encode a vector: per subspace, the index of the nearest centroid
    * (double L2, lowest index wins ties).
    */
  private[operators] def encodeVec(v: Array[Float], cb: Codebooks): Array[Int] =
    Array.tabulate(cb.m) { s =>
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < cb.ksub) {
        val d = sqDistD(v, s * cb.dsub, cb.cents(s)(j))
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      best
    }

  /** One encoded corpus row. */
  final case class PqCode(id: Long, code: Array[Int])

  /** Encode the corpus: `(id, code array<int>)`, map-side only — the
    * codebooks broadcast with the closure, vectors never shuffle.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String, cb: Codebooks): Dataset[PqCode] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        require(v.length == cb.m * cb.dsub,
          s"vector dim ${v.length} != ${cb.m}x${cb.dsub} (id=$id)")
        PqCode(id, encodeVec(v, cb))
      })
  }

  /** A query's ADC table: `table(s*ksub + j)` = ||q_s − cents(s)(j)||². */
  private def adcTable(v: Array[Float], cb: Codebooks): Array[Double] = {
    val t = new Array[Double](cb.m * cb.ksub)
    var s = 0
    while (s < cb.m) {
      var j = 0
      while (j < cb.ksub) {
        t(s * cb.ksub + j) = sqDistD(v, s * cb.dsub, cb.cents(s)(j))
        j += 1
      }
      s += 1
    }
    t
  }

  /** ADC distance of one code: `m` table lookups, no decompression. */
  private def adcDist(table: Array[Double], code: Array[Int], m: Int, ksub: Int): Double = {
    var d = 0.0
    var s = 0
    while (s < m) { d += table(s * ksub + code(s)); s += 1 }
    d
  }

  /** Asymmetric-distance top-k: queries (bounded, collected+broadcast
    * like [[Similarity.bruteForceTopK]]'s query side) each precompute
    * an m×ksub subspace-distance table against the codebooks; scoring a
    * corpus row is then m table lookups on its CODE — the compressed
    * corpus is scanned in place, per-partition heaps keep k per query,
    * and only nPartitions·k candidate rows leave the executors.
    * Ties: adcDist asc, neighborId asc.
    */
  def adcTopK(queries: DataFrame, codes: Dataset[PqCode], idCol: String,
              vecCol: String, cb: Codebooks, k: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qs = queries.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect()
    qs.foreach { case (id, v) => require(v.length == cb.m * cb.dsub,
      s"query dim ${v.length} != ${cb.m}x${cb.dsub} (id=$id)") }
    val tables = qs.map { case (_, v) => adcTable(v, cb) }
    val (m, ksub) = (cb.m, cb.ksub)
    TopK.search(codes, qs.map(_._1), tables, k, descending = false, "neighbor_id", "adc_dist") {
      (ts, row, heaps) =>
        var q = 0
        while (q < ts.length) { heaps.offer(q, adcDist(ts(q), row.code, m, ksub), row.id); q += 1 }
    }
  }

  /** The production PQ shape (FAISS's search pipeline): ADC over codes
    * generates a `shortlist`-sized candidate set per query, then ONLY
    * those candidates' raw vectors are fetched and re-ranked by exact
    * double L2. Recall is then limited only by shortlist membership —
    * the compressed scan does the corpus-sized work, the exact math
    * touches `shortlist` rows per query (shortlist = corpus ⇒ exact
    * search). The candidate join broadcasts the bounded shortlist
    * against the corpus; raw vectors still never shuffle.
    */
  def adcTopKRefined(queries: DataFrame, corpus: DataFrame, codes: Dataset[PqCode],
                     idCol: String, vecCol: String, cb: Codebooks, k: Int,
                     shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    val short = adcTopK(queries, codes, idCol, vecCol, cb, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    refineExact(short, queries, corpus, idCol, vecCol, k)
  }

  /** Exact double-L2 re-rank of a bounded candidate list: only the
    * shortlisted corpus rows' raw vectors are fetched (broadcast join),
    * ties break (dist asc, id asc). Shared by [[adcTopKRefined]] and
    * [[ivfPqTopK]].
    */
  private def refineExact(short: DataFrame, queries: DataFrame, corpus: DataFrame,
                          idCol: String, vecCol: String, k: Int): DataFrame = {
    val corpusVec = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("__nv"))
    val qv = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("__qv"))
    val scored = short.hint("broadcast").join(corpusVec, Seq("neighbor_id"))
      .join(qv.hint("broadcast"), Seq("query_id"))
      .withColumn("exact_dist", aggregate(
        zip_with(col("__qv"), col("__nv"), (a, b) => {
          val d = a.cast("double") - b.cast("double")
          d * d
        }),
        lit(0.0), (acc, x) => acc + x))
    TopK.rerank(scored, "query_id", "neighbor_id", "exact_dist", k, descending = false)
      .select(col("query_id"), col("neighbor_id"), col("exact_dist"), col("rank"))
  }

  /** The full FAISS IVFPQ search shape — the 100 TB ANN architecture
    * this file's pieces compose into: the corpus partitions into coarse
    * centroid cells ONCE ([[Similarity.ivfAssign]]'s rule), each vector
    * is PQ-encoded as the RESIDUAL v − c(cell) (residuals cluster far
    * tighter than raw vectors, so the same ksub buys more accuracy — the
    * reason FAISS encodes residuals), and a query touches only its
    * `nProbe` nearest cells' CODES, by cosine as [[Similarity.ivfTopK]]
    * probes: per probed cell one m×ksub ADC table on the query's own
    * residual, m lookups per member code, per-partition bounded heaps,
    * then exact re-rank of the `shortlist` survivors.
    *
    * Cost per query: nProbe·(m·ksub·dsub) table arithmetic +
    * |corpus|·nProbe/|cells| code lookups + `shortlist` exact
    * distances — the corpus is scanned compressed AND partially, never
    * raw or fully. Recall is bounded by cell probing (raise nProbe)
    * then shortlist membership (raise shortlist); nProbe = |cells| and
    * shortlist = |corpus| recovers exact search.
    *
    * Queries, centroids and codebooks are bounded broadcast state (the
    * documented contract of every ANN entry point here); the corpus
    * moves once for assignment+encode and once more keyed by nothing —
    * the probe scan is map-side against the broadcast tables.
    * Ties: adcDist asc, id asc (the file-wide convention).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, centroids: DataFrame, centroidId: String,
                centroidVec: String, m: Int, ksub: Int, iters: Int,
                k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    require(k >= 1 && nProbe >= 1 && shortlist >= k,
      s"need k >= 1, nProbe >= 1, shortlist >= k; got k=$k nProbe=$nProbe shortlist=$shortlist")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = Similarity.centroidTable(centroids, centroidId, centroidVec)
    require(cents.ids.nonEmpty, "empty centroid table")
    val bCents = spark.sparkContext.broadcast(cents)
    // corpus → nearest cell → residual, in one map-side pass (vectors
    // never shuffle); a row with no eligible cell is dropped
    val resDf = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bCents.value
        it.flatMap { case (id, v) =>
          cs.nearest(v).map { case (i, _) =>
            val c = cs.vecs(i)
            (id, Array.tabulate(v.length)(t => v(t) - c(t)), cs.ids(i))
          }
        }
      }.toDF("__id", "__res", "__cell")
    val cb = fit(resDf, "__id", "__res", m, ksub, iters)
    val codes = resDf.as[(Long, Array[Float], Long)]
      .mapPartitions(_.map { case (id, r, cell) => (id, encodeVec(r, cb), cell) })
      .toDF("id", "code", "cell").as[(Long, Array[Int], Long)]
    // per probed cell: (query index, ADC table over the QUERY residual)
    val qs = queries.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect()
    val probes: Map[Long, Array[(Int, Array[Double])]] = qs.zipWithIndex.flatMap { case ((_, qv), q) =>
      cents.probe(qv).take(nProbe).map { i =>
        val cv = cents.vecs(i)
        (cents.ids(i), (q, adcTable(Array.tabulate(qv.length)(t => qv(t) - cv(t)), cb)))
      }
    }.groupBy(_._1).map { case (cid, arr) => cid -> arr.map(_._2) }
    val (mSub, ksubN) = (cb.m, cb.ksub)
    val short = TopK.search(codes, qs.map(_._1), probes, shortlist, descending = false,
        "neighbor_id", "adc_dist") {
      case (byCell, (id, code, cell), heaps) =>
        byCell.get(cell).foreach(_.foreach { case (q, t) =>
          heaps.offer(q, adcDist(t, code, mSub, ksubN), id)
        })
    }.select(col("query_id"), col("neighbor_id"))
    refineExact(short, queries, corpus, idCol, vecCol, k)
  }
}
