package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Embedding similarity search over `Array[Float]` columns — brute-force
  * cosine top-k as the exact baseline, plus a random-hyperplane LSH path
  * for scale. No reference implementation (SURVEY.md §7.4); semantics from
  * the Spark API + Charikar '02 (SimHash/hyperplane LSH) + the IVF idea
  * from Jégou et al. '11.
  *
  * Vector math: relational routes score pairs with graft's native
  * codegen'd `cosine_similarity` Expression
  * ([[graft.expressions.CosineSimilarity]]); the map-side scans (the
  * at-scale top-k kernel, centroid assignment, hyperplane buckets) run
  * the same double-precision dot product as JIT'd Scala loops. The
  * [[cosine]] UDF and the higher-order-function [[cosineExpr]] (~100×
  * slower, interpreted per element) stay for callers that want them.
  *
  * Scale design: brute-force is O(|Q|·|C|) — correct tool when |Q| is a
  * bounded query batch broadcast against a huge corpus (the corpus is
  * scanned once, map-side only, no shuffle of the corpus). The LSH variant
  * prunes the corpus to same-bucket candidates first; recall is tunable
  * with (nPlanes, nTables). Every top-k here ranks by [[TopK]]'s rule:
  * cosine desc, ties to the lower neighbour id, and an undefined (NaN)
  * cosine — a zero-norm vector — never ranks.
  */
object Similarity {

  private def dotF(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  private def normF(a: Array[Float]): Double = math.sqrt(dotF(a, a))

  // mismatched dimensions → null, same contract as the native Expression
  // (a truncated dot product is a silently wrong answer; throwing would
  // kill a 100 TB job on one bad row)
  private val cosineUdf = udf { (a: Array[Float], b: Array[Float]) =>
    if (a.length != b.length) None
    else Some(dotF(a, b) / (normF(a) * normF(b)))
  }

  /** Cosine similarity of two float-array columns, computed in double
    * (JIT'd JVM kernel; left-to-right summation — matches a sequential
    * fold, so oracle-comparable to 1e-15).
    */
  def cosine(a: Column, b: Column): Column = cosineUdf(a, b)

  /** Fastest path: the native codegen'd [[graft.expressions.CosineSimilarity]]
    * Expression (no per-row boxing, inlined into whole-stage codegen);
    * the operators below all route through this.
    */
  private def cosineNative(a: Column, b: Column): Column =
    GraftFunctions.call("cosine_similarity", a, b)

  /** Pure-expression cosine (no UDF) — interpreted, so ~100× slower per
    * pair; useful where UDFs can't go.
    */
  def cosineExpr(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    dot / (na * nb)
  }

  /** `sim >= threshold`, with an undefined (NaN) cosine never similar:
    * Spark orders NaN above every number, so a bare `>=` would let every
    * pair touching a zero-norm vector through. NaN becomes null rather
    * than being tested apart, so the test names `sim` once. Catalyst
    * pushes the test into the scoring join's condition, and where the
    * output keeps the score (`cosinePairsAbove`, `cosinePairsAboveBlocked`)
    * the projection above the join computes the cosine again for each
    * pair that passed. Scoring once through a one-element explode, which
    * stops the pushdown, measured slower: q26 at sf0.1 on 4 cores took
    * 4.45 s against 3.30 s (medians of 6 alternating runs).
    */
  private def atLeast(sim: Column, threshold: Double): Column =
    nanvl(sim, lit(null).cast("double")) >= threshold

  /** The per-query window re-rank every relational top-k route ends in. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    TopK.rerank(scored, "query_id", "neighbour_id", "cosine_sim", k, descending = true)
      .select(col("query_id"), col("neighbour_id"), col("cosine_sim"))

  /** Exact top-k nearest neighbours by cosine for each query vector.
    * `queries` is broadcast (bounded batch); the corpus is scanned once.
    * Self-matches (same id) are excluded. Deterministic tie-break on
    * neighbour id. Output: (query_id, neighbour_id, cosine_sim).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbour_id"), col(vecCol).as("cv"))
    rankTopK(c.join(q, col("query_id") =!= col("neighbour_id"))
      .withColumn("cosine_sim", cosineNative(col("qv"), col("cv"))), k)
  }

  /** Exact top-k at corpus scale: per-partition bounded heaps instead of
    * scoring-then-windowing. [[bruteForceTopK]] shuffles |C|·|Q| scored
    * rows into a window — fine at test scale, fatal at 100 TB; this keeps
    * k candidates per (query, partition) in a heap (`mapPartitions` is
    * justified here: genuinely per-partition imperative state), so only
    * k·|Q|·numPartitions rows reach the final exact re-rank. Same output
    * contract and ordering semantics as [[bruteForceTopK]].
    */
  def bruteForceTopKAtScale(queries: DataFrame, corpus: DataFrame,
                            idCol: String, vecCol: String, k: Int): DataFrame =
    scanTopK(queries, corpus, idCol, vecCol, k, _ => Array.emptyIntArray)

  /** The one corpus scan behind both at-scale routes ([[TopK.search]]):
    * each corpus row is scored against every query with a different id,
    * the same dimension (the null-on-mismatch contract, lifted into a
    * ranking) and a shared `tag` value in some position — an LSH bucket
    * in some table; an empty tag admits every row. `tag` runs once per
    * vector.
    */
  private def scanTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                       vecCol: String, k: Int, tag: Array[Float] => Array[Int]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def rows(df: DataFrame) = df.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
    val qs = rows(queries).collect().map { case (qid, qv) => (qid, qv, normF(qv), tag(qv)) }
    TopK.search(rows(corpus), qs.map(_._1), qs, k, descending = true, "neighbour_id", "cosine_sim") {
      case (batch, (cid, cv), heaps) =>
        val cn = normF(cv)
        val ct = tag(cv)
        var i = 0
        while (i < batch.length) {
          val (qid, qv, qn, qt) = batch(i)
          if (qid != cid && qv.length == cv.length && sharesTag(qt, ct))
            heaps.offer(i, dotF(qv, cv) / (qn * cn), cid)
          i += 1
        }
    }.select(col("query_id"), col("neighbour_id"), col("cosine_sim"))
  }

  private def sharesTag(a: Array[Int], b: Array[Int]): Boolean = {
    var hit = a.isEmpty
    var t = 0
    while (!hit && t < a.length) { hit = a(t) == b(t); t += 1 }
    hit
  }

  /** All pairs with cosine ≥ threshold (embedding near-duplicate
    * detection). All-pairs within the frame — use only on a bounded set or
    * pre-blocked input; [[cosinePairsAboveBlocked]] is the scale route
    * (identical output, guaranteed).
    * Output: (id_a, id_b, cosine_sim), id_a < id_b.
    */
  def cosinePairsAbove(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("cosine_sim", cosineNative(col("a.v"), col("b.v")))
      // contract (mirrored by the blocked variant, which drops zero-norm
      // rows at assignment): degenerate vectors participate in NO pair
      .filter(atLeast(col("cosine_sim"), threshold))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine_sim"))
  }

  /** Cell-pair pruning statistics from one [[cosinePairsAboveBlocked]]
    * invocation: how many of the |C|·(|C|+1)/2 unordered cell pairs the
    * triangle-inequality bound eliminated before any row-level work.
    * `prunedFraction` ≈ the fraction of the all-pairs join volume the
    * blocking actually saved — the measured claim, not an asserted one.
    */
  final case class BlockingStats(nCells: Int, cellPairsTotal: Long,
                                 cellPairsKept: Long) {
    def prunedFraction: Double =
      if (cellPairsTotal == 0L) 0.0
      else 1.0 - cellPairsKept.toDouble / cellPairsTotal.toDouble
  }

  /** EXACT cosine-threshold pair mining with IVF blocking — same output
    * as [[cosinePairsAbove]] (recall 1.0, guaranteed), different plan
    * shape: a shuffle equi-join on pruned cell pairs instead of an
    * all-pairs nested loop.
    *
    * How the guarantee works: every vector is assigned to its nearest of
    * the centroids (map-side argmax, as [[ivfAssign]]); each cell keeps
    * its angular radius r = max angle(member, centroid). Angular
    * distance is a metric on the sphere, so for x in cell c1 and y in
    * cell c2, θ(x,y) ≥ θ(c1,c2) − r1 − r2 — a cell PAIR whose lower
    * bound exceeds acos(threshold) cannot contain a qualifying pair and
    * is pruned before any row-level work. Surviving cell pairs (a driver-
    * side |C|² loop over the bounded centroid set) drive a broadcast-
    * mapped fan-out + shuffle equi-join; exact cosine filters the rest.
    *
    * Pruning power is ENGINEERED, not hoped for: centroids come from a
    * [[kmeansFit]] refinement (3 fixed Lloyd passes, deterministic), so
    * cell radii track the corpus's actual direction clusters instead of
    * whatever the 16 lowest-id vectors happened to point at, and the
    * cell count scales with the corpus (`numCentroids = 0` auto-selects
    * ceil(sqrt(n)) clamped to [16, 4096] — cells of ~sqrt(n) rows keep
    * both the driver loop and the per-cell join volume bounded as the
    * corpus grows). The achieved pruned fraction is logged per
    * invocation and returned by the `WithStats` variant, so a caller —
    * or a spec — can check the blocking is buying what it claims.
    *
    * Pruning power still tracks how clustered the data is and how high
    * the threshold is; in the worst case (uniform directions, low
    * threshold) nothing prunes and the work degrades to distributed
    * all-pairs — the information-theoretic floor for an exact answer —
    * but it degrades as a keyed shuffle join across the cluster, never a
    * driver-melting broadcast nested loop. The floor is REAL for the
    * q26 bench corpus: its synthetic embeddings are directionally
    * uniform (measured: same-label and different-label cosine
    * distributions are identical, p50 ≈ 0, p99 ≈ 0.29; member→centroid
    * angles ≈ 90°), so at threshold 0.35 (θ = 69.5°) no cell pair is
    * provably disjoint and kept == total is the correct, honest stat —
    * while a corpus with real duplicate families (directional clusters,
    * the shape near-dup mining exists for) prunes most cell pairs
    * (spec-asserted > 0.5). Exact pair mining below ~0.5 cosine on
    * unstructured embeddings is quadratic BY CONTRACT; use the LSH /
    * IVF approximate routes when that bill is unpayable. Rows with no
    * dim-compatible centroid get a null cell and are dropped (the
    * cosine null-on-mismatch contract).
    */
  def cosinePairsAboveBlocked(df: DataFrame, idCol: String, vecCol: String,
                              threshold: Double,
                              numCentroids: Int = 0): DataFrame =
    cosinePairsAboveBlockedWithStats(df, idCol, vecCol, threshold, numCentroids)._1

  /** [[cosinePairsAboveBlocked]] plus its [[BlockingStats]] (the stats
    * are known at plan-build time — the centroid fit and radius harvest
    * run eagerly; only the pair join itself is lazy).
    */
  def cosinePairsAboveBlockedWithStats(df: DataFrame, idCol: String, vecCol: String,
                                       threshold: Double,
                                       numCentroids: Int = 0): (DataFrame, BlockingStats) = {
    val spark = df.sparkSession
    import spark.implicits._
    require(threshold > -1.0 && threshold <= 1.0, s"threshold must be in (-1,1], got $threshold")
    require(numCentroids >= 0, s"numCentroids must be >= 0 (0 = auto), got $numCentroids")
    val k =
      if (numCentroids > 0) numCentroids
      else math.max(16, math.min(4096,
        math.ceil(math.sqrt(df.count().toDouble)).toInt))
    // k-means-refined centroids (deterministic: seeded from the k
    // lowest ids, fixed iteration count) — correctness never depends on
    // them, only the pruned fraction does
    val cents: Array[(Long, Array[Float])] =
      kmeansFit(df.select(col(idCol).cast("long").as(idCol), col(vecCol)),
          idCol, vecCol, k, iters = 3)
        .as[(Long, Array[Float])]
        .collect().sortBy(_._1)
    val cNorms = cents.map(c => normF(c._2))
    // Degenerate-vector guard: a zero-norm embedding has undefined cosine
    // (NaN on the exact path, where `cosine_sim >= threshold` drops it),
    // so it is dropped at assignment here too — and, critically, it must
    // never poison a cell's radius: max(angle) over a NaN makes the
    // radius NaN, every pruning comparison involving that cell goes
    // false, and VALID pairs get silently pruned. Zero-norm centroids are
    // likewise skipped (their similarity is NaN against every vector).
    val assignUdf = udf { (v: Array[Float]) =>
      val nv = normF(v)
      if (nv == 0.0) None
      else {
        var bestId = 0L; var bestSim = Double.NegativeInfinity; var found = false
        var i = 0
        while (i < cents.length) {
          val cv = cents(i)._2
          if (cv.length == v.length && cNorms(i) > 0.0) {
            val sim = dotF(v, cv) / (nv * cNorms(i))
            if (!sim.isNaN && (!found || sim > bestSim)) {
              found = true; bestSim = sim; bestId = cents(i)._1
            }
          }
          i += 1
        }
        if (found) Some((bestId, math.acos(math.max(-1.0, math.min(1.0, bestSim)))))
        else None
      }
    }
    val assigned = graft.Caches.track(df
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("__a", assignUdf(col("v")))
      .filter(col("__a").isNotNull)
      .select(col("id"), col("v"),
        col("__a._1").as("cell"), col("__a._2").as("angle"))
      .persist())
    // per-cell angular radius: |C|-row aggregate. A non-finite radius
    // (belt-and-braces — assignment already filters NaN sources) is
    // coerced to π: "never prune this cell", which costs recall nothing.
    val radii: Map[Long, Double] = assigned.groupBy("cell").agg(max("angle").as("r"))
      .as[(Long, Double)].collect()
      .map { case (c, r) => c -> (if (java.lang.Double.isFinite(r)) r else math.Pi) }
      .toMap
    val thetaThr = math.acos(threshold)
    def angleBetween(a: Int, b: Int): Double = {
      val sim = dotF(cents(a)._2, cents(b)._2) / (cNorms(a) * cNorms(b))
      math.acos(math.max(-1.0, math.min(1.0, sim)))
    }
    // surviving (cell_a ≤ cell_b) pairs — driver-side loop over ≤ |C|²
    val occupied = cents.indices.filter(i => radii.contains(cents(i)._1))
    val cellPairs = for {
      i <- occupied
      j <- occupied if j >= i
      ra = radii(cents(i)._1); rb = radii(cents(j)._1)
      if i == j || angleBetween(i, j) - ra - rb <= thetaThr
    } yield (cents(i)._1, cents(j)._1)
    val nOcc = occupied.length.toLong
    val stats = BlockingStats(occupied.length,
      nOcc * (nOcc + 1) / 2, cellPairs.length.toLong)
    // the measured claim: how much of the all-pairs join the blocking
    // actually removed on THIS corpus (visible in executor-driver logs)
    org.slf4j.LoggerFactory.getLogger(Similarity.getClass).info(
      f"cosinePairsAboveBlocked: ${stats.nCells} cells, kept " +
        f"${stats.cellPairsKept}/${stats.cellPairsTotal} cell pairs " +
        f"(pruned ${stats.prunedFraction * 100}%.1f%%) at threshold $threshold")
    val pairsDf = broadcast(cellPairs.toDF("cell_a", "cell_b"))
    // fan each vector out to the surviving pairs where it plays the a-side
    // (broadcast-mapped, no shuffle), then ONE keyed shuffle join brings
    // the b-side cells in; a vector appears once per cell, so each
    // unordered vector pair surfaces exactly once
    val aSide = assigned.join(pairsDf, col("cell") === col("cell_a"))
      .select(col("id").as("id_l"), col("v").as("va"),
        col("cell_a"), col("cell_b"))
    val bSide = assigned
      .select(col("id").as("id_r"), col("v").as("vb"), col("cell").as("__bc"))
    val out = aSide.join(bSide, col("cell_b") === col("__bc"))
      .filter(col("cell_a") =!= col("cell_b") || col("id_l") < col("id_r"))
      .filter(col("id_l") =!= col("id_r"))
      .withColumn("cosine_sim", cosineNative(col("va"), col("vb")))
      .filter(atLeast(col("cosine_sim"), threshold))
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"), col("cosine_sim"))
    (out, stats)
  }

  /** Deterministic random hyperplanes: `nTables` tables × `nPlanes` planes
    * of `dim` gaussian components, seeded — same planes on every executor
    * because they ship as a literal column, not via RNG at execution time.
    */
  private def hyperplanes(nTables: Int, nPlanes: Int, dim: Int, seed: Long): Array[Array[Array[Double]]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nTables, nPlanes, dim)(rng.nextGaussian())
  }

  /** Sign-signature buckets for ALL tables in one pass per vector (bit p
    * of table t's bucket set iff dot(v, plane_tp) > 0) — one JIT'd loop
    * over nTables×nPlanes×dim multiply-adds; the planes ship once per
    * executor inside the closure.
    */
  private def bucketsOf(planes: Array[Array[Array[Double]]], v: Array[Float]): Array[Int] =
    planes.map { table =>
      var bucket = 0
      var p = 0
      while (p < table.length) {
        val plane = table(p)
        var s = 0.0; var i = 0
        while (i < plane.length) { s += v(i) * plane(i); i += 1 }
        if (s > 0) bucket |= 1 << p
        p += 1
      }
      bucket
    }

  /** Approximate top-k: random-hyperplane LSH candidate generation
    * (same bucket in ANY of `nTables` tables) + exact cosine re-rank.
    * Tune recall with nTables/nPlanes (more tables → higher recall,
    * more candidates; more planes → smaller buckets): for a neighbour at
    * angle θ, P[same bucket in one table] = (1 − θ/π)^nPlanes, so recall
    * ≈ 1 − (1 − p^nPlanes)^nTables. Defaults (16 tables × 6 planes) give
    * recall ≈ 0.7 for neighbours at cosine ≈ 0.45; scale nPlanes up with
    * corpus size to keep buckets small (2^nPlanes buckets per table) and
    * add tables to buy recall back.
    * Output contract matches [[bruteForceTopK]].
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, dim: Int, nTables: Int = 16, nPlanes: Int = 6,
              seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nTables, nPlanes, dim, seed)
    val bucketsUdf = udf((v: Array[Float]) => bucketsOf(planes, v))
    def withBuckets(df: DataFrame, id: String, v: String): DataFrame =
      df.select(col(id), col(v), posexplode(bucketsUdf(col(v))).as(Seq("table_id", "bucket")))
    val q = broadcast(withBuckets(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")), "query_id", "qv"))
    val c = withBuckets(
      corpus.select(col(idCol).as("neighbour_id"), col(vecCol).as("cv")), "neighbour_id", "cv")
    // join on (table_id, bucket), dedupe across tables, then exact re-rank
    val cand = c.as("c").join(q.as("q"),
        col("c.table_id") === col("q.table_id") &&
          col("c.bucket") === col("q.bucket") &&
          col("q.query_id") =!= col("c.neighbour_id"))
      .select(col("q.query_id").as("query_id"), col("c.neighbour_id").as("neighbour_id"),
        col("q.qv").as("qv"), col("c.cv").as("cv"))
      .dropDuplicates("query_id", "neighbour_id")
      .withColumn("cosine_sim", cosineNative(col("qv"), col("cv")))
    rankTopK(cand, k)
  }

  /** [[lshTopK]] at corpus scale: identical candidate semantics (same
    * bucket in ANY of `nTables` tables, same planes for the same seed —
    * so the OUTPUT is identical row-for-row), radically different plan.
    * [[lshTopK]] explodes the corpus nTables× with full vector payloads
    * through a shuffle join + dropDuplicates + window; at 100 TB that is
    * nTables copies of the corpus through the wire for a bounded query
    * batch. Here the query batch (bounded by contract, like
    * [[bruteForceTopKAtScale]]) broadcasts with PRECOMPUTED per-table
    * buckets; the corpus is scanned ONCE, each row's buckets are computed
    * in-loop (nTables·nPlanes·dim JIT'd multiply-adds), matched against
    * every query bitwise, and survivors go straight into per-(query,
    * partition) k-heaps — only k·|Q|·numPartitions rows ever leave the
    * scan, and nothing is ever row-amplified.
    */
  def lshTopKAtScale(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int, dim: Int, nTables: Int = 16,
                     nPlanes: Int = 6, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nTables, nPlanes, dim, seed)
    // a corpus row of another dimension is never a candidate (the scan's
    // dimension test rejects it before its tag is read)
    scanTopK(queries.filter(size(col(vecCol)) === dim), corpus, idCol, vecCol, k,
      v => if (v.length == dim) bucketsOf(planes, v) else null)
  }

  /** Spherical k-means fit (Lloyd's algorithm, cosine assignment): the
    * training loop that produces the centroid table [[ivfAssign]] and the
    * IVF/ANN searches consume. Deterministic throughout — seed centroids
    * are the `k` lowest-id vectors, ties in assignment break on lowest
    * centroid id, iteration count is fixed (no data-dependent stopping,
    * so reruns and the spec see identical output).
    *
    * Per iteration: one map-side assignment pass (zero shuffle — the
    * centroid array ships in the closure, [[ivfAssign]]) + one
    * explode/partial-agg reduction to k·d rows + one bounded k·d collect
    * to rebuild the centroid table. Cells that lose every member keep
    * their previous centroid (the standard empty-cell rule). O(iters)
    * passes over the corpus, nothing driver-sized but the centroids.
    * Returns (cid long, cvec array<float>).
    */
  def kmeansFit(df: DataFrame, idCol: String, vecCol: String, k: Int,
                iters: Int = 5): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    val spark = df.sparkSession
    import spark.implicits._
    var cents: Map[Long, Array[Float]] = df
      .orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect().toMap
    var it = 0
    while (it < iters) {
      val centDf = cents.toSeq.toDF("cid", "cvec")
      val means = ivfAssign(df, idCol, vecCol, centDf, "cid", "cvec")
        .filter(col("cell").isNotNull) // dim-mismatch rows can't vote
        .select(col("cell"), posexplode(col(vecCol)))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("col").cast("double")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("dims"))
        .select(col("cell"),
          transform(col("dims"), d => d.getField("m").cast("float")).as("cvec"))
        .as[(Long, Array[Float])].collect().toMap
      cents = cents.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
      it += 1
    }
    cents.toSeq.sortBy(_._1).toDF("cid", "cvec")
  }

  /** IVF (inverted-file) approximate top-k search — the cell-probed
    * scale path that completes the ANN family next to [[lshTopKAtScale]]:
    * the corpus partitions into centroid cells ONCE (map-side argmax,
    * [[ivfAssign]]); each query probes only its `nProbe`
    * nearest cells, so the scored candidate set is ~|corpus|·nProbe/k
    * cells instead of the whole corpus. One cell-keyed equi-join (the
    * corpus shuffles once on `cell`; at a persisted index the corpus
    * side is pre-bucketed by cell and never moves), exact cosine on the
    * survivors, per-query window top-k over the bounded candidates.
    *
    * Recall rises monotonically with `nProbe` (== |centroids| ⇒ exact);
    * each corpus row lives in exactly one cell, so no candidate dedup is
    * needed. Ties break like every top-k here: sim desc, neighbour id
    * asc. Centroids are caller-provided ([[kmeansFit]] or any codebook)
    * — a bounded table collected to the driver, like every centroid
    * consumer in this file.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              centroids: DataFrame, centroidId: String, centroidVec: String,
              k: Int, nProbe: Int): DataFrame = {
    require(k >= 1 && nProbe >= 1, s"need k >= 1, nProbe >= 1; got k=$k nProbe=$nProbe")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents: Array[(Long, Array[Float])] = centroids
      .select(col(centroidId).cast("long"), col(centroidVec))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val cNorms: Array[Double] = cents.map { case (_, cv) => normF(cv) }
    // top-nProbe nearest centroids per query, deterministic (sim desc,
    // cid asc — same convention as the assignment's tie-break)
    val probeCells = udf { (v: Array[Float]) =>
      // null query vector → no cells (skip the row) — throwing here
      // would kill a 100 TB job on one bad row, the contract the rest of
      // this file keeps (cosineUdf nulls, corpus side filters its cells)
      if (v == null) Array.empty[Long]
      else cents.indices
        .filter(i => cents(i)._2.length == v.length)
        .map(i => (dotF(v, cents(i)._2) / (normF(v) * cNorms(i)), cents(i)._1))
        .sortBy { case (sim, cid) => (-sim, cid) }
        .take(nProbe).map(_._2).toArray
    }
    val corpusCells = ivfAssign(corpus, idCol, vecCol, centroids, centroidId, centroidVec)
      .filter(col("cell").isNotNull)
      .select(col(idCol).as("neighbour_id"), col(vecCol).as("__cv"), col("cell"))
    val queryCells = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("cell", explode(probeCells(col("__qv"))))
    rankTopK(queryCells.join(corpusCells, "cell")
      .filter(col("query_id") =!= col("neighbour_id"))
      .withColumn("cosine_sim", cosineNative(col("__qv"), col("__cv"))), k)
  }

  /** IVF-style coarse quantization: assign every vector to its nearest of
    * `centroids` (a small table id → vec; ids cast to long), so downstream
    * searches probe only matching cells. The centroid table would come
    * from a sampled k-means at scale; any bounded centroid set works here.
    *
    * Per-row argmax over the collected centroid array — pure map-side,
    * ZERO shuffle and zero row amplification (the earlier join+window
    * formulation expanded the corpus |centroids|× and shuffled the
    * expansion into a window — a non-starter at 100 TB). The collect is
    * bounded by contract: a centroid set is k ≤ thousands of rows; the
    * array ships once per executor in the UDF closure. Ties break on the
    * lowest centroid id; dim-mismatched and zero-norm centroids are
    * skipped (a zero-norm centroid's cosine is NaN against every row, and
    * a NaN best would win every later `>` test), and a row no centroid
    * matches gets a null cell (the cosine null contract, lifted). A
    * zero-norm row has no defined cosine to any centroid, so it joins
    * the lowest-id eligible one, like any other tie.
    * Output: input + `cell` column (long).
    */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String, centroids: DataFrame,
                centroidId: String, centroidVec: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents: Array[(Long, Array[Float])] = centroids
      .select(col(centroidId).cast("long"), col(centroidVec))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val cNorms: Array[Double] = cents.map { case (_, cv) => normF(cv) }
    val assign = udf { (v: Array[Float]) =>
      val nv = normF(v)
      var bestId = 0L; var bestSim = Double.NaN; var found = false
      var i = 0
      while (i < cents.length) {
        val cv = cents(i)._2
        if (cv.length == v.length && cNorms(i) > 0.0) {
          val sim = dotF(v, cv) / (nv * cNorms(i))
          // strict > with cid-ascending iteration = lowest id wins ties;
          // a defined similarity always beats a NaN one
          if (!found || sim > bestSim || (bestSim.isNaN && !sim.isNaN)) {
            found = true; bestSim = sim; bestId = cents(i)._1
          }
        }
        i += 1
      }
      if (found) Some(bestId) else None
    }
    df.withColumn("cell", assign(col(vecCol)))
  }

  /** SemDeDup-style semantic deduplication (the Abbas et al. 2023 shape):
    * every vector is assigned to its nearest coarse centroid
    * ([[ivfAssign]]), then WITHIN each cell a vector is dropped iff some
    * LOWER-id cell-mate is cosine-similar at `threshold` or above — the
    * lowest id in each near-duplicate neighbourhood survives as the
    * canonical copy.
    *
    * Scale contract: the only pairwise work is the within-cell self-join
    * — candidate volume is Σ|cell|², bounded by centroid count and cell
    * balance, never corpus². Cross-cell near-duplicates are deliberately
    * NOT examined (the same recall trade SemDeDup makes: boundary pairs
    * are the price of pruning the quadratic — raise the centroid count,
    * don't widen the join). Dominance is single-hop, not transitive
    * closure: "survives" = "no lower-id cell-mate within threshold",
    * a per-pair-local, order-free decision that an oracle can restate
    * as one NOT EXISTS (q111). For transitive-closure semantics compose
    * the pair output with [[Components.dedupClusters]] instead.
    *
    * Returns the surviving input rows plus their `cell` assignment.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, centroidId: String, centroidVec: String,
                    threshold: Double): DataFrame = {
    val assigned = ivfAssign(df, idCol, vecCol, centroids, centroidId, centroidVec)
      .filter(col("cell").isNotNull)
      .persist()
    graft.Caches.track(assigned)
    val a = assigned.select(col("cell"), col(idCol).as("__ida"), col(vecCol).as("__va"))
    val b = assigned.select(col("cell"), col(idCol).as("__idb"), col(vecCol).as("__vb"))
    val dropIds = a.join(b, "cell")
      .filter(col("__idb") < col("__ida"))
      .withColumn("__sim", cosineNative(col("__va"), col("__vb")))
      .filter(atLeast(col("__sim"), threshold))
      .select(col("__ida").as(idCol))
      .distinct()
    assigned.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Semantic decontamination: training rows whose embedding is too
    * close (cosine ≥ threshold) to ANY held-out evaluation embedding —
    * the semantic complement to n-gram decontamination
    * ([[Dedup.ngramContamination]]), catching paraphrased benchmark
    * leakage that exact token overlap misses. Emits the flagged rows
    * with their nearest eval neighbour as evidence; the caller
    * anti-joins to scrub.
    *
    * Scale: the eval set is bounded (benchmarks are small) and
    * broadcasts; the corpus scans once through the codegen'd cosine —
    * |corpus|·|eval| map-side comparisons, per-train argmax via a
    * train-keyed window (distributed by train id, never global). For
    * eval sets too big to broadcast, route through the IVF machinery
    * ([[ivfTopK]]) instead.
    * Output: (idCol, eval_id, cosine) — one row per flagged train doc.
    */
  def semanticDecontaminate(train: DataFrame, evalSet: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    val ev = broadcast(evalSet.select(col(idCol).as("eval_id"),
      col(vecCol).as("__ev")))
    // the nearest eval row with a defined cosine is the evidence: a
    // zero-norm eval vector neither flags a row nor masks a real match
    val scored = train.select(col(idCol), col(vecCol).as("__tv"))
      .join(ev, col(idCol) =!= col("eval_id"))
      .withColumn("cosine", cosineNative(col("__tv"), col("__ev")))
    TopK.rerank(scored, idCol, "eval_id", "cosine", 1, descending = true)
      .filter(col("cosine") >= threshold)
      .select(col(idCol), col("eval_id"), col("cosine"))
  }
}
