package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private def vecs = {
    import spark.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),   // close to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
      (3L, Array(-1.0f, 0.0f, 0.0f)),  // opposite of 0
      (4L, Array(0.7f, 0.7f, 0.0f))    // 45° to 0 and 2
    ).toDF("vec_id", "embedding")
  }

  test("cosine: exact values for known geometry") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
                 (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
                 (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), -1.0),
                 (Array(3.0f, 4.0f), Array(4.0f, 3.0f), 24.0 / 25.0))
      .toDF("a", "b", "want")
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("c"), col("want")).collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("bruteForceTopK: correct neighbours, self excluded, ordered ties by id") {
    val got = Similarity.bruteForceTopK(
        vecs.filter(col("vec_id") === 0L), vecs, "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.map(_._1).forall(_ == 0L))
    assert(got.map(_._2) == Seq(1L, 4L)) // by cosine: 1 (~.994) then 4 (~.707)
  }

  test("cosinePairsAbove finds exactly the high-similarity pairs") {
    val got = Similarity.cosinePairsAbove(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L)))
  }

  private def embeddings = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  /** The exact top-k by an independent route: the queries cross-joined
    * with the corpus, self pairs excluded, each pair scored by the
    * [[Similarity.cosine]] UDF and ranked on the driver by cosine
    * descending, then neighbour id ascending. A NaN or null cosine never
    * ranks.
    */
  private def referenceTopK(queries: DataFrame, corpus: DataFrame,
                            k: Int): Map[(Long, Long), Double] =
    queries.select(col("vec_id").as("q"), col("embedding").as("qv"))
      .crossJoin(corpus.select(col("vec_id").as("n"), col("embedding").as("nv")))
      .filter(col("q") =!= col("n"))
      .select(col("q"), col("n"), Similarity.cosine(col("qv"), col("nv")))
      .collect().toSeq
      .collect { case r if !r.isNullAt(2) && !r.getDouble(2).isNaN =>
        (r.getLong(0), r.getLong(1), r.getDouble(2)) }
      .groupBy(_._1).values
      .flatMap(_.sortBy { case (_, n, sim) => (-sim, n) }.take(k))
      .map { case (q, n, sim) => (q, n) -> sim }.toMap

  /** Top-k rows keyed by (query, neighbour); no similarity may be NaN. */
  private def pairs(df: DataFrame): Map[(Long, Long), Double] = {
    val rows = df.collect()
    assert(rows.forall(r => !r.isNullAt(2) && !r.getDouble(2).isNaN), "NaN similarity in the output")
    rows.map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
  }

  /** Same (query, neighbour) ids, similarities within 1e-12. */
  private def assertMatches(got: Map[(Long, Long), Double], want: Map[(Long, Long), Double],
                            what: String): Unit = {
    assert(got.keySet == want.keySet, what)
    got.foreach { case (pair, sim) => assert(math.abs(sim - want(pair)) < 1e-12, s"$what: pair $pair") }
  }

  test("bruteForceTopK == the cosine-UDF cross-join reference") {
    val emb = embeddings
    val queries = emb.filter(col("vec_id") < 10)
    val want = referenceTopK(queries, emb, 5)
    assert(want.size == 50)
    // several partitions make the heap merge real
    for (corpus <- Seq(emb.coalesce(1), emb.repartition(7)))
      assertMatches(pairs(Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", 5)),
        want, s"${corpus.rdd.getNumPartitions} partitions")
  }

  test("zero-norm vectors: never a neighbour, no neighbours, every exact path agrees") {
    import spark.implicits._
    // a zero vector's cosine is 0/0 = NaN, and Spark orders NaN above
    // every number: unguarded, it ranks FIRST for every query
    val emb = embeddings
    val zero = Seq((-1L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
    val corpus = emb.unionByName(zero).repartition(3)
    val queries = corpus.filter(col("vec_id") < 5) // 5 real queries + the zero one
    val want = referenceTopK(queries, corpus, 5)
    assert(want.size == 25 && want.keySet.forall { case (q, n) => q >= 0 && n >= 0 },
      s"the zero vector must neither rank nor get neighbours: ${want.keySet}")
    val codebook = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    assertMatches(pairs(Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", 5)),
      want, "bruteForceTopK")
    assertMatches(pairs(Similarity.ivfTopK(queries, corpus, "vec_id", "embedding",
      codebook, "cid", "cvec", k = 5, nProbe = 8)), want, "ivfTopK, all 8 cells probed")
    val lsh = pairs(Similarity.lshTopK(queries, corpus, "vec_id", "embedding",
      k = 5, dim = 64, nTables = 64, nPlanes = 4))
    assert(lsh.nonEmpty && lsh.keySet.forall { case (q, n) => q >= 0 && n >= 0 })
  }

  test("null ids, null vectors and another dimension's vectors never rank and never query") {
    import spark.implicits._
    val emb = embeddings
    val queries = emb.filter(col("vec_id") < 10)
    val v0 = emb.filter(col("vec_id") === 0L).select("embedding").as[Array[Float]].head()
    // the null-id row copies query 0's vector: were it scored, it would
    // be every query's best neighbour
    val extra = Seq[(Option[Long], Option[Array[Float]])](
      (Some(-1L), None), (None, Some(v0)), (Some(-2L), Some(v0.take(32))))
      .toDF("vec_id", "embedding")
    val corpus = emb.unionByName(extra).repartition(3)
    val withNullQuery = queries.unionByName(
      Seq[(Option[Long], Option[Array[Float]])]((Some(-3L), None)).toDF("vec_id", "embedding"))
    def same(search: (DataFrame, DataFrame) => DataFrame, what: String): Unit =
      assert(rowsOf(search(withNullQuery, corpus)) == rowsOf(search(queries, emb)), what)
    same(Similarity.bruteForceTopK(_, _, "vec_id", "embedding", 5), "bruteForceTopK")
    same(Similarity.lshTopK(_, _, "vec_id", "embedding", k = 5, dim = 64,
      nTables = 16, nPlanes = 4), "lshTopK")
  }

  test("TopK.rerank: a null or NaN score never ranks") {
    import spark.implicits._
    val candidates = Seq[(Long, Long, Option[Double])](
      (1L, 1L, None), (1L, 2L, Some(Double.NaN)), (1L, 3L, Some(0.5)), (2L, 4L, None))
      .toDF("query_id", "neighbour_id", "cosine_sim")
    for (descending <- Seq(true, false))
      assert(rowsOf(TopK.rerank(candidates, "query_id", "neighbour_id", "cosine_sim",
        k = 3, descending).select("neighbour_id")) == Seq(Seq(3L)), s"descending=$descending")
  }

  test("lshTopK recall vs brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(queries, emb, "vec_id", "embedding",
        k = 5, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall@5 too low at default params: $recall")
  }

  test("lshTopK with nPlanes = 0 puts every vector in one bucket: == bruteForceTopK") {
    val emb = embeddings
    val queries = emb.filter(col("vec_id") < 10)
    for (corpus <- Seq(emb.coalesce(1), emb.repartition(7)))
      assert(rowsOf(Similarity.lshTopK(queries, corpus, "vec_id", "embedding",
          k = 5, dim = 64, nTables = 3, nPlanes = 0)) ==
        rowsOf(Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", 5)),
        s"${corpus.rdd.getNumPartitions} partitions")
  }

  test("ivfAssign puts every vector in its nearest centroid cell") {
    import spark.implicits._
    val centroids = Seq((10L, Array(1.0f, 0.0f, 0.0f)), (20L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("cid", "cvec")
    val got = Similarity.ivfAssign(vecs, "vec_id", "embedding", centroids, "cid", "cvec")
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(0L) == 10L && got(1L) == 10L && got(2L) == 20L)
    assert(got(4L) == 10L) // tie at 45° breaks to lower centroid id
  }

  test("ivfTopK: full probe == exact top-k; single probe is exact on separated blobs") {
    import spark.implicits._
    // full probe on real embeddings reproduces the brute-force result
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val codebook = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
        codebook, "cid", "cvec", k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, "full-probe IVF must equal brute force")

    // on cleanly separated blobs, probing ONE cell already gives the
    // exact answer — the approximation works where clusters are real
    val rnd = new scala.util.Random(3)
    val axes = Seq(Array(10f, 0f, 0f), Array(0f, 10f, 0f), Array(0f, 0f, 10f))
    val blobs = (0 until 60).map { i =>
      val ax = axes(i % 3)
      (i.toLong, ax.map(v => v + (rnd.nextFloat() - 0.5f) * 0.1f))
    }
    val bdf = blobs.toDF("vec_id", "embedding")
    val cents = axes.zipWithIndex.map { case (a, i) => (i.toLong, a) }.toDF("cid", "cvec")
    val bq = bdf.filter(col("vec_id") < 6)
    val bExact = Similarity.bruteForceTopK(bq, bdf, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneProbe = Similarity.ivfTopK(bq, bdf, "vec_id", "embedding",
        cents, "cid", "cvec", k = 3, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oneProbe == bExact, "single-probe IVF must be exact on separated blobs")
  }

  test("cosinePairsAboveBlocked == cosinePairsAbove on real embeddings (exact recall)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for (threshold <- Seq(0.35, 0.9)) {
      val full = Similarity.cosinePairsAbove(emb, "vec_id", "embedding", threshold)
        .select("id_a", "id_b")
      val blocked = Similarity.cosinePairsAboveBlocked(emb, "vec_id", "embedding",
          threshold, numCentroids = 8)
        .select("id_a", "id_b")
      assert(rowsOf(blocked) == rowsOf(full), s"threshold $threshold")
      graft.Caches.unpersistAll()
    }
  }

  test("cosinePairsAboveBlocked: the blocking measurably prunes a clustered corpus") {
    import spark.implicits._
    // the realistic near-dup shape: directional clusters (dup families
    // point the same way) + unique background. 8 tight clusters of 25
    // around orthogonal-ish axes in 16 dims, deterministic jitter. The
    // k-means-refined cells must eliminate most cross-cluster cell pairs
    // (measured, not asserted-by-hope) with recall still 1.0.
    val rnd = new scala.util.Random(11)
    val rows = for (c <- 0 until 8; m <- 0 until 25) yield {
      val v = Array.tabulate(16)(d =>
        (if (d == c * 2) 1.0f else 0.0f) + (rnd.nextFloat() - 0.5f) * 0.12f)
      ((c * 25 + m).toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val (blocked, stats) = Similarity.cosinePairsAboveBlockedWithStats(
      df, "vec_id", "embedding", 0.8)
    val full = Similarity.cosinePairsAbove(df, "vec_id", "embedding", 0.8)
      .select("id_a", "id_b")
    assert(rowsOf(full).nonEmpty)
    assert(rowsOf(blocked.select("id_a", "id_b")) == rowsOf(full))
    // nCells counts OCCUPIED cells (k-means may strand some of the
    // auto-selected 16 empty on 8 true clusters)
    assert(stats.nCells >= 8, s"auto cell count too low: $stats")
    assert(stats.prunedFraction > 0.5,
      s"clustered corpus must prune most cell pairs: $stats")
    graft.Caches.unpersistAll()
  }

  test("cosinePairsAboveBlocked: bench corpus (uniform directions) keeps recall; stats are honest") {
    // the q26 corpus has NO directional structure (measured: same-label
    // and diff-label cosine distributions are identical, p50 ~ 0; member
    // to centroid angles ~ 90 deg), so at threshold 0.35 (theta 69.5
    // deg) NO cell-level bound can exclude any pair with exact recall —
    // the documented all-pairs floor. The stats must say so truthfully
    // (kept == total) rather than claim savings that didn't happen.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (blocked, stats) = Similarity.cosinePairsAboveBlockedWithStats(
      emb, "vec_id", "embedding", 0.35)
    val full = Similarity.cosinePairsAbove(emb, "vec_id", "embedding", 0.35)
      .select("id_a", "id_b")
    assert(rowsOf(blocked.select("id_a", "id_b")) == rowsOf(full))
    assert(stats.nCells >= 16 && stats.cellPairsKept <= stats.cellPairsTotal)
    graft.Caches.unpersistAll()
  }

  test("cosinePairsAboveBlocked is exact on tightly clustered data") {
    import spark.implicits._
    // two tight antipodal-ish clusters: cross-cluster cell pairs prune,
    // result must still equal brute force exactly
    val rows = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.02f * i, 0.0f)
                 else Array(-1.0f, 0.0f, 0.02f * i)
      (i, base)
    }
    val df = rows.toDF("vec_id", "embedding")
    val full = Similarity.cosinePairsAbove(df, "vec_id", "embedding", 0.8)
    val blocked = Similarity.cosinePairsAboveBlocked(df, "vec_id", "embedding", 0.8,
      numCentroids = 4)
    assert(rowsOf(blocked.select("id_a", "id_b")) == rowsOf(full.select("id_a", "id_b")))
    assert(full.count() > 0)
    graft.Caches.unpersistAll()
  }

  test("cosinePairsAboveBlocked: zero-norm vectors never poison cell radii") {
    import spark.implicits._
    // centroids are the two lowest ids: 0=(1,0,0), 1=(0,1,0). Vectors 2
    // and 3 land in DIFFERENT cells and form a qualifying cross-cell
    // pair (cos=0.96). Vector 4 is zero-norm: its cosine is NaN against
    // everything — if it reaches assignment it lands in cell 0 with a
    // NaN angle, cell 0's radius goes NaN, the (c0,c1) pruning test goes
    // false, and the VALID (2,3) pair silently disappears. The exact
    // path drops zero-norm rows via NaN >= threshold, so equivalence
    // requires dropping them at assignment too.
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.8f, 0.6f, 0.0f)),
      (3L, Array(0.6f, 0.8f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val full = Similarity.cosinePairsAbove(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b")
    val blocked = Similarity.cosinePairsAboveBlocked(df, "vec_id", "embedding", 0.9,
        numCentroids = 2)
      .select("id_a", "id_b")
    assert(rowsOf(full).nonEmpty, "the cross-cell (2,3) pair must exist")
    assert(rowsOf(blocked) == rowsOf(full))
    graft.Caches.unpersistAll()
  }

  test("ivfAssign is map-side: no Exchange, no Window in the plan") {
    import spark.implicits._
    val centroids = Seq((10L, Array(1.0f, 0.0f, 0.0f)), (20L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("cid", "cvec")
    val assigned = Similarity.ivfAssign(vecs, "vec_id", "embedding", centroids, "cid", "cvec")
    assigned.collect() // materialize so AQE settles the final plan
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
    assert(!plan.contains("Window"), s"assignment must not window:\n$plan")
  }

  test("ivfAssign: a zero-norm lowest-id centroid takes no rows") {
    import spark.implicits._
    // centroid 0's cosine is NaN against every row; as the first centroid
    // tried it used to become the best, and no `sim > NaN` ever displaced it
    val centroids = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))).toDF("cid", "cvec")
    val rows = Seq((10L, Array(1.0f, 0.1f, 0.0f)), (11L, Array(0.1f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.ivfAssign(rows, "vec_id", "embedding", centroids, "cid", "cvec")
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 1L, 11L -> 2L), s"got $got")
  }

  test("kmeansFit separates well-separated blobs and is partitioning-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    def jitter(base: Array[Float]) =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)
    val protos = Seq(Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f), Array(0.0f, 0.0f, 1.0f))
    // ids 0,1,2 are one clean member of each blob (the deterministic seeds);
    // the rest are jittered members round-robin across blobs
    val rows = protos.zipWithIndex.map { case (p, i) => (i.toLong, p) } ++
      (3L to 62L).map(i => (i, jitter(protos((i % 3).toInt))))
    val df = rows.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(df, "vec_id", "embedding", k = 3, iters = 4)
    assert(cents.count() == 3)
    val assigned = Similarity.ivfAssign(df, "vec_id", "embedding", cents, "cid", "cvec")
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every member of a blob must share its proto's cell; blobs must differ
    val cellOf = (0 to 2).map(i => i -> assigned(i.toLong)).toMap
    assert(cellOf.values.toSet.size == 3, s"blobs must map to distinct cells: $cellOf")
    assigned.foreach { case (id, cell) =>
      assert(cell == cellOf((id % 3).toInt), s"vec $id in wrong cell")
    }
    // determinism under a different physical layout
    val cents2 = Similarity.kmeansFit(
      df.repartition(7).sortWithinPartitions(desc("vec_id")),
      "vec_id", "embedding", k = 3, iters = 4)
    val a = cents.select("cid", "cvec").as[(Long, Array[Float])].collect()
      .toMap.view.mapValues(_.toSeq).toMap
    val b = cents2.select("cid", "cvec").as[(Long, Array[Float])].collect()
      .toMap.view.mapValues(_.toSeq).toMap
    // element-wise near-equality: double-sum association may differ by ulps
    assert(a.keySet == b.keySet)
    a.foreach { case (cid, v) =>
      v.zip(b(cid)).foreach { case (x, y) => assert(math.abs(x - y) < 1e-5f) }
    }
  }

  test("semanticDedup: lowest id survives, within-cell dominance only") {
    import spark.implicits._
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("cid", "cvec")
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)),    // cell 0, canonical
      (11L, Array(0.999f, 0.01f)), // cell 0, ~1.0 cosine to 10 -> dropped
      (12L, Array(0.7f, 0.7f)),    // cell 0 (tie -> lowest cid); 0.707 to 10 -> survives
      (13L, Array(0.0f, 1.0f))     // cell 1, alone -> survives
    ).toDF("vec_id", "embedding")
    val got = Similarity
      .semanticDedup(corpus, "vec_id", "embedding", cents, "cid", "cvec", 0.92)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(10L -> 0L, 12L -> 0L, 13L -> 1L))
  }

  test("semanticDedup: dominance is single-hop — a dropped vector still suppresses") {
    import spark.implicits._
    val cents = Seq((0L, Array(1.0f, 0.0f))).toDF("cid", "cvec")
    def at(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    // chain at 0° / 15° / 30°: cos(15°)=0.966 >= 0.92, cos(30°)=0.866 < 0.92
    val corpus = Seq((20L, at(0)), (21L, at(15)), (22L, at(30)))
      .toDF("vec_id", "embedding")
    val got = Similarity
      .semanticDedup(corpus, "vec_id", "embedding", cents, "cid", "cvec", 0.92)
      .collect().map(_.getLong(0)).toSet
    // 21 dropped by 20; 22 dropped by 21 even though 21 itself is
    // dropped (per-pair NOT EXISTS semantics, not survivor-relative)
    assert(got == Set(20L))
  }

  test("semanticDedup: near-dups straddling a cell boundary both survive") {
    import spark.implicits._
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("cid", "cvec")
    def at(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    // 44° and 46°: cosine 0.9994 to each other but different nearest
    // centroids — the documented SemDeDup recall trade
    val corpus = Seq((30L, at(44)), (31L, at(46))).toDF("vec_id", "embedding")
    val got = Similarity
      .semanticDedup(corpus, "vec_id", "embedding", cents, "cid", "cvec", 0.92)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(30L -> 0L, 31L -> 1L))
  }

  test("semanticDedup: a zero-norm vector suppresses no cell-mate") {
    import spark.implicits._
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f))).toDF("cid", "cvec")
    // -1 lands in cell 0 (its cosine to every centroid is NaN, so the
    // lowest centroid id wins) with the lowest id; NaN >= threshold must
    // not drop its higher-id cell-mates
    val corpus = Seq(
      (-1L, Array(0.0f, 0.0f)),
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(0.999f, 0.01f)), // ~1.0 cosine to 10 -> dropped
      (12L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity
      .semanticDedup(corpus, "vec_id", "embedding", cents, "cid", "cvec", 0.92)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(-1L, 10L, 12L), s"got $got")
  }

  test("semanticDecontaminate: a zero-norm eval vector flags nothing and masks nothing") {
    import spark.implicits._
    val evalSet = Seq(
      (0L, Array(0f, 0f, 0f)), (1L, Array(1f, 0f, 0f))).toDF("id", "v")
    val train = Seq(
      (10L, Array(0.99f, 0.14f, 0f)), // ~cos 0.99 to eval 1 -> leaked
      (11L, Array(0f, 0f, 1f))        // orthogonal -> clean
    ).toDF("id", "v")
    val got = Similarity.semanticDecontaminate(train, evalSet, "id", "v", 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 1L), s"got $got")
  }

  test("semanticDecontaminate flags the paraphrase-close train row with its eval evidence") {
    import spark.implicits._
    val evalSet = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f))).toDF("id", "v")
    val train = Seq(
      (10L, Array(0.99f, 0.14f, 0f)),   // ~cos 0.99 to eval 1 → leaked
      (11L, Array(0f, 0f, 1f)),         // orthogonal → clean
      (12L, Array(0.1f, 0.99f, 0f))     // close to eval 2 → leaked
    ).toDF("id", "v")
    val got = Similarity.semanticDecontaminate(train, evalSet, "id", "v", 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 1L, 12L -> 2L), s"got $got")
  }

  test("ivfTopK and ivfPqTopK collect their centroid table once") {
    val emb = embeddings
    val queries = emb.filter(col("vec_id") < 5)
    val codebook = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val ivf = jobsOf(Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
      codebook, "cid", "cvec", k = 5, nProbe = 2)).size
    val ivfPq = jobsOf(Pq.ivfPqTopK(queries, emb, "vec_id", "embedding", codebook, "cid", "cvec",
      m = 8, ksub = 16, iters = 2, k = 5, nProbe = 2, shortlist = 32)).size
    // the centroid table is the one job ivfTopK runs while it builds;
    // ivfPqTopK adds the codebook's training sample and the query batch
    assert((ivf, ivfPq) == (1, 3))
  }
}
