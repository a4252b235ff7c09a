package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class ComponentsSpec extends SparkSpec {

  test("connectedComponents: chains, triangles, singletons, self-loops") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21},
    // {30} (self-loop only)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L), (30L, 30L)).toDF("id_a", "id_b")
    val got = Components.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L))
    graft.Caches.unpersistAll()
  }

  test("long path converges (distributed propagation crosses many hops)") {
    import spark.implicits._
    // a 60-node path: worst case for label propagation rounds at this
    // size; atScale forces the DISTRIBUTED path
    val pairs = (0L until 59L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val got = atScale(Components.connectedComponents(pairs, "id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 60 && got.forall(_._2 == 0L))
    graft.Caches.unpersistAll()
  }

  test("a 300-hop path converges within 12 star rounds") {
    import spark.implicits._
    // neighbour-only propagation needs ~300 rounds here; alternating
    // Large-Star/Small-Star needs ~log2(300) ≈ 9, plus the round that
    // confirms the fixpoint
    val pairs = (0L until 300L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    var cc: DataFrame = null
    val rounds = perRound(jobsOf {
      cc = atScale(Components.connectedComponents(pairs, "id_a", "id_b"))
    }, "connectedComponents")
    assert(rounds.keys.max <= 12, rounds)
    val got = cc.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 301 && got.forall(_._2 == 0L))
    graft.Caches.unpersistAll()
  }

  test("a 2,000-node random-id chain and three cliques: union-find's labels within 2·log2(n) rounds") {
    import spark.implicits._
    // ids in random order along the chain: hash-to-min with a pointer
    // jump needs rounds linear in the chain's length here
    val chain = new scala.util.Random(7).shuffle((0L until 2000L).toVector)
    val cliques = for (c <- 0 until 3; i <- 0 until 5; j <- i + 1 until 5)
      yield (10000L + 10 * c + i, 10000L + 10 * c + j)
    val pairs = (chain.sliding(2).map(p => (p(0), p(1))).toSeq ++ cliques).toDF("id_a", "id_b")
    def labels(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uf = labels(Components.connectedComponents(pairs, "id_a", "id_b"))
    var cc: DataFrame = null
    val rounds = perRound(jobsOf {
      cc = atScale(Components.connectedComponents(pairs, "id_a", "id_b"))
    }, "connectedComponents")
    val n = uf.size
    assert(n == 2015 && uf.values.toSet == Set(0L, 10000L, 10010L, 10020L))
    val bound = 2 * (64 - java.lang.Long.numberOfLeadingZeros(n - 1L))
    assert(rounds.keys.max <= bound, s"${rounds.keys.max} rounds > 2·⌈log2 $n⌉ = $bound")
    assert(labels(cc) == uf)
    graft.Caches.unpersistAll()
  }

  test("null ids drop out of pairs and allIds alike on both tiers") {
    import spark.implicits._
    val pairs = Seq[(java.lang.Long, java.lang.Long)]((null, 3L), (1L, 2L), (4L, null))
      .toDF("id_a", "id_b")
    val all = Seq[java.lang.Long](null, 1L, 5L).toDF("doc_id")
    def run = rowsOf(Components.connectedComponents(pairs, "id_a", "id_b",
      allIds = all, idCol = "doc_id"))
    val uf = run
    assert(uf == Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 3L), Seq(4L, 4L), Seq(5L, 5L)))
    assert(atScale(run) == uf)
    graft.Caches.unpersistAll()
  }

  test("driver-side union-find == distributed propagation") {
    import spark.implicits._
    // pseudo-random graph with chains, cliques and singletons
    val pairs = ((0L until 150L).map(i => (i, (i * 37 + 11) % 150)) ++
      (200L until 230L).map(i => (i, 200L))).toDF("id_a", "id_b")
    val all = (0L until 260L).toDF("node")
    def run = Components.connectedComponents(pairs, "id_a", "id_b",
        allIds = all, idCol = "node")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uf = run
    val dist = atScale(run)
    assert(uf == dist)
    graft.Caches.unpersistAll()
  }

  test("allIds labels singleton docs that appear in no pair") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val all = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val got = Components.connectedComponents(pairs, "id_a", "id_b",
        allIds = all, idCol = "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
    graft.Caches.unpersistAll()
  }

  test("dedupClusters: canonical min id, members sorted, sizes right") {
    import spark.implicits._
    val pairs = Seq((5L, 9L), (9L, 7L), (2L, 1L)).toDF("id_a", "id_b")
    val got = Components.dedupClusters(pairs, "id_a", "id_b")
      .orderBy("keep_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, Seq(1L, 2L), 2L), (5L, Seq(5L, 7L, 9L), 3L)))
    graft.Caches.unpersistAll()
  }
}
