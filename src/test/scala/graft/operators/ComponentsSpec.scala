package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

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
    val got = atScale(Components.connectedComponents(pairs, "id_a", "id_b",
        maxIterations = 100))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 60 && got.forall(_._2 == 0L))
    graft.Caches.unpersistAll()
  }

  test("pointer jumping: a 300-hop path converges within log-bounded rounds") {
    import spark.implicits._
    // neighbour-only propagation needs ~300 rounds here; pointer jumping
    // needs ~log2(300) ≈ 9 — 12 rounds is tight enough to prove the jump
    val pairs = (0L until 300L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val got = atScale(Components.connectedComponents(pairs, "id_a", "id_b",
        maxIterations = 12))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 301 && got.forall(_._2 == 0L))
    graft.Caches.unpersistAll()
  }

  test("non-convergence throws instead of returning mixed components") {
    import spark.implicits._
    val pairs = (0L until 300L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      atScale(Components.connectedComponents(pairs, "id_a", "id_b", maxIterations = 3))
    }
    assert(e.getMessage.contains("did not converge"))
    graft.Caches.unpersistAll()
  }

  test("driver-side union-find == distributed propagation") {
    import spark.implicits._
    // pseudo-random graph with chains, cliques and singletons
    val pairs = ((0L until 150L).map(i => (i, (i * 37 + 11) % 150)) ++
      (200L until 230L).map(i => (i, 200L))).toDF("id_a", "id_b")
    val all = (0L until 260L).toDF("node")
    def run = Components.connectedComponents(pairs, "id_a", "id_b",
        allIds = all, idCol = "node", maxIterations = 100)
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
