package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected pair list — the step between
  * near-dup PAIR mining ([[Dedup]], [[Similarity]]) and an actually
  * deduplicated corpus: near-duplication is not transitive, but dedup
  * policy treats it as if it were (keep ONE doc per similarity cluster),
  * so pairs must first be closed into components. No reference
  * implementation (SURVEY.md §7.4 LLM-pipeline category); algorithm is
  * the standard large-graph label propagation (a.k.a. "hash-to-min")
  * plus one pointer jump: every node adopts the smallest component id
  * among itself and its neighbours, AND then its candidate label's own
  * current label (labels are node ids, so a label lookup is a
  * self-join), until a fixpoint.
  *
  * Scale shape: each iteration is one aggregation over the (narrow)
  * edge list joined to current labels plus one label self-join — no
  * driver-side graph, no union-find in memory. Rounds are NOT
  * O(log diameter): the jump only follows labels, so it halves a path
  * whose ids run in path order, but on a path whose ids are not in path
  * order the rounds grow linearly with its length (a replay of this
  * update rule needed 60 rounds at n = 100 and 470 at n = 1,000). The
  * default `maxIterations = 20` therefore throws on such a chain —
  * ROADMAP direction 1 (Large-Star/Small-Star) is the fix. A
  * non-converged exit throws rather than returning mixed components.
  * The edge list is symmetrized once up front; iteration stops when an
  * iteration changes no label (checked with one count per round — the
  * driver-side loop is bounded by `maxIterations`, not data size).
  * Each round's labels are cut with [[graft.Caches.checkpoint]], and its
  * jobs are described `connectedComponents/round r`.
  */
object Components {

  /** (id_a, id_b) pairs → (id, component) where component = min doc id
    * reachable in the undirected closure. Nodes appearing only as
    * singletons must be fed through `allIds` (a near-dup pair list by
    * construction omits unique docs); pass null to label pair members
    * only.
    *
    * Size-gated hybrid: a dedup-cluster graph is usually TINY relative
    * to the corpus it came from (it has one node per distinct content
    * class in some pair), so when the deduped edge list fits under
    * [[graft.Gates.UnionFindEdges]] it is collected and closed with
    * union-find — O(E·α) in one pass, no per-round shuffle overhead
    * (measured 7.7 s → 0.3 s on a 292k-edge class graph at sf0.1). Past
    * the gate the distributed label propagation runs; both paths
    * produce identical labels (spec-asserted).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          allIds: DataFrame = null, idCol: String = "id",
                          maxIterations: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    // symmetrize once: src -> dst and dst -> src
    val fwd = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    val sc = spark.sparkContext
    val op = "connectedComponents"
    if (graft.Gates.under(spark, Graph.inRound(sc, op, 0)(edges.count()),
        graft.Gates.UnionFindEdges)) {
      val result = Graph.inRound(sc, op, 0)(unionFindDriverSide(spark, edges, allIds, idCol))
      edges.unpersist(blocking = false)
      return result
    }
    val nodes0 = edges.select(col("src").as("id")).distinct()
    val nodes = (if (allIds == null) nodes0
                 else nodes0.unionByName(allIds.select(col(idCol).cast("long").as("id")))
                   .distinct())
    var labels = Graph.inRound(sc, op, 0)(
      graft.Caches.checkpoint(nodes.select(col("id"), col("id").as("component"))))
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxIterations) {
      round += 1
      // candidate label per node: min over (own, neighbours' labels)
      val viaEdges = edges.join(labels.withColumnsRenamed(
          Map("id" -> "dst", "component" -> "nbr")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nbr")).as("nbr_min"))
      val cand = labels.join(viaEdges, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("cand"),
          col("component").as("prev"))
      // pointer jump: a label is itself a node id, so each node also
      // adopts its candidate label's OWN current label (labels only ever
      // decrease, so the jump is always sound). It shortcuts label
      // chains only: rounds still grow linearly on a path whose ids are
      // not in path order (see the object's scaladoc)
      val next = Graph.inRound(sc, op, round)(graft.Caches.checkpoint(
        cand.join(labels.withColumnsRenamed(
            Map("id" -> "cand", "component" -> "cand_lbl")), Seq("cand"), "left")
          .select(col("id"),
            least(col("cand"), coalesce(col("cand_lbl"), col("cand"))).as("component"),
            col("prev"))))
      changed = Graph.inRound(sc, op, round)(
        next.filter(col("component") =!= col("prev")).count())
      graft.Caches.release(labels)
      labels = next.select("id", "component")
    }
    edges.unpersist(blocking = false)
    // non-convergence is a correctness failure, not a degraded answer:
    // labels would still mix components. Fail loudly — a long chain
    // whose ids are not in path order reaches this at the default bound
    if (changed > 0) {
      graft.Caches.release(labels)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIterations rounds " +
          s"($changed labels still changing); raise maxIterations")
    }
    labels
  }

  /** Union-find with path compression + union-by-min over a collected
    * edge list (the under-gate path of [[connectedComponents]]): the
    * bounded-collect pattern — the edge list was already counted, the
    * result mapping is one broadcastable (id → component) table.
    */
  private def unionFindDriverSide(spark: org.apache.spark.sql.SparkSession,
                                  edges: DataFrame, allIds: DataFrame,
                                  idCol: String): DataFrame = {
    import spark.implicits._
    val es = edges.as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrDefault(root, root) != root) root = parent.get(root)
      // path compression
      var cur = x
      while (parent.getOrDefault(cur, cur) != cur) {
        val nxt = parent.get(cur); parent.put(cur, root); cur = nxt
      }
      root
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      // union by MIN id so the root IS the canonical label
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    es.foreach { case (a, b) => parent.putIfAbsent(a, a); parent.putIfAbsent(b, b); union(a, b) }
    val labeled = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    parent.keySet().forEach(id => labeled += ((id, find(id))))
    var out = labeled.toSeq.toDF("id", "component")
    if (allIds != null) {
      val extra = allIds.select(col(idCol).cast("long").as("id"))
        .distinct()
        .join(out.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component"))
      out = out.unionByName(extra)
    }
    out
  }

  /** The dedup decision itself: one row per component with the canonical
    * (minimum) id and the ids to drop — `connectedComponents` composed
    * into the form a dedup pipeline consumes.
    */
  def dedupClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    clusterRows(connectedComponents(pairs, aCol, bCol), "id")

  /** One `(keep_id, member_ids, cluster_size)` row per `component` of
    * `members`, over its `idCol` values: the minimum id, the sorted ids
    * and their count.
    */
  private[operators] def clusterRows(members: DataFrame, idCol: String): DataFrame =
    members.groupBy(col("component"))
      .agg(min(col(idCol)).as("keep_id"),
        sort_array(collect_list(col(idCol))).as("member_ids"),
        count(lit(1)).as("cluster_size"))
      .select(col("keep_id"), col("member_ids"), col("cluster_size"))
}
