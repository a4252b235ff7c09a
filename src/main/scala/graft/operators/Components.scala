package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over an undirected pair list — the step between
  * near-dup PAIR mining ([[Dedup]], [[Similarity]]) and an actually
  * deduplicated corpus: near-duplication is not transitive, but dedup
  * policy treats it as if it were (keep ONE doc per similarity cluster),
  * so pairs must first be closed into components. No reference
  * implementation (SURVEY.md §7.4 LLM-pipeline category).
  *
  * One front end for both tiers: the pair ids cast to long and
  * persisted once; the edges are their [[Graph.undirected]] list (each
  * pair once as (a, b) with a < b, null ids and self-loops dropped); the
  * nodes are every non-null endpoint, a self-loop's id included, plus
  * `allIds`. Each tier maps the ids in some edge to their component's
  * minimum id, the root, and one labelling step left-joins the nodes to
  * that map: a node in no edge is its own root.
  *
  * The distributed tier alternates Large-Star and Small-Star steps
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC 2014). Large-Star links every larger neighbour of a node to the
  * least of the node and its neighbours; Small-Star links a node's
  * smaller neighbours to the least of them. Both keep each component
  * connected, and the edge list shrinks to one star per component,
  * centred on its minimum id, in O(log n) rounds in practice (10 on a
  * 2,000-node chain whose ids are not in path order, where hash-to-min
  * label propagation needs rounds linear in its length). A round is
  * two window minimums and one dedup over the edge list, no join; it is
  * cut with [[graft.Caches.checkpoint]], its jobs are described
  * `connectedComponents/round r`, and the loop stops after the round
  * that changes no edge, the fixpoint.
  */
object Components {

  /** (id_a, id_b) pairs → (id, component) where component = min doc id
    * reachable in the undirected closure. Nodes appearing only as
    * singletons must be fed through `allIds` (a near-dup pair list by
    * construction omits unique docs); pass null to label pair members
    * only. Null ids are dropped.
    *
    * Size-gated hybrid: a dedup-cluster graph is usually TINY relative
    * to the corpus it came from (it has one node per distinct content
    * class in some pair), so when the edge list fits under
    * [[graft.Gates.UnionFindEdges]] it is collected and closed with
    * union-find — O(E·α) in one pass, no per-round shuffle overhead
    * (measured 7.7 s → 0.3 s on a 292k-edge class graph at sf0.1). Past
    * the gate the star rounds run; both tiers produce identical labels
    * (spec-asserted).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          allIds: DataFrame = null, idCol: String = "id"): DataFrame = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val op = "connectedComponents"
    // persisted: the edges and the nodes both read it, and `pairs` is
    // typically an expensive pair join
    val ends = graft.Caches.track(
      pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b")).persist())
    val edges = graft.Caches.track(Graph.undirected(ends, col("a"), col("b")).persist())
    val roots =
      if (graft.Gates.under(spark, Graph.inRound(sc, op, 0)(edges.count()),
          graft.Gates.UnionFindEdges)) {
        val uf = Graph.inRound(sc, op, 0)(unionFind(spark, edges))
        graft.Caches.release(edges)
        uf
      } else starRounds(sc, op, edges)
    val ids = Graph.endpoints(ends, "a", "b")
    (if (allIds == null) ids
     else ids.unionByName(allIds.select(col(idCol).cast("long").as("id"))))
      .where(col("id").isNotNull)
      .distinct()
      .join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("component"))
  }

  /** The distributed tier over the (a, b) edge list `edges`: Large-Star
    * then Small-Star each round until a round moves no edge, which is
    * then a star forest; (id, root) for every id but the roots. Each
    * round's edges are cut, and the previous round's released.
    */
  private def starRounds(sc: SparkContext, op: String, edges: DataFrame): DataFrame = {
    var state = edges
    var moved = 1L
    var r = 0
    while (moved > 0) {
      r += 1
      val next = Graph.cut(sc, op, r)(smallStar(largeStar(state)))
      moved = Graph.inRound(sc, op, r)(next.where(col("moved")).count())
      graft.Caches.release(state)
      state = next
    }
    state.select(col("b").as("id"), col("a").as("root"))
  }

  /** Large-Star: node u links each larger neighbour v to m, the least of
    * u and its neighbours, as (m, v). The edge `moved` when m is not u.
    */
  private def largeStar(e: DataFrame): DataFrame =
    e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      .withColumn("m", least(col("u"), min(col("v")).over(Window.partitionBy("u"))))
      .where(col("v") > col("u"))
      .select(col("m").as("a"), col("v").as("b"), (col("m") < col("u")).as("moved"))

  /** Small-Star: node b links itself and each smaller neighbour a to m,
    * the least of them, as (m, b) and (m, a), deduped. An edge `moved`
    * when a step re-pointed any edge it came from; a round in which no
    * edge moved returned its input unchanged.
    */
  private def smallStar(e: DataFrame): DataFrame =
    e.withColumn("m", min(col("a")).over(Window.partitionBy("b")))
      .select(col("m").as("a"), explode(array(col("b"), col("a"))).as("b"),
        (col("moved") || col("a") =!= col("m")).as("moved"))
      .where(col("a") =!= col("b"))
      .groupBy("a", "b")
      .agg(max(col("moved")).as("moved"))

  /** Union-find with path compression + union-by-min over the collected
    * (a, b) edge list (the under-gate tier): (id, root) for every id but
    * the roots, as one driver-built table.
    */
  private def unionFind(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
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
    edges.as[(Long, Long)].collect().foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      // union by MIN id so the root IS the canonical label
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val labeled = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    parent.keySet().forEach(id => labeled += ((id, find(id))))
    labeled.toSeq.toDF("id", "root")
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
