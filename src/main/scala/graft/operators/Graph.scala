package graft.operators

import scala.reflect.ClassTag
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.GraftDatasetBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructType}
import org.apache.spark.storage.StorageLevel
import graft.Gates
import graft.expressions.GraftFunctions

/** Iterative link analysis and cohesion over edge lists — centrality and
  * communities for the corpus graphs a training-data pipeline actually
  * builds (near-duplicate graphs, citation/link graphs, entity
  * co-occurrence). No reference implementation (the pandas ETL has no
  * graph surface, SURVEY.md §2.12); each operator cites its algorithm.
  *
  * Front ends. [[pageRank]], [[hits]] and [[labelPropagation]] read a
  * DIRECTED edge list: duplicate (src, dst) pairs collapse and the node
  * spine is every distinct endpoint, a null id included. [[kCore]] and
  * [[triangleCounts]] read an UNDIRECTED one: null endpoints and
  * self-loops drop, and each edge is kept once as (a, b) with a < b.
  *
  * Tiers. Each operator asks [[graft.Gates]] whether its node-sized
  * state fits [[graft.Gates.NodeState]]; nothing edge-sized ever reaches
  * the driver. Below the gate, `pageRank` and `kCore` run on driver
  * arrays (a dense id index, the edge list cached once as index pairs,
  * one job per round), and `hits`, `labelPropagation` and
  * `triangleCounts` broadcast their node tables into the joins, so the
  * edge list streams through map-side joins and is never shuffled
  * (`triangleCounts`' adjacency also asks [[graft.Gates.AdjacencyEdges]]).
  * Above it every operator runs keyed shuffle joins with map-side
  * combine. Both tiers compute the same result. The SQL loops keep one
  * row per node of state (`kCore`: the surviving edge set) and cut each
  * round with [[graft.Caches.checkpoint]], so the plan and its stage DAG
  * stay constant-size over rounds. Every round's jobs are described as
  * `op/round r`.
  */
object Graph {

  /** Damped PageRank over a DIRECTED edge list, fixed iteration count.
    *
    * `pr(id) = (1-d)/N + d * Σ_{src→id} pr(src)/outdeg(src)` from a
    * uniform `1/N` start, N = |distinct src ∪ dst|. Duplicate edges are
    * collapsed first (one edge = one vote, the convention that makes
    * ranks independent of upstream fan-out multiplicity). Dangling
    * nodes (out-degree 0) absorb rank — their mass is NOT redistributed,
    * the simple variant; callers who need conservation symmetrize the
    * edge list (undirected graphs have no dangling nodes by
    * construction, which is what the q113 query does).
    *
    * A fixed iteration count (not a convergence test) keeps the output
    * a pure function of (edges, iterations, damping) — oracle-checkable
    * by unrolling the same joins in SQL. Each SQL round is two shuffle
    * joins keyed on node id — edge ⨝ rank on `src`, contribution sum on
    * `dst` — plus a left join back to the node spine.
    *
    * Output: (id, pr), one row per node.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, damping: Double = 0.85): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1), got $damping")
    val sc = edges.sparkSession.sparkContext
    val (e, nodes) = directed(edges, srcCol, dstCol)
    val n = inRound(sc, "pageRank", 0)(nodes.count())
    // empty graph: empty (id, pr) result with the right schema
    if (n == 0) return nodes.withColumn("pr", lit(0.0))
    val teleport = (1.0 - damping) / n
    if (Gates.under(edges.sparkSession, n, Gates.NodeState))
      return pageRankArrays(e, nodes, iterations, damping, teleport)

    val outDeg = e.groupBy("src").agg(count(lit(1)).as("__deg"))
    // degree is attached to the edge list ONCE (it used to be re-joined
    // every iteration — one whole extra edge-sized join per round); the
    // division stays pr/__deg with the raw long count, so the per-edge
    // contribution doubles are bit-identical to the old plan's
    val eDeg = e.join(outDeg, "src").persist()
    graft.Caches.track(eDeg)

    sqlRounds(sc, "pageRank", iterations,
        cut(sc, "pageRank", 0)(nodes.withColumn("pr", lit(1.0 / n)))) { (ranks, _) =>
      val contribs = eDeg
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), (col("pr") / col("__deg")).as("__c"))
        .groupBy("id")
        .agg(sum(col("__c")).as("__in"))
      nodes
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(teleport) + lit(damping) * coalesce(col("__in"), lit(0.0))).as("pr"))
    }
  }

  /** [[pageRank]] below the node-state gate, with the SQL path's
    * arithmetic: each node's share `pr/outdeg` is one division on the
    * driver (the SQL path divides per edge, with the same operands), and
    * each round's contribution sums are one job. A null id is a node no
    * edge reaches and none leaves, but an edge to it still counts in its
    * source's out-degree — exactly the SQL path's equi-joins, which never
    * match null.
    */
  private def pageRankArrays(e: DataFrame, nodes: DataFrame, iterations: Int,
                             damping: Double, teleport: Double): DataFrame =
    dense("pageRank", nodes, e, nodes.withColumn("pr", lit(0.0)).schema, Seq(e, nodes)) { g =>
      val n = g.ids.length
      lazy val outDeg = g.round(0, ()) { (_, p) =>
        val d = new Array[Int](n)
        var j = 0
        while (j < p.length) { if (p(j) >= 0) d(p(j)) += 1; j += 2 }
        d
      }(addInto)
      var ranks = Array.fill(n)(1.0 / n)
      for (r <- 1 to iterations) {
        val share = Array.tabulate(n)(i => if (outDeg(i) > 0) ranks(i) / outDeg(i) else 0.0)
        ranks = g.round(r, share) { (s, p) =>
          val acc = new Array[Double](n)
          var j = 0
          while (j < p.length) {
            if (p(j) >= 0 && p(j + 1) >= 0) acc(p(j + 1)) += s(p(j))
            j += 2
          }
          acc
        }(addInto).map(c => teleport + damping * c)
      }
      ranks.indices.map(i => InternalRow(g.ids(i), ranks(i)))
    }

  /** HITS hubs-and-authorities (Kleinberg, JACM 1999) over a DIRECTED
    * edge list, fixed iteration count — the link-analysis complement
    * of [[pageRank]] for bipartite-flavored crawl graphs (hub pages
    * pointing at authoritative hosts, parts "endorsing" suppliers):
    * each iteration `auth(v) = Σ_{u→v} hub(u)` then
    * `hub(u) = Σ_{u→v} auth(v)`, each L1-normalized to sum 1 (the SUM
    * norm keeps every step a join + aggregate + one scalar divide an
    * external engine restates verbatim; the classic L2 adds only a
    * sqrt that changes no ordering). Duplicate edges collapse first
    * (one edge = one endorsement, the [[pageRank]] convention); hubs
    * start uniform at 1∕N. Sources with no in-links hold authority 0,
    * sinks with no out-links hub 0 — both stay in the output.
    *
    * Per half-iteration: one edge ⨝ score join, a node-keyed sum with
    * map-side combine, a 1-row total broadcast back.
    *
    * Output: (id, auth, hub), one row per node; `auth` and `hub` are
    * non-null at every iteration count, so the schema is one.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val sc = edges.sparkSession.sparkContext
    val (e, nodes) = directed(edges, srcCol, dstCol)
    val n = inRound(sc, "hits", 0)(nodes.count())
    val attach = broadcastIf(Gates.under(edges.sparkSession, n, Gates.NodeState))
    // one L1-normalized propagation half-step: scores flow across the
    // edge list from `from` endpoints onto `onto` endpoints. `raw` is
    // kept for the round: it feeds both the 1-row total and the node
    // join, each of which would otherwise recompute it (an edge pass)
    def halfStep(scores: DataFrame, keep: DataFrame => DataFrame, scoreCol: String,
                 from: String, onto: String, outCol: String): DataFrame = {
      val raw = keep(e
        .join(attach(scores.select(col("id").as(from), col(scoreCol))), from)
        .groupBy(col(onto).as("id"))
        .agg(sum(col(scoreCol)).as("__raw")))
      val tot = raw.agg(sum(col("__raw")).as("__tot"))
      nodes
        .join(attach(raw), Seq("id"), "left")
        .crossJoin(broadcast(tot))
        .select(col("id"),
          coalesce(try_divide(col("__raw"), col("__tot")), lit(0.0)).as(outCol))
    }

    def round(scores: DataFrame, keep: DataFrame => DataFrame): DataFrame = {
      val auth = halfStep(scores.select(col("id"), col("hub")), keep, "hub", "src", "dst", "auth")
      // left: a null id is a node too, and no edge leaves it (hub 0)
      auth.join(halfStep(auth, keep, "auth", "dst", "src", "hub"), Seq("id"), "left")
        .na.fill(0.0, Seq("hub"))
    }
    val start = nodes.withColumn("auth", lit(0.0)).withColumn("hub", lit(1.0 / n))
    // an empty graph runs no job, and keeps the schema its rounds give
    (if (n == 0) (if (iterations == 0) start else round(start, identity))
     else sqlRounds(sc, "hits", iterations, cut(sc, "hits", 0)(start))(round))
      .select(col("id"), col("auth"), col("hub"))
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara 2007) —
    * community detection over the same corpus graphs: every node
    * starts labeled with its own id; each iteration it adopts the
    * label most frequent among its out-neighbours (callers symmetrize
    * for undirected semantics, as with [[pageRank]]), ties breaking to
    * the SMALLEST label and isolated nodes keeping theirs. The
    * synchronous schedule + deterministic tie-break make the output a
    * pure function of (edges, iterations) — oracle-checkable by
    * unrolling, where the classic asynchronous variant is
    * order-dependent.
    *
    * Per iteration: one edge ⨝ label join, an (id, label)-keyed count
    * with map-side combine, and a node-keyed min over the ≤ degree
    * candidate labels per node.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val sc = edges.sparkSession.sparkContext
    val (e, nodes) = directed(edges, srcCol, dstCol)
    val attach = broadcastIf(Gates.under(edges.sparkSession,
      inRound(sc, "labelPropagation", 0)(nodes.count()), Gates.NodeState))
    sqlRounds(sc, "labelPropagation", iterations,
        cut(sc, "labelPropagation", 0)(nodes.withColumn("label", col("id")))) { (labels, _) =>
      val votes = e
        .join(attach(labels.withColumnRenamed("id", "dst")), "dst")
        .groupBy(col("src").as("id"), col("label"))
        .agg(count(lit(1)).as("__n"))
      // winner per node = most frequent label, ties to the SMALLEST —
      // exactly the old row_number-over-window's (__n desc, label asc)
      // rank-1 row, but as a map-side-combinable aggregate: min of
      // (-count, label) is lexicographically (count desc, label asc),
      // so the window's sort + single-partition-per-key pass is gone
      val winner = votes
        .groupBy("id")
        .agg(min(struct((-col("__n")).as("__negn"), col("label").as("__l")))
          .as("__w"))
        .select(col("id"), col("__w.__l").as("__new"))
      // labels IS the node spine (one row per node by construction), so
      // joining back through `nodes` was a redundant third node-sized
      // join per iteration — carry the old label directly
      labels.withColumnRenamed("label", "__old")
        .join(attach(winner), Seq("id"), "left")
        .select(col("id"), coalesce(col("__new"), col("__old")).as("label"))
    }
  }

  /** Bounded k-core peeling (Matula–Beck): iteratively delete every
    * node of degree < k, restricting the edge set to survivors each
    * round — the standard dense-core extractor for corpus graphs
    * (link-spam cores, template families inside near-dup graphs,
    * community nuclei) and the complement of [[triangleCounts]]'
    * per-node cohesion. A FIXED round count (not a fixpoint test)
    * keeps the output a pure function of (edges, k, rounds) — the
    * [[pageRank]]/[[labelPropagation]] convention that makes it
    * oracle-checkable by unrolling; peeling is monotone, so `rounds`
    * ≥ the peel depth reaches the true k-core and extra rounds are
    * no-ops (spec'd).
    *
    * Each SQL round is one degree aggregation (map-side combined) + two
    * node-keyed semi-joins restricting the edge list; state is the edge
    * set itself, shrinking monotonically. Output: (id, degree) over the
    * surviving subgraph — nodes that lost every edge drop out with it.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val sc = edges.sparkSession.sparkContext
    val e = cut(sc, "kCore", 0)(undirected(edges, col(srcCol), col(dstCol)))
    // survivor sets are node-sized, at most 2·edges before the first
    // peel; the checkpoint measured the edge count
    if (Gates.under(edges.sparkSession,
        2 * e.queryExecution.optimizedPlan.stats.rowCount.get.toLong, Gates.NodeState))
      return kCoreArrays(e, k, rounds)
    degrees(sqlRounds(sc, "kCore", rounds, e) { (live, keep) =>
      // kept: surv feeds BOTH semi-joins — without it the degree
      // aggregation runs twice per round (the two subtrees' exprIds
      // differ, so exchange reuse never matched them)
      val surv = keep(degrees(live).filter(col("degree") >= k).select(col("id")))
      live
        .join(surv.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .join(surv.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
    })
  }

  /** [[kCore]] below the node-state gate: the survivors are an n-bit
    * alive set on the driver, and round r is one job counting each
    * node's degree over the edges whose endpoints both survived round
    * r−1 (round 0 counts every edge). Peeling is monotone, so a round
    * that removes no node is the fixpoint and ends the loop early.
    */
  private def kCoreArrays(e: DataFrame, k: Int, rounds: Int): DataFrame =
    dense("kCore", endpoints(e, "a", "b").distinct(), e, degrees(e).schema, Seq(e)) { g =>
      val n = g.ids.length
      def degreesAmong(r: Int, alive: java.util.BitSet): Array[Int] =
        g.round(r, alive) { (a, p) =>
          val d = new Array[Int](n)
          var j = 0
          while (j < p.length) {
            val u = p(j)
            val v = p(j + 1)
            if (a.get(u) && a.get(v)) { d(u) += 1; d(v) += 1 }
            j += 2
          }
          d
        }(addInto)
      val all = new java.util.BitSet(n)
      all.set(0, n)
      var deg = if (n == 0) Array.emptyIntArray else degreesAmong(0, all)
      var alive = n
      var fixpoint = n == 0
      var r = 1
      while (r <= rounds && !fixpoint) {
        val survivors = new java.util.BitSet(n)
        deg.indices.foreach(i => if (deg(i) >= k) survivors.set(i))
        fixpoint = survivors.cardinality == alive
        if (!fixpoint) {
          alive = survivors.cardinality
          deg = degreesAmong(r, survivors)
        }
        r += 1
      }
      deg.indices.filter(deg(_) > 0).map(i => InternalRow(g.ids(i), deg(i).toLong))
    }

  /** Per-node triangle counts + local clustering coefficient over an
    * UNDIRECTED graph (input edge list may carry either or both
    * directions, duplicates, and self-loops — all normalized away
    * first). Completes the corpus-graph family next to [[pageRank]],
    * [[labelPropagation]] and [[Components]]: triangle density is the
    * standard cohesion signal for near-duplicate clusters (a dedup
    * cluster that is also a near-clique is a template family; a
    * star is one viral doc) and for link-spam detection.
    *
    * Algorithm: degree-ordered edge orientation (Suri & Vassilvitskii,
    * WWW 2011 / Chiba–Nishizeki) + edge-iterator adjacency
    * intersection. Every undirected edge is directed from its lower to
    * its higher endpoint under the total order (degree, id), which
    * bounds every node's oriented OUT-degree by O(√m) regardless of
    * skew — a 10M-follower hub is always a neighbour-list ENTRY, never
    * the list owner. Oriented out-neighbour lists are then joined onto
    * both endpoints of each oriented edge (u, v) and intersected:
    * every common out-neighbour w closes the triangle {u, v, w},
    * found exactly once (u, v are its two lowest-order corners). Total
    * intersection work is the O(m^{3/2}) wedge bound, but — unlike the
    * naive wedge SELF-JOIN — no wedge-sized table is ever
    * materialized or shuffled: the big intermediates are edge-sized
    * rows carrying ≤ O(√m)-element arrays, the intersections run
    * inside the projection, and the only post-edge shuffles are
    * triangle-sized count aggregations with map-side combine. Nothing
    * graph-sized reaches the driver.
    *
    * Output: (id, degree, triangles, lcc), one row per node with
    * degree ≥ 1; `lcc` = 2·T/(d·(d−1)) (0.0 when d < 2), exact
    * double — callers round for presentation.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // integral ids take the sorted-merge intersection kernel (adjacency
    // lists sorted once per node, per-edge closing is a two-pointer
    // merge — no per-row hash build); other id types keep the generic
    // array_intersect. Same results, spec-asserted. BOTH endpoint
    // columns must be integral: dispatching on src alone would
    // cast("long") a string dst to null and silently DROP those edges
    // via the null filter instead of taking the generic path.
    def isIntegral(dt: DataType): Boolean = dt match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    val integralIds = isIntegral(edges.schema(srcCol).dataType) &&
      isIntegral(edges.schema(dstCol).dataType)
    val id: String => Column = c => if (integralIds) col(c).cast("long") else col(c)
    val und = undirected(edges, id(srcCol), id(dstCol)).persist()
    graft.Caches.track(und)
    val deg = degrees(und).persist()
    graft.Caches.track(deg)

    // orient a—b from the smaller to the larger (degree, id) pair;
    // struct ordering gives the lexicographic total order directly
    // (field names aliased identically so both CASE branches carry the
    // same struct type)
    val ordA = struct(col("__da").as("d"), col("a").as("n"))
    val ordB = struct(col("__db").as("d"), col("b").as("n"))
    // deg is node-sized: below the node-state gate the orientation pass
    // streams the edge list through two map-side joins instead of
    // shuffling it twice (sort-merge on a then on b — the two biggest
    // exchanges in the old plan)
    val attachDeg = broadcastIf(Gates.under(edges.sparkSession, deg.count(), Gates.NodeState))
    val oriented = und
      .join(attachDeg(deg.select(col("id").as("a"), col("degree").as("__da"))), "a")
      .join(attachDeg(deg.select(col("id").as("b"), col("degree").as("__db"))), "b")
      .select(
        when(ordA < ordB, col("a")).otherwise(col("b")).as("lo"),
        when(ordA < ordB, col("b")).otherwise(col("a")).as("hi"))
      .persist()
    graft.Caches.track(oriented)

    // oriented out-neighbour lists — ≤ O(√m) entries each by the
    // orientation bound, so collect_list is safe at any graph size
    val adj =
      if (integralIds)
        oriented.groupBy(col("lo")).agg(sort_array(collect_list(col("hi"))).as("nb"))
      else
        oriented.groupBy(col("lo")).agg(collect_list(col("hi")).as("nb"))

    // edge-iterator: for oriented edge (lo, hi), every common
    // out-neighbour w of lo and hi closes triangle {lo, hi, w} — found
    // exactly once, at its two lowest-order corners. hi-side adjacency
    // joins inner: an endpoint with no out-edges closes nothing.
    // The naive alternative (wedge SELF-JOIN then closure join)
    // materializes and shuffles an O(m^{3/2})-row wedge table — 41M
    // rows on the sf0.1 co-order graph; here the same intersections
    // run inside the projection on edge-sized rows. The adjacency
    // table is m entries spread over n rows (~16 MB at m = 1.2M):
    // below the adjacency gate it broadcasts, so edges stream through
    // both probes in one stage and the per-edge array payload is never
    // shuffled twice (size dispatch on the persisted edge count, the
    // [[Components]] pattern).
    val attach = broadcastIf(Gates.under(edges.sparkSession, und.count(), Gates.AdjacencyEdges))
    val closed = oriented
      .join(attach(adj.select(col("lo"), col("nb").as("__nbu"))), Seq("lo"))
      .join(attach(adj.select(col("lo").as("hi"), col("nb").as("__nbv"))), Seq("hi"))
      .select(col("lo"), col("hi"),
        (if (integralIds)
          GraftFunctions.call("sorted_intersect", col("__nbu"), col("__nbv"))
        else
          array_intersect(col("__nbu"), col("__nbv"))).as("__w"))
      .filter(size(col("__w")) > 0)

    // per-triangle corner credits: lo and hi once per common neighbour,
    // each common neighbour w once. ONE pass: the credits are emitted
    // as a single exploded array per closed edge — the former 3-branch
    // union re-ran the whole intersection pipeline per branch (no
    // exchange between `closed` and the union, so nothing was reusable
    // and the dominant per-edge intersect work executed THREE times)
    val perNode = closed
      .select(explode(concat(
        array(struct(col("lo").as("id"), size(col("__w")).cast("long").as("__t")),
          struct(col("hi").as("id"), size(col("__w")).cast("long").as("__t"))),
        transform(col("__w"), w => struct(w.as("id"), lit(1L).as("__t")))))
        .as("__cr"))
      .select(col("__cr.id").as("id"), col("__cr.__t").as("__t"))
      .groupBy("id").agg(sum(col("__t")).as("triangles"))

    // the integral kernel widened ids to long internally; restore the
    // input column type so downstream joins back on the original
    // column see an unchanged schema. Mixed-width integral endpoints
    // keep the wider long (lossless; the honest common type).
    val outId =
      if (integralIds &&
          edges.schema(srcCol).dataType == edges.schema(dstCol).dataType)
        col("id").cast(edges.schema(srcCol).dataType)
      else col("id")
    deg.join(perNode, Seq("id"), "left")
      .select(outId.as("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("degree") * (col("degree") - lit(1.0))))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** The directed front end: `edges`' deduped (src, dst) pairs and their
    * node spine (id), both persisted and tracked.
    */
  private def directed(edges: DataFrame, srcCol: String,
                       dstCol: String): (DataFrame, DataFrame) = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct().persist()
    graft.Caches.track(e)
    val nodes = endpoints(e, "src", "dst").distinct().persist()
    graft.Caches.track(nodes)
    (e, nodes)
  }

  /** The undirected front end: each edge of (`u`, `v`) once as (a, b)
    * with a < b, null endpoints and self-loops dropped.
    */
  private[operators] def undirected(edges: DataFrame, u: Column, v: Column): DataFrame =
    edges.select(u.as("u"), v.as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()

  /** Both endpoint columns of `e`, stacked into one `id` column. */
  private[operators] def endpoints(e: DataFrame, a: String, b: String): DataFrame =
    e.select(col(a).as("id")).unionByName(e.select(col(b).as("id")))

  /** (id, degree) of an [[undirected]] edge list. */
  private def degrees(und: DataFrame): DataFrame =
    endpoints(und, "a", "b").groupBy("id").agg(count(lit(1)).as("degree"))

  /** A frame's join side: broadcast when its size was `under` the gate. */
  private def broadcastIf(under: Boolean): DataFrame => DataFrame =
    if (under) df => broadcast(df) else identity

  /** A driver-array tier over the graph of `nodes` (one `id` column) and
    * `edges` (two id columns). Under `op/round 0` the distinct node ids
    * are held on the driver in a dense order, and `edges` is cached once
    * on the executors as one `Array[Int]` of endpoint-index pairs per
    * partition, a null endpoint as −1. The id → index map is broadcast
    * once, for that cache: a boxed hash map, tens of bytes per node on
    * the driver and on each executor. `body` computes the result's rows
    * from the [[DenseGraph]]; the pair cache, the index and `tracked`
    * are released once it returns or throws. The result is a
    * driver-built frame with measured statistics.
    */
  private def dense(op: String, nodes: DataFrame, edges: DataFrame, schema: StructType,
                    tracked: Seq[DataFrame])(body: DenseGraph => Seq[InternalRow]): DataFrame = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val idType = nodes.schema("id").dataType
    // binary ids are byte arrays, equal only by reference: key them by
    // content, as SQL equality compares them
    def key(v: Any): Any = v match {
      case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
      case other => other
    }
    val ids = inRound(sc, op, 0)(nodes.queryExecution.toRdd.map(_.copy().get(0, idType)).collect())
    val index = new java.util.HashMap[Any, Int](2 * ids.length)
    ids.indices.foreach(i => if (ids(i) != null) index.put(key(ids(i)), i))
    val bIndex = sc.broadcast(index)
    // endpoints cast to the node id type, as the SQL joins compare them
    val pairs = edges.select(edges.columns.map(c => col(c).cast(idType)).toIndexedSeq: _*)
      .queryExecution.toRdd.mapPartitions { rows =>
        val ix = bIndex.value
        val out = Array.newBuilder[Int]
        rows.foreach { row =>
          out += ix.getOrDefault(key(row.get(0, idType)), -1)
          out += ix.getOrDefault(key(row.get(1, idType)), -1)
        }
        Iterator.single(out.result())
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = body(new DenseGraph(sc, op, ids, pairs))
      GraftDatasetBridge.ofRows(spark, schema,
        sc.parallelize(rows, sc.defaultParallelism), rows.length.toLong)
    } finally {
      pairs.unpersist(blocking = false)
      bIndex.destroy()
      tracked.foreach(graft.Caches.release)
    }
  }

  /** A [[dense]] tier's graph: the node ids in index order and the
    * cached endpoint-index pairs.
    */
  private final class DenseGraph(sc: SparkContext, op: String,
                                 val ids: Array[Any], pairs: RDD[Array[Int]]) {
    /** Round r, one job described as `op/round r`: `state` is broadcast,
      * `kernel` folds each partition's pairs into one n-sized partial
      * (32 MB of doubles at the gate), and `add` sums the partials.
      */
    def round[S: ClassTag, P: ClassTag](r: Int, state: S)(kernel: (S, Array[Int]) => P)(
        add: (P, P) => P): P = {
      val b = sc.broadcast(state)
      try inRound(sc, op, r)(pairs.map(p => kernel(b.value, p)).treeReduce(add))
      finally b.destroy()
    }
  }

  /** Elementwise `a += b` for the per-partition partials. */
  private def addInto(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  private def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** Runs `body` with its Spark jobs described as `op/round r`, then
    * restores the caller's description.
    */
  private[operators] def inRound[A](sc: SparkContext, op: String, r: Int)(body: => A): A = {
    val key = "spark.job.description" // SparkContext.SPARK_JOB_DESCRIPTION
    val caller = sc.getLocalProperty(key)
    sc.setJobDescription(s"$op/round $r")
    try body
    finally sc.setLocalProperty(key, caller)
  }

  /** `df` cut with [[graft.Caches.checkpoint]], its jobs described as
    * `op/round r`.
    */
  private[operators] def cut(sc: SparkContext, op: String, r: Int)(df: DataFrame): DataFrame =
    inRound(sc, op, r)(graft.Caches.checkpoint(df))

  /** The SQL round loop: from the cut round-0 state `state0`, round
    * r = 1 to `rounds` [[cut]]s `step(state, keep)` under `op/round r`.
    * Once that cut has materialized, the previous state and every frame
    * the step passed to `keep` (which persists and tracks it) are
    * released, so cache use stays flat in the round count; the last
    * state stays tracked for the caller's scope.
    */
  private[operators] def sqlRounds(sc: SparkContext, op: String, rounds: Int, state0: DataFrame)(
      step: (DataFrame, DataFrame => DataFrame) => DataFrame): DataFrame =
    (1 to rounds).foldLeft(state0) { (state, r) =>
      val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val next = cut(sc, op, r)(step(state, df => { kept += graft.Caches.track(df.persist()); df }))
      (kept :+ state).foreach(graft.Caches.release)
      next
    }
}
