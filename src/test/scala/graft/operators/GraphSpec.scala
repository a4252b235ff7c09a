package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
    df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("pageRank: symmetric two-node graph is the uniform fixed point") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    for (iters <- Seq(0, 1, 5)) {
      val pr = ranks(Graph.pageRank(e, "src", "dst", iters))
      assert(pr.keySet == Set("a", "b"))
      assert(math.abs(pr("a") - 0.5) < 1e-12 && math.abs(pr("b") - 0.5) < 1e-12)
    }
  }

  test("pageRank: one directed iteration matches the hand formula") {
    import spark.implicits._
    // a -> b, a -> c (outdeg 2), b -> a (outdeg 1); c dangling. N = 3.
    val e = Seq(("a", "b"), ("a", "c"), ("b", "a")).toDF("src", "dst")
    val pr = ranks(Graph.pageRank(e, "src", "dst", 1))
    val teleport = 0.15 / 3
    assert(math.abs(pr("a") - (teleport + 0.85 * (1.0 / 3))) < 1e-12)
    assert(math.abs(pr("b") - (teleport + 0.85 * (1.0 / 6))) < 1e-12)
    assert(math.abs(pr("c") - (teleport + 0.85 * (1.0 / 6))) < 1e-12)
    // dangling node c absorbs rank: total mass < 1 (the documented
    // simple variant — symmetrize for conservation)
    assert(pr.values.sum < 1.0)
  }

  test("pageRank: duplicate edges collapse to one vote") {
    import spark.implicits._
    val dup = Seq(("a", "b"), ("a", "b"), ("a", "b"), ("b", "a")).toDF("s", "d")
    val one = Seq(("a", "b"), ("b", "a")).toDF("s", "d")
    assert(ranks(Graph.pageRank(dup, "s", "d", 3)) ==
      ranks(Graph.pageRank(one, "s", "d", 3)))
  }

  test("pageRank: symmetrized graph conserves total rank mass") {
    import spark.implicits._
    val fwd = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")).toDF("s", "d")
    val sym = fwd.unionByName(fwd.select(col("d").as("s"), col("s").as("d")))
    val pr = ranks(Graph.pageRank(sym, "s", "d", 4))
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    // higher-degree nodes rank higher on this graph (b, c have degree 2
    // and 3; a has 2, d has 1)
    assert(pr("c") > pr("d"))
  }

  test("pageRank: iterations = 0 returns the uniform start") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("c", "d")).toDF("s", "d")
    val pr = ranks(Graph.pageRank(e, "s", "d", 0))
    assert(pr.values.forall(v => math.abs(v - 0.25) < 1e-12))
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("labelPropagation: hand-traced synchronous schedule on two bridged triangles") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6}, bridge 3-4, symmetrized
    val fwd = Seq(("1", "2"), ("2", "3"), ("1", "3"),
      ("4", "5"), ("5", "6"), ("4", "6"), ("3", "4")).toDF("s", "d")
    val sym = fwd.unionByName(fwd.select(col("d").as("s"), col("s").as("d")))
    // iteration 1 from self-labels (each vote count 1 => ties break to
    // the smallest neighbour label)
    val l1 = labelsOf(Graph.labelPropagation(sym, "s", "d", 1))
    assert(l1 == Map("1" -> "2", "2" -> "1", "3" -> "1",
      "4" -> "3", "5" -> "4", "6" -> "4"))
    // iteration 2 re-votes over l1 (hand-traced)
    val l2 = labelsOf(Graph.labelPropagation(sym, "s", "d", 2))
    assert(l2 == Map("1" -> "1", "2" -> "1", "3" -> "1",
      "4" -> "4", "5" -> "3", "6" -> "3"))
  }

  test("labelPropagation: majority beats smaller label; sink-only node keeps its label") {
    import spark.implicits._
    // node x has out-neighbours {a, b, b2} where b and b2 carry label
    // "b" after... simpler: direct one iteration — x's neighbours are
    // a (label a) and two nodes labeled m, m2? Use votes directly:
    // x -> a, x -> m, x -> n where after self-labels the counts are
    // a:1, m:1, n:1 -> tie -> smallest "a". With a duplicate target
    // label the majority must win over the smaller singleton.
    val e = Seq(("x", "m"), ("x", "n"), ("x", "a"), ("m", "n"), ("n", "m"))
      .toDF("s", "d")
    val l1 = labelsOf(Graph.labelPropagation(e, "s", "d", 1))
    assert(l1("x") == "a", "all singleton votes: smallest label wins")
    val l2 = labelsOf(Graph.labelPropagation(e, "s", "d", 2))
    // after iter 1: m -> n's label "n"... n -> "m", a keeps "a" (sink)
    assert(l1("a") == "a", "sink-only node must keep its label")
    // iter 2: x's neighbours m,n,a carry labels n,m,a -> tie -> "a"
    assert(l2("x") == "a")
  }

  test("labelPropagation: deterministic across reruns and partitionings") {
    import spark.implicits._
    val fwd = (1 to 40).map(i => (s"n${i % 13}", s"n${(i * 7) % 13}")).toDF("s", "d")
    val sym = fwd.unionByName(fwd.select(col("d").as("s"), col("s").as("d")))
    val a = labelsOf(Graph.labelPropagation(sym, "s", "d", 3))
    val b = labelsOf(Graph.labelPropagation(sym.repartition(7), "s", "d", 3))
    assert(a == b)
  }

  private def triRows(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long, Double)] =
    df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

  test("triangleCounts: two triangles sharing an edge, hand-computed") {
    import spark.implicits._
    // a-b-c triangle and b-c-d triangle share edge b-c; e pendant off a
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("b", "d"), ("d", "c"),
      ("a", "e")).toDF("s", "d")
    val t = triRows(Graph.triangleCounts(e, "s", "d"))
    assert(t("a") == ((3L, 1L, 2.0 * 1 / (3 * 2))))
    assert(t("b") == ((3L, 2L, 2.0 * 2 / (3 * 2))))
    assert(t("c") == ((3L, 2L, 2.0 * 2 / (3 * 2))))
    assert(t("d") == ((2L, 1L, 1.0)))
    assert(t("e") == ((1L, 0L, 0.0)), "pendant: degree 1, lcc pinned 0.0")
  }

  test("triangleCounts: K4 is all-triangular, lcc = 1 everywhere") {
    import spark.implicits._
    val ns = Seq("a", "b", "c", "d")
    val e = (for (x <- ns; y <- ns if x < y) yield (x, y)).toDF("s", "d")
    val t = triRows(Graph.triangleCounts(e, "s", "d"))
    // each K4 node: degree 3, sits in C(3,2) = 3 triangles, lcc = 1
    assert(ns.forall(n => t(n) == ((3L, 3L, 1.0))))
  }

  test("triangleCounts: sorted-merge (long ids) and generic (string ids) paths agree") {
    import spark.implicits._
    // pseudo-random graph with triangles, chains, hubs
    val raw = (0L until 400L).map(i => (i % 60, (i * 37 + 11) % 60)) ++
      (for (a <- 0L until 8L; b <- a + 1 until 8L) yield (a, b)) // K8 kernel
    val longIds = raw.toDF("s", "d")
    val strIds = raw.map { case (a, b) => (s"n$a", s"n$b") }.toDF("s", "d")
    val fast = Graph.triangleCounts(longIds, "s", "d")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val generic = Graph.triangleCounts(strIds, "s", "d")
      .collect().map(r => r.getString(0).drop(1).toLong -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fast.nonEmpty && fast == generic)
    assert(fast.values.map(_._2).sum > 0, "fixture actually contains triangles")
    graft.Caches.unpersistAll()
  }

  test("triangleCounts: direction, duplicates and self-loops are normalized away") {
    import spark.implicits._
    val clean = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("s", "d")
    val messy = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("b", "c"),
      ("c", "a"), ("a", "a")).toDF("s", "d")
    assert(triRows(Graph.triangleCounts(clean, "s", "d")) ==
      triRows(Graph.triangleCounts(messy, "s", "d")))
  }

  test("kCore: K4 with a pendant tail — the 2-core is exactly K4") {
    import spark.implicits._
    val ns = Seq("a", "b", "c", "d")
    val k4 = for (x <- ns; y <- ns if x < y) yield (x, y)
    // pendant chain e-a plus a detached edge f-g: all peel away at k=2
    val e = (k4 ++ Seq(("e", "a"), ("f", "g"))).toDF("s", "d")
    val core = triRows0(Graph.kCore(e, "s", "d", k = 2, rounds = 3))
    assert(core == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  private def triRows0(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("kCore: cascade — removing a leaf can expose the next node; fixpoint is stable") {
    import spark.implicits._
    // path a-b-c-d plus triangle d-x-y(-d): 2-core = the triangle, but
    // only after the path peels one node per round (a, then b, then c)
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"),
      ("d", "x"), ("x", "y"), ("y", "d")).toDF("s", "d")
    // one round is NOT enough — b and c still look degree-2 initially
    val r1 = triRows0(Graph.kCore(e, "s", "d", 2, 1))
    assert(r1.contains("b") || r1.contains("c"),
      "a single round cannot finish the cascade")
    val r5 = triRows0(Graph.kCore(e, "s", "d", 2, 5))
    assert(r5 == Map("d" -> 2L, "x" -> 2L, "y" -> 2L))
    // monotone: extra rounds past the fixpoint are no-ops
    assert(triRows0(Graph.kCore(e, "s", "d", 2, 10)) == r5)
  }

  test("kCore: k above the max degree empties the graph; rounds = 0 returns input degrees") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("s", "d")
    assert(Graph.kCore(e, "s", "d", 5, 3).isEmpty)
    assert(triRows0(Graph.kCore(e, "s", "d", 2, 0)) ==
      Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("triangleCounts: triangle-free star counts zero; partitioning-invariant") {
    import spark.implicits._
    val star = Seq(("h", "a"), ("h", "b"), ("h", "c"), ("h", "d")).toDF("s", "d")
    val t = triRows(Graph.triangleCounts(star, "s", "d"))
    assert(t("h") == ((4L, 0L, 0.0)))
    assert(Seq("a", "b", "c", "d").forall(n => t(n) == ((1L, 0L, 0.0))))
    assert(triRows(Graph.triangleCounts(star.repartition(5), "s", "d")) == t)
  }

  private def hitsRows(df: org.apache.spark.sql.DataFrame): Map[String, (Double, Double)] =
    df.collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap

  test("hits: two L1 rounds on a hand-traced bipartite graph") {
    import spark.implicits._
    // a -> c, b -> c, b -> d. N = 4, h0 = 1/4 each.
    // auth1 raw: c = 1/2, d = 1/4, tot 3/4  -> c = 2/3, d = 1/3
    // hub1 raw:  a = 2/3, b = 1,   tot 5/3  -> a = 2/5, b = 3/5
    // auth2 raw: c = 1,   d = 3/5, tot 8/5  -> c = 5/8, d = 3/8
    // hub2 raw:  a = 5/8, b = 1,   tot 13/8 -> a = 5/13, b = 8/13
    val e = Seq(("a", "c"), ("b", "c"), ("b", "d")).toDF("src", "dst")
    val h = hitsRows(Graph.hits(e, "src", "dst", 2))
    assert(h.keySet == Set("a", "b", "c", "d"))
    assert(math.abs(h("c")._1 - 5.0 / 8) < 1e-12 && math.abs(h("d")._1 - 3.0 / 8) < 1e-12)
    assert(math.abs(h("a")._2 - 5.0 / 13) < 1e-12 && math.abs(h("b")._2 - 8.0 / 13) < 1e-12)
    // bipartite sources hold no authority, sinks no hub score
    assert(h("a")._1 == 0.0 && h("b")._1 == 0.0)
    assert(h("c")._2 == 0.0 && h("d")._2 == 0.0)
    // L1 normalization: each score vector sums to 1
    assert(math.abs(h.values.map(_._1).sum - 1.0) < 1e-12)
    assert(math.abs(h.values.map(_._2).sum - 1.0) < 1e-12)
  }

  test("hits: duplicate edges collapse; iterations = 0 is the uniform hub start") {
    import spark.implicits._
    val e = Seq(("a", "c"), ("a", "c"), ("b", "c"), ("b", "d")).toDF("src", "dst")
    val h2 = hitsRows(Graph.hits(e, "src", "dst", 2))
    assert(math.abs(h2("c")._1 - 5.0 / 8) < 1e-12,
      "a duplicated endorsement must not change the ranking")
    val h0 = hitsRows(Graph.hits(e, "src", "dst", 0))
    assert(h0.values.forall { case (a, hb) => a == 0.0 && math.abs(hb - 0.25) < 1e-12 })
  }

  test("hits: mutual reinforcement ranks a supplier cited by the better hub higher") {
    import spark.implicits._
    // hubs: h1 cites {s1, s2}; h2 cites {s2, s3}; h3 cites {s3}.
    // s2 is cited by two strong hubs, s3 by one strong + one weak —
    // after two rounds auth(s2) > auth(s3) > auth(s1) despite s2 and
    // s3 sharing in-degree 2
    val e = Seq(("h1", "s1"), ("h1", "s2"), ("h2", "s2"), ("h2", "s3"), ("h3", "s3"))
      .toDF("src", "dst")
    val h = hitsRows(Graph.hits(e, "src", "dst", 2))
    assert(h("s2")._1 > h("s3")._1 && h("s3")._1 > h("s1")._1)
  }

  test("hits: deterministic across partitionings") {
    import spark.implicits._
    val e = (0 until 60).map(i => (s"p${i % 7}", s"s${i % 11}")).toDF("src", "dst")
    val a = hitsRows(Graph.hits(e, "src", "dst", 2))
    val b = hitsRows(Graph.hits(e.repartition(13), "src", "dst", 2))
    assert(a.keySet == b.keySet)
    a.foreach { case (k, (au, hu)) =>
      assert(math.abs(au - b(k)._1) < 1e-9 && math.abs(hu - b(k)._2) < 1e-9)
    }
  }

  /** `build` at the default gates and [[atScale]]: same schema, same
    * rows by id, doubles equal up to the order of the floating-point
    * sums. Below the node-state gate pageRank and kCore run on driver
    * arrays, hits, labelPropagation and triangleCounts broadcast their
    * node state; the at-scale tier is the SQL path. Returns the
    * default-tier result.
    */
  private def sameTiers(build: => DataFrame): DataFrame = {
    val small = build
    val large = atScale(build)
    assert(small.schema == large.schema)
    def byId(df: DataFrame): Map[Any, Seq[Any]] = df.collect().map { r =>
      val vs = r.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case other => other
      }
      vs.head -> vs.tail
    }.toMap
    val (a, s) = (byId(small), byId(large))
    assert(a.size == small.count() && a.keySet == s.keySet)
    for ((id, row) <- a; (v, w) <- row.zip(s(id))) (v, w) match {
      case (x: Double, y: Double) =>
        assert(math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(x)), s"$id: $row vs ${s(id)}")
      case _ => assert(v == w, s"$id: $row vs ${s(id)}")
    }
    small
  }

  /** The driver-array tier's frame carries its row count. */
  private def measured(df: DataFrame): Unit =
    assert(df.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(df.count())))

  /** Long, string and binary ids over one graph: hubs, chains, dangling
    * sinks (50..60 have no out-edges), duplicate edges and self-loops.
    */
  private def idVariants(raw: Seq[(Long, Long)]): Seq[DataFrame] = {
    import spark.implicits._
    Seq(raw.toDF("s", "d"),
      raw.map { case (a, b) => (s"n$a", s"n$b") }.toDF("s", "d"),
      raw.map { case (a, b) => (Array(a.toByte), Array(b.toByte)) }.toDF("s", "d"))
  }

  private val mixed: Seq[(Long, Long)] =
    (0L until 300L).map(i => (i % 50, (i * 37 + 11) % 61)) ++
      Seq((3L, 3L), (7L, 7L), (1L, 2L), (1L, 2L), (2L, 1L))

  test("pageRank: the array path equals the SQL path") {
    import spark.implicits._
    def check(e: DataFrame, iterations: Int): Unit =
      measured(sameTiers(Graph.pageRank(e, "s", "d", iterations)))
    for (e <- idVariants(mixed); iterations <- Seq(0, 1, 4)) check(e, iterations)
    // a null id is a node: it gets only the teleport term, it passes no
    // rank on, and the edge a -> null still counts in a's out-degree
    val withNulls = Seq[(String, String)](("a", "b"), ("a", null), ("b", "a"),
      (null, "b"), ("c", null)).toDF("s", "d")
    for (iterations <- Seq(0, 2)) check(withNulls, iterations)
    // more partitions than nodes
    check(Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d").repartition(16), 3)
    graft.Caches.unpersistAll()
  }

  test("kCore: the array path equals the SQL path") {
    import spark.implicits._
    def check(e: DataFrame, k: Int, rounds: Int): Unit =
      measured(sameTiers(Graph.kCore(e, "s", "d", k, rounds)))
    for (e <- idVariants(mixed); (k, rounds) <- Seq((3, 0), (9, 1), (9, 3), (12, 2), (99, 2)))
      check(e, k, rounds)
    // the cascade graph, plus a null endpoint (dropped like a self-loop)
    val cascade = Seq[(String, String)](("a", "b"), ("b", "c"), ("c", "d"), ("d", "x"),
      ("x", "y"), ("y", "d"), ("d", "d"), ("e", null)).toDF("s", "d")
    for (rounds <- 0 to 4) check(cascade, 2, rounds)
    // more partitions than nodes
    check(Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d").repartition(16), 2, 2)
    graft.Caches.unpersistAll()
  }

  test("hits, labelPropagation and triangleCounts: both tiers agree") {
    for (e <- idVariants(mixed)) {
      for (iterations <- Seq(0, 1, 3)) {
        sameTiers(Graph.hits(e, "s", "d", iterations))
        sameTiers(Graph.labelPropagation(e, "s", "d", iterations))
      }
      sameTiers(Graph.triangleCounts(e, "s", "d"))
      graft.Caches.unpersistAll()
    }
  }

  test("pageRank and kCore describe each round's jobs; below the gate a round is one job") {
    import spark.implicits._
    val e = mixed.toDF("s", "d")
    val prArrays = perRound(jobsOf(Graph.pageRank(e, "s", "d", 3)), "pageRank")
    assert(prArrays.keySet == Set(0, 1, 2, 3) && (1 to 3).forall(prArrays(_) == 1), prArrays)
    val prSql = perRound(jobsOf(atScale(Graph.pageRank(e, "s", "d", 3))), "pageRank")
    assert(prSql.keySet == Set(0, 1, 2, 3), prSql)
    // k = 9 peels in both rounds on this graph
    val kcArrays = perRound(jobsOf(Graph.kCore(e, "s", "d", 9, 2)), "kCore")
    assert(kcArrays.keySet == Set(0, 1, 2) && (1 to 2).forall(kcArrays(_) == 1), kcArrays)
    val kcSql = perRound(jobsOf(atScale(Graph.kCore(e, "s", "d", 9, 2))), "kCore")
    assert(kcSql.keySet == Set(0, 1, 2), kcSql)
    graft.Caches.unpersistAll()
  }

  test("hits and labelPropagation describe each round's jobs on both tiers") {
    import spark.implicits._
    val e = mixed.toDF("s", "d")
    for (tier <- Seq[(=> DataFrame) => DataFrame](df => df, df => atScale(df))) {
      val h = perRound(jobsOf(tier(Graph.hits(e, "s", "d", 3))), "hits")
      assert(h.keySet == Set(0, 1, 2, 3), h)
      val lp = perRound(jobsOf(tier(Graph.labelPropagation(e, "s", "d", 3))), "labelPropagation")
      assert(lp.keySet == Set(0, 1, 2, 3), lp)
    }
    graft.Caches.unpersistAll()
  }

  test("all five operators on degenerate edge lists: no throw, the usual schema, the expected rows") {
    import spark.implicits._
    def edges(es: (String, String)*): DataFrame = es.toDF("s", "d")
    val ops = Seq[(String, (DataFrame, Int) => DataFrame)](
      "pageRank" -> ((e, r) => Graph.pageRank(e, "s", "d", r)),
      "hits" -> ((e, r) => Graph.hits(e, "s", "d", r)),
      "labelPropagation" -> ((e, r) => Graph.labelPropagation(e, "s", "d", r)),
      "kCore" -> ((e, r) => Graph.kCore(e, "s", "d", 1, r)),
      "triangleCounts" -> ((e, _) => Graph.triangleCounts(e, "s", "d")))
    val triangle = edges(("a", "b"), ("b", "c"), ("c", "a"))
    def none: Map[Any, Seq[Any]] = Map.empty
    // expected rows by id, per operator in `ops`' order, at 0 and at 2 rounds
    val cases = Seq[(String, DataFrame, Int => Seq[Map[Any, Seq[Any]]])](
      ("empty", edges(), _ => Seq.fill(5)(none)),
      // a null id is a node no edge reaches: the teleport-only rank, no
      // authority or hub after a round, its own (null) label
      ("all-null", edges((null, null), (null, null)), r => Seq(
        Map((null: Any) -> Seq(if (r == 0) 1.0 else 0.15)),
        Map((null: Any) -> Seq(0.0, if (r == 0) 1.0 else 0.0)),
        Map((null: Any) -> Seq(null)), none, none)),
      ("self-loop", edges(("a", "a")), r => Seq(
        Map("a" -> Seq(1.0)),
        Map("a" -> Seq(if (r == 0) 0.0 else 1.0, 1.0)),
        Map("a" -> Seq("a")), none, none)),
      ("single edge", edges(("a", "b")), r => Seq(
        if (r == 0) Map("a" -> Seq(0.5), "b" -> Seq(0.5))
        else Map("a" -> Seq(0.075), "b" -> Seq(0.075 + 0.85 * 0.075)),
        if (r == 0) Map("a" -> Seq(0.0, 0.5), "b" -> Seq(0.0, 0.5))
        else Map("a" -> Seq(0.0, 1.0), "b" -> Seq(1.0, 0.0)),
        Map("a" -> Seq(if (r == 0) "a" else "b"), "b" -> Seq("b")),
        Map("a" -> Seq(1L), "b" -> Seq(1L)),
        Map("a" -> Seq(1L, 0L, 0.0), "b" -> Seq(1L, 0L, 0.0)))))
    for ((fixture, e, expected) <- cases; rounds <- Seq(0, 2);
         ((name, op), want) <- ops.zip(expected(rounds))) {
      val what = s"$name, $fixture, $rounds rounds"
      val got = sameTiers(op(e, rounds))
      assert(got.schema == op(triangle, rounds).schema, what)
      assert(got.schema == op(triangle, 2).schema, s"$what, against 2 rounds")
      val rows = got.collect().map(r => r.get(0) -> r.toSeq.tail).toMap
      assert(rows.size == got.count() && rows.keySet == want.keySet, s"$what: $rows")
      for ((id, row) <- want; (w, v) <- row.zip(rows(id))) (w, v) match {
        case (x: Double, y: Double) => assert(math.abs(x - y) < 1e-12, s"$what: $rows")
        case _ => assert(w == v, s"$what: $rows")
      }
    }
    graft.Caches.unpersistAll()
  }
}
