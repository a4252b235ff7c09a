package graft

import graft.operators.{Components, Graph}

/** The iteration loops' shared lineage cut, [[Caches.checkpoint]]:
  * measured statistics keep every loop's size estimate flat over its
  * rounds, and the scope that materializes the results frees every
  * block the loops persisted or checkpointed.
  */
class CheckpointSpec extends SparkSpec {

  test("iteration loops keep size estimates flat and leave nothing persisted after their scope") {
    import spark.implicits._
    val sc = spark.sparkContext
    // the ComponentsSpec permutation graph: cycles, a star, singletons
    val pairs = ((0L until 150L).map(i => (i, (i * 37 + 11) % 150)) ++
      (200L until 230L).map(i => (i, 200L))).toDF("id_a", "id_b")
    val all = (0L until 260L).toDF("node")
    val sym = pairs.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionByName(pairs.select($"id_b".as("src"), $"id_a".as("dst")))
    // every RDD created inside the scope gets a higher id than this one
    val firstRdd = sc.emptyRDD[Int].id
    Caches.withScope {
      val results = Seq(
        "pageRank" -> Graph.pageRank(sym, "src", "dst", 30),
        "hits" -> Graph.hits(sym, "src", "dst", 30),
        "labelPropagation" -> Graph.labelPropagation(sym, "src", "dst", 30),
        "kCore" -> Graph.kCore(sym, "src", "dst", 2, 30),
        "connectedComponents" -> Components.connectedComponents(pairs, "id_a", "id_b",
          allIds = all, idCol = "node", maxIterations = 100, driverSideLimit = 0L))
      results.foreach { case (name, df) =>
        val bits = df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
        assert(bits < 64, s"$name: size estimate grew to $bits bits")
        assert(df.count() > 0, name)
      }
    }
    val left = sc.getPersistentRDDs.keys.filter(_ > firstRdd).toSeq.sorted
    assert(left.isEmpty, s"RDDs still persisted after scope close: $left")
  }
}
