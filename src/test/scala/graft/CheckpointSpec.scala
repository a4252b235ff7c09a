package graft

import graft.operators.{Components, Graph}
import org.apache.spark.sql.DataFrame

/** The iteration loops' shared lineage cut, [[Caches.checkpoint]]:
  * measured statistics keep every loop's size estimate flat over its
  * rounds, every round after the first runs the same jobs, and the
  * scope that materializes the results frees every block the loops
  * persisted or checkpointed. Checked at the default gates and
  * [[atScale]], where pageRank, kCore and connectedComponents run
  * their SQL loops too; connectedComponents runs to its fixpoint, the
  * others 30 rounds.
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
    val loops = Seq[(String, () => DataFrame)](
      "pageRank" -> (() => Graph.pageRank(sym, "src", "dst", 30)),
      "hits" -> (() => Graph.hits(sym, "src", "dst", 30)),
      "labelPropagation" -> (() => Graph.labelPropagation(sym, "src", "dst", 30)),
      "kCore" -> (() => Graph.kCore(sym, "src", "dst", 2, 30)),
      "connectedComponents" -> (() => Components.connectedComponents(pairs, "id_a", "id_b",
        allIds = all, idCol = "node")))
    for (scale <- Seq(false, true)) {
      // every RDD created inside the scope gets a higher id than this one
      val firstRdd = sc.emptyRDD[Int].id
      Caches.withScope {
        for ((name, build) <- loops) {
          val what = s"$name${if (scale) " at scale" else ""}"
          var df: DataFrame = null
          val rounds = perRound(jobsOf { df = if (scale) atScale(build()) else build() }, name)
          // a per-round cost that wall time cannot blur: jobs per round
          // stay flat (a plan that grows by a shuffle per round adds a
          // job per round). Round 0 sets the loop up, and round 1 also
          // computes what the loop persisted lazily (pageRank's
          // degree-joined edge list). The slack of one job: an AQE stage
          // that reads a persisted table runs no job when another stage
          // has already materialized it, which is a race (hits' `raw`)
          val later = rounds.filter(_._1 >= 2).values
          assert(later.isEmpty || later.max - later.min <= 1, s"$what: jobs per round $rounds")
          if (scale && name == "connectedComponents") {
            // runs to its fixpoint: at least 2 rounds, at most 2·⌈log2 260⌉
            // for the 260 nodes, and fewer jobs in all than the 205 of the
            // hash-to-min loop it replaced (25 rounds of 8 jobs, plus 5)
            assert(rounds.keys.max >= 2 && rounds.keys.max <= 18, s"$what: rounds $rounds")
            assert(rounds.values.sum < 205, s"$what: jobs per round $rounds")
          } else if (scale) assert(rounds.size > 20, s"$what ran ${rounds.size} rounds")
          val bits = df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
          assert(bits < 64, s"$what: size estimate grew to $bits bits")
          assert(df.count() > 0, what)
        }
      }
      val left = sc.getPersistentRDDs.keys.filter(_ > firstRdd).toSeq.sorted
      assert(left.isEmpty, s"RDDs still persisted after scope close (atScale=$scale): $left")
    }
  }
}
