package graft

import org.apache.spark.sql.SparkSession

/** The size gates whose two sides compute the same answer: below a gate
  * an operator keeps state on the driver or broadcasts it; above it,
  * nothing that size leaves the executors. Each call site measures its
  * own size and asks [[under]]; the operators tell each tier's story.
  *
  * One session conf, [[AtScaleTiers]] (default `false`), sends every
  * gate to its at-scale side, so the oracle, the bench and the specs can
  * run the 100 TB paths on small data. An operator reads it when it is
  * called, so a built plan keeps its tier. A
  * `-Dspark.graft.atScaleTiers=true` JVM property reaches the session,
  * like any `spark.*` property.
  */
object Gates {

  val AtScaleTiers = "spark.graft.atScaleTiers"

  /** Node-sized state on the driver and in broadcasts: ~200 MB of
    * id + value rows, or a 32 MB `double[n]` partial per task. Measured
    * in nodes (2·edges before kCore's first peel; n·(d+1) doubles of
    * logisticGd's training matrix).
    */
  val NodeState: Long = 4000000L

  /** triangleCounts' oriented adjacency broadcast: one long per edge,
    * ~130 MB plus row overhead at the gate. Measured in edges.
    */
  val AdjacencyEdges: Long = 8000000L

  /** connectedComponents' union-find over the edge rows it collects:
    * each pair once as (a, b) with a < b, null ids and self-loops
    * dropped. Measured in those rows.
    */
  val UnionFindEdges: Long = 5000000L

  /** The dense-block pair join's build-side broadcast, in estimated bytes. */
  val DenseBlockBytes: Long = 128L * 1024 * 1024

  /** `size <= gate`, unless the session's switch is on; then `size` is
    * not computed.
    */
  def under(spark: SparkSession, size: => Long, gate: Long): Boolean =
    !spark.conf.get(AtScaleTiers, "false").toBoolean && size <= gate
}
