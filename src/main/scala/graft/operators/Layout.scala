package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Multi-dimensional data layout: Z-order (Morton) clustering, the
  * standard data-skipping lever for tables queried on TWO selective
  * columns at once. A sort on (a, b) clusters a perfectly and b not at
  * all; writing in Z-value order gives every file/row-group a tight
  * min/max envelope on BOTH columns, so predicate pushdown on either
  * (or both) prunes most of a 100 TB table's files without reading
  * them. No reference implementation (the reference coalesces by count
  * only); semantics follow the publicly documented Delta/Iceberg
  * OPTIMIZE ZORDER approach — but expressed as plain Spark: a pure
  * bit-interleave Column (codegen'd built-ins only: shifts, masks, OR)
  * plus `repartitionByRange` + `sortWithinPartitions`.
  */
object Layout {

  /** Morton Z-value of two non-negative int columns at `bits` bits each:
    * bit i of `x` lands at position 2i, bit i of `y` at 2i+1. Values are
    * masked to `bits` bits first, so out-of-range inputs wrap rather
    * than corrupt neighbours' interleave. Pure expression — foldable
    * shifts and masks, stays in whole-stage codegen.
    */
  def zValue2(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val xm = x.cast("long").bitwiseAND((1L << bits) - 1)
    val ym = y.cast("long").bitwiseAND((1L << bits) - 1)
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(xm, i).bitwiseAND(1L), 2 * i))
        .bitwiseOR(shiftleft(shiftright(ym, i).bitwiseAND(1L), 2 * i + 1))
    }
  }

  /** The matching DuckDB/ANSI SQL expression text for [[zValue2]] —
    * generated from the same loop so the engine and any oracle compute
    * the identical interleave (used by the q54 correctness gate).
    */
  def zValue2Sql(x: String, y: String, bits: Int = 16): String = {
    val mask = (1L << bits) - 1
    // every operator parenthesized: shift/AND precedence differs between
    // SQL dialects, and this string must parse identically in Spark SQL
    // (spec cross-check) and DuckDB (oracle)
    val terms = (0 until bits).flatMap { i =>
      Seq(s"(((($x & $mask) >> $i) & 1) << ${2 * i})",
        s"(((($y & $mask) >> $i) & 1) << ${2 * i + 1})")
    }
    terms.mkString(" | ")
  }

  /** Rewrite `df` into Z-order on two int columns: range-partition by
    * the Z-value (so files cover disjoint Z ranges → disjoint (x, y)
    * tiles), sort within partitions, drop the helper column. Follow with
    * [[graft.sources.Tables.write]] — parquet min/max stats then carry
    * the clustering to every reader for free.
    */
  def zorderBy(df: DataFrame, xCol: String, yCol: String, bits: Int = 16,
               numPartitions: Int = 0): DataFrame = {
    val z = zValue2(col(xCol), col(yCol), bits)
    val withZ = df.withColumn("__z", z)
    val parted =
      if (numPartitions > 0) withZ.repartitionByRange(numPartitions, col("__z"))
      else withZ.repartitionByRange(col("__z"))
    parted.sortWithinPartitions(col("__z")).drop("__z")
  }

  /** Hilbert index of two integral columns at `bits` bits each — the
    * locality-preserving alternative to [[zValue2]]: consecutive
    * indices are ALWAYS grid-adjacent, so contiguous index ranges map
    * to compact tiles without Morton jumps (tighter per-file min/max
    * envelopes, spec-measured). Backed by the codegen'd
    * [[graft.expressions.HilbertIndex2]] expression.
    */
  def hilbertValue2(x: Column, y: Column, bits: Int = 16): Column =
    GraftFunctions.call("hilbert2", x, y, lit(bits))

  /** Rewrite `df` into Hilbert order on two int columns — [[zorderBy]]
    * with the adjacency-guaranteed walk.
    */
  def hilbertBy(df: DataFrame, xCol: String, yCol: String, bits: Int = 16,
                numPartitions: Int = 0): DataFrame = {
    val withH = df.withColumn("__h", hilbertValue2(col(xCol), col(yCol), bits))
    val parted =
      if (numPartitions > 0) withH.repartitionByRange(numPartitions, col("__h"))
      else withH.repartitionByRange(col("__h"))
    parted.sortWithinPartitions(col("__h")).drop("__h")
  }

  /** The SAME Hilbert arithmetic as engine-portable unrolled SQL (the
    * [[zValue2Sql]] / q54 oracle contract): wraps `from` (a table name
    * or parenthesized subquery exposing `x`, `y` and the `passthrough`
    * columns) in one nested SELECT per bit level, emitting the final
    * index as column `h`. Parses identically in Spark SQL (spec
    * cross-check) and DuckDB (oracle). Per level with side s: the
    * quadrant gray code adds to the index, coordinates reduce to the
    * quadrant, and the ry=0 rotation/reflection is a 3-way CASE.
    */
  def hilbertSqlLevels(passthrough: Seq[String], x: String, y: String,
                       bits: Int, from: String): String = {
    val mask = (1L << bits) - 1
    val pass = passthrough.mkString(", ")
    val sep = if (passthrough.isEmpty) "" else s"$pass, "
    var q = s"SELECT $sep(CAST($x AS BIGINT) & $mask) AS hx, " +
      s"(CAST($y AS BIGINT) & $mask) AS hy, CAST(0 AS BIGINT) AS hd FROM $from"
    for (level <- 0 until bits) {
      val s = 1L << (bits - 1 - level)
      val sm = s - 1
      q = s"""SELECT $sep
        | hd + ($s * $s) * (CASE WHEN (hx & $s) > 0 AND (hy & $s) > 0 THEN 2
        |                        WHEN (hx & $s) > 0 THEN 3
        |                        WHEN (hy & $s) > 0 THEN 1 ELSE 0 END) AS hd,
        | CASE WHEN (hy & $s) > 0 THEN (hx & $sm)
        |      WHEN (hx & $s) > 0 THEN $sm - (hy & $sm)
        |      ELSE (hy & $sm) END AS hx,
        | CASE WHEN (hy & $s) > 0 THEN (hy & $sm)
        |      WHEN (hx & $s) > 0 THEN $sm - (hx & $sm)
        |      ELSE (hx & $sm) END AS hy
        |FROM ($q) lvl$level""".stripMargin
    }
    s"SELECT ${sep}hd AS h FROM ($q) lvlout"
  }

  /** Deterministic global corpus shuffle — the pretraining-order
    * problem: a 100 TB corpus must be read in (pseudo)random document
    * order every epoch, but `ORDER BY rand()` is neither reproducible
    * nor resumable and a naive global sort of random keys re-shuffles
    * the whole corpus per epoch with no audit trail. Here the
    * permutation is a pure FUNCTION: sort key = md5(seed || ':' || id)
    * (id tie-break), so the order is reproducible from (seed, id)
    * alone — change the seed string per epoch for a fresh permutation,
    * re-derive any doc's position after a crash, and let two
    * independent jobs agree on the order without coordination.
    *
    * `out` is each row's 0-based global position, assigned by the
    * [[GroupOps]] two-phase prefix sum over a RANGE partitioning on
    * the shuffle key — one range shuffle, a partition-count-sized
    * offset array on the driver, never a single-partition window. The
    * result comes back range-partitioned and sorted by position, so
    * writing it immediately yields files a sequential trainer streams
    * in shuffled order.
    */
  def seededShuffle(df: DataFrame, idCol: String, seed: String,
                    out: String = "position"): DataFrame = {
    val keyCol = Iterator.from(0).map(i => s"__shuf$i")
      .find(!df.columns.contains(_)).get
    df.withColumn(keyCol,
        md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))))
      .transform(GroupOps.denseId(_, Seq(col(keyCol), col(idCol)), out, start = 0L))
      .drop(keyCol)
  }
}
