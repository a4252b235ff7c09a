package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {

  private def z(x: Long, y: Long, bits: Int = 16): Long = {
    import spark.implicits._
    Seq((x, y)).toDF("x", "y")
      .select(Layout.zValue2(col("x"), col("y"), bits)).collect()(0).getLong(0)
  }

  test("zValue2: exact interleave on known cases") {
    assert(z(0, 0) == 0L)
    assert(z(1, 0) == 1L)          // x bit 0 -> position 0
    assert(z(0, 1) == 2L)          // y bit 0 -> position 1
    assert(z(3, 0) == 5L)          // 0b11 -> 0b0101
    assert(z(0, 3) == 10L)         // 0b11 -> 0b1010
    assert(z(0xFFFF, 0xFFFF) == 0xFFFFFFFFL)
    // masking: out-of-range wraps instead of corrupting the interleave
    assert(z(0x10001, 0, 16) == 1L)
  }

  test("zValue2 round-trips: de-interleaving recovers (x, y)") {
    val rng = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val x = rng.nextInt(1 << 16).toLong
      val y = rng.nextInt(1 << 16).toLong
      val zv = z(x, y)
      var (rx, ry) = (0L, 0L)
      (0 until 16).foreach { i =>
        rx |= ((zv >> (2 * i)) & 1L) << i
        ry |= ((zv >> (2 * i + 1)) & 1L) << i
      }
      assert(rx == x && ry == y, s"($x,$y) -> $zv -> ($rx,$ry)")
    }
  }

  test("zorderBy clusters BOTH dimensions: per-partition envelopes are tiles") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val pts = (1 to 20000).map(_ => (rng.nextInt(1 << 12).toLong, rng.nextInt(1 << 12).toLong))
    val df = pts.toDF("x", "y")
    val parts = Layout.zorderBy(df, "x", "y", bits = 12, numPartitions = 16)
      .mapPartitions { it =>
        val rows = it.map(r => (r.getLong(0), r.getLong(1))).toSeq
        if (rows.isEmpty) Iterator.empty
        else Iterator.single((rows.map(_._1).min, rows.map(_._1).max,
          rows.map(_._2).min, rows.map(_._2).max, rows.size))
      }(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaInt))
      .collect()
    // a plain sort on x gives every partition a FULL-range y envelope
    // (~4096); Z-order must bound the AVERAGE envelope on both axes well
    // below that — the data-skipping win this layout exists for
    val full = (1 << 12).toDouble
    val avgX = parts.map(p => (p._2 - p._1).toDouble).sum / parts.length
    val avgY = parts.map(p => (p._4 - p._3).toDouble).sum / parts.length
    assert(avgX < full * 0.8 && avgY < full * 0.8,
      s"z-order should tile both axes: avgX=$avgX avgY=$avgY of $full")
    assert(avgX + avgY < full * 1.2,
      s"combined envelope should beat single-axis sort: $avgX + $avgY")
  }

  test("engine and generated-SQL formulas agree (the q54 oracle contract)") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i * 7 % 300, i * 13 % 300)).toDF("x", "y")
    df.createOrReplaceTempView("pts")
    val viaSql = spark.sql(
      s"SELECT x, y, ${Layout.zValue2Sql("x", "y", 12)} AS z FROM pts")
    val viaCol = df.select(col("x"), col("y"),
      Layout.zValue2(col("x"), col("y"), 12).as("z"))
    assert(rowsOf(viaSql) == rowsOf(viaCol))
  }

  // independent local reference for the Hilbert walk
  private def hilbertLocal(bits: Int, x0: Long, y0: Long): Long = {
    val mask = (1L << bits) - 1
    var x = x0 & mask
    var y = y0 & mask
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      x &= s - 1; y &= s - 1
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  private def gridWithH(bits: Int): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    val n = 1L << bits
    val df = (for (x <- 0L until n; y <- 0L until n) yield (x, y)).toDF("x", "y")
    df.withColumn("h", Layout.hilbertValue2(col("x"), col("y"), bits))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }

  test("hilbert2: bijective over the grid, EVERY consecutive pair grid-adjacent, matches reference") {
    val bits = 5
    val pts = gridWithH(bits)
    pts.foreach { case (x, y, h) => assert(h == hilbertLocal(bits, x, y)) }
    val byD = pts.map { case (x, y, h) => h -> ((x, y)) }.toMap
    val n2 = 1L << (2 * bits)
    assert(byD.keySet == (0L until n2).toSet, "indices must be a bijection")
    // THE Hilbert property Morton lacks: each step moves one cell
    (0L until n2 - 1).foreach { d =>
      val (x0, y0) = byD(d)
      val (x1, y1) = byD(d + 1)
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1,
        s"step $d: ($x0,$y0) -> ($x1,$y1) is not adjacent")
    }
  }

  test("hilbert2: generated unrolled SQL == codegen'd expression (the q140 oracle contract)") {
    import spark.implicits._
    val df = (0L until 400L).map(i => (i * 7 % 100, i * 13 % 100)).toDF("x", "y")
    df.createOrReplaceTempView("hpts")
    val viaSql = spark.sql(
        Layout.hilbertSqlLevels(Seq("x", "y"), "x", "y", 7, "hpts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val viaExpr = df.withColumn("h", Layout.hilbertValue2(col("x"), col("y"), 7))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(viaSql == viaExpr)
  }

  test("hilbert2: two instances inline into one projection (codegen freshName hygiene)") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i % 32, (i * 11) % 32)).toDF("x", "y")
    val rows = df.select(col("x"), col("y"),
        Layout.hilbertValue2(col("x"), col("y"), 5).as("h5"),
        Layout.hilbertValue2(col("y"), col("x"), 4).as("h4"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) == hilbertLocal(5, r.getLong(0), r.getLong(1)))
      assert(r.getLong(3) == hilbertLocal(4, r.getLong(1), r.getLong(0)))
    }
  }

  test("hilbert tiles are tighter than z-order: smaller bounding boxes per contiguous range") {
    val bits = 5
    val n = 1 << bits
    // 100-cell ranges deliberately MISALIGN with the power-of-4 quadrant
    // structure — aligned ranges tile identically on both curves; real
    // file boundaries land by size, not by quadrant
    def bboxAreaSum(order: Seq[(Long, Long)]): Long =
      order.grouped(100).map { tile =>
        val xs = tile.map(_._1)
        val ys = tile.map(_._2)
        (xs.max - xs.min + 1) * (ys.max - ys.min + 1)
      }.sum
    def mortonLocal(x: Long, y: Long): Long =
      (0 until bits).foldLeft(0L)((r, i) =>
        r | (((x >> i) & 1) << (2 * i)) | (((y >> i) & 1) << (2 * i + 1)))
    val hOrder = gridWithH(bits).sortBy(_._3).map(t => (t._1, t._2))
    val zOrder = (for (x <- 0L until n; y <- 0L until n) yield (x, y))
      .sortBy { case (x, y) => mortonLocal(x, y) }
    val hArea = bboxAreaSum(hOrder)
    val zArea = bboxAreaSum(zOrder)
    assert(hArea < zArea,
      s"hilbert tiles ($hArea) should beat z-order tiles ($zArea)")
  }

  private def shuffleOrder(seed: String, parts: Int = 1): Seq[(Long, Long)] = {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, s"doc $i")).toDF("id", "text")
    Layout.seededShuffle(if (parts > 1) df.repartition(parts) else df, "id", seed)
      .select("id", "position").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
  }

  test("seededShuffle: positions are a 0-based permutation matching the md5 window order") {
    import spark.implicits._
    val got = shuffleOrder("ep0")
    assert(got.map(_._2).sorted == (0L until 500L), "must be a permutation of 0..n-1")
    // the declarative restatement (the q135 oracle shape) must agree
    val expected = (0L until 500L).map(i => (i, s"doc $i")).toDF("id", "text")
      .select(col("id"), (row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(md5(concat(lit("ep0:"), col("id").cast("string"))), col("id")))
        .cast("long") - 1).as("position"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(got == expected)
  }

  test("seededShuffle: partitioning-invariant; a new seed is a genuinely different order") {
    val a = shuffleOrder("ep0")
    assert(shuffleOrder("ep0", parts = 13) == a, "same seed ⇒ same permutation")
    val b = shuffleOrder("ep1")
    assert(a != b, "new epoch seed must re-permute")
    // and not a near-identity drift: most docs must actually move
    val moved = a.zip(b).count { case ((_, p0), (_, p1)) => p0 != p1 }
    assert(moved > 450, s"only $moved of 500 positions changed")
  }
}
