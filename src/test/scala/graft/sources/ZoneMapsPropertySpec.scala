package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

/** Properties pinning the zone-map layer's one inviolable contract —
  * pruning is INVISIBLE: for any data distribution (including
  * supplementary-plane strings, where parquet's UTF-8 byte order and
  * Java's UTF-16 order disagree — the round-5 demotion fix) and any
  * range predicate, the pruned read returns exactly the plain read's
  * rows. Each case writes real parquet and harvests real footer stats,
  * so the whole chain (stats → manifest → selectFiles → scan) is under
  * test, not just the comparison arithmetic.
  */
object ZoneMapsPropertySpec extends Properties("zonemaps") {

  // every case writes + reads a real parquet dir: keep the count modest
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = SparkSpec.session

  // strings mixing ASCII with BMP-accented and supplementary-plane
  // (emoji) characters — the corpus shape that broke string pruning
  private val charPool: Gen[String] =
    Gen.oneOf("a", "B", "z", "0", "~", "é", "ß", "😀", "🤖")
  private val strGen: Gen[String] =
    Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, charPool).map(_.mkString))

  private val longData: Gen[(List[Long], Long, Long)] = for {
    vals <- Gen.nonEmptyListOf(Gen.choose(-1000L, 1000L))
    a <- Gen.choose(-1200L, 1200L)
    b <- Gen.choose(-1200L, 1200L)
  } yield (vals, math.min(a, b), math.max(a, b))

  private val strData: Gen[(List[String], String, String)] = for {
    vals <- Gen.nonEmptyListOf(strGen)
    a <- strGen
    b <- strGen
  } yield (vals, if (a <= b) a else b, if (a <= b) b else a)

  property("FileIndex scan == plain scan for ANY long data + range") =
    Prop.forAll(longData) { case (vals, lo, hi) =>
      import spark.implicits._
      val path = java.nio.file.Files.createTempDirectory("zmprop").toString
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("rid", "v")
        .repartitionByRange(math.min(4, vals.size), col("v"))
      ZoneMaps.writeWithZoneMap(df, path, Seq("v"))
      val expected = spark.read.parquet(path)
        .filter(col("v") >= lo && col("v") <= hi)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val got = ZoneMapFileIndex.read(spark, path)
        .filter(col("v") >= lo && col("v") <= hi)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      got == expected
    }

  property("FileIndex scan == plain scan for ANY string corpus + range (non-ASCII demotes, never drops)") =
    Prop.forAll(strData) { case (vals, lo, hi) =>
      import spark.implicits._
      val path = java.nio.file.Files.createTempDirectory("zmprop_s").toString
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("rid", "s")
        .repartitionByRange(math.min(4, vals.size), col("s"))
      ZoneMaps.writeWithZoneMap(df, path, Seq("s"))
      val expected = spark.read.parquet(path)
        .filter(col("s") >= lo && col("s") <= hi)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val got = ZoneMapFileIndex.read(spark, path)
        .filter(col("s") >= lo && col("s") <= hi)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      got == expected
    }

  // ---- random conjunctive predicate TREES through the FileIndex ----
  // The Catalyst→zone translation (ZoneMapFileIndex.toZoneFilter) sees
  // whatever conjunct shapes the planner hands it: attr-op-literal and
  // literal-op-attr across five comparison ops and three column types,
  // plus shapes it must IGNORE (disjunctions). Hand-picked shapes
  // can't cover that cross-product; these trees do.

  /** One zone-mapped table shared by every tree case: long/double/string
    * columns, range-clustered on v so v- and f-zones are tight and
    * s-zones mix ASCII with demoted non-ASCII bounds.
    */
  private lazy val treeTable: String = {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("zmprop_tree").toString
    val rnd = new scala.util.Random(42)
    val pool = Vector("a", "B", "z", "0", "~", "é", "ß", "😀", "🤖")
    val rows = (0 until 400).map { i =>
      val v = -100L + rnd.nextInt(201)
      val f = v * 0.3 + rnd.nextInt(10) / 10.0
      val s = (0 to rnd.nextInt(3)).map(_ => pool(rnd.nextInt(pool.size))).mkString
      (i.toLong, v, f, s)
    }
    val df = rows.toDF("rid", "v", "f", "s").repartitionByRange(6, col("v"))
    ZoneMaps.writeWithZoneMap(df, path, Seq("v", "f", "s"))
    path
  }

  private val atomGen: Gen[org.apache.spark.sql.Column] = for {
    colIdx <- Gen.choose(0, 2)
    opIdx <- Gen.choose(0, 4)
    flip <- Gen.oneOf(true, false)
    lLong <- Gen.choose(-120L, 120L)
    lDbl <- Gen.choose(-40.0, 40.0)
    lStr <- strGen
  } yield {
    val (c, l) = colIdx match {
      case 0 => (col("v"), lit(lLong))
      case 1 => (col("f"), lit(lDbl))
      case _ => (col("s"), lit(lStr))
    }
    val (a, b) = if (flip) (l, c) else (c, l)
    opIdx match {
      case 0 => a >= b
      case 1 => a > b
      case 2 => a <= b
      case 3 => a < b
      case _ => a === b
    }
  }

  private val treeGen: Gen[org.apache.spark.sql.Column] = for {
    n <- Gen.choose(1, 4)
    atoms <- Gen.listOfN(n, atomGen)
    withOr <- Gen.oneOf(true, false)
    orA <- atomGen
    orB <- atomGen
  } yield {
    val base = atoms.reduce(_ && _)
    // a disjunctive conjunct is untranslatable by design: it must pass
    // through as "keep everything this conjunct can't rule out"
    if (withOr) base && (orA || orB) else base
  }

  property("FileIndex scan == plain scan for ANY conjunctive predicate tree (5 trees/case)") =
    Prop.forAll(Gen.listOfN(5, treeGen)) { preds =>
      val plain = spark.read.parquet(treeTable)
      val indexed = ZoneMapFileIndex.read(spark, treeTable)
      preds.forall { pred =>
        val expected = plain.filter(pred).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
          .sorted.toSeq
        val got = indexed.filter(pred).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
          .sorted.toSeq
        got == expected
      }
    }
}
