package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class QuantizeSpec extends SparkSpec {

  private def report(vecs: (Long, Seq[Float])*) = {
    import spark.implicits._
    Quantize.quantizeReport(vecs.toSeq.toDF("vec_id", "embedding"), "vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
  }

  test("known vector quantizes to expected codes") {
    // v = [1.27, -0.635, 0]: scale = 1.27/127 = 0.01, codes = [127, -64, 0]
    // (−63.5 rounds HALF_UP away from zero → −64)
    val m = report(1L -> Seq(1.27f, -0.635f, 0.0f))
    val (scale, qSum, qL1, maxErr) = m(1L)
    assert(math.abs(scale - 1.27f.toDouble / 127.0) < 1e-15)
    assert(qSum == 127 - 64 + 0)
    assert(qL1 == 127 + 64 + 0)
    // max error is the -0.635 slot: |-64·scale + 0.635| = scale/2
    assert(maxErr <= scale / 2 + 1e-12)
  }

  test("zero vector: scale 0, all-zero codes, zero error — no NaN") {
    val m = report(1L -> Seq(0.0f, 0.0f, 0.0f))
    assert(m(1L) == ((0.0, 0L, 0L, 0.0)))
  }

  test("error bound scale/2 holds on random vectors; codes stay in [-127,127]") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (1L to 50L).map(i => (i, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val rows = df.select(col("vec_id"),
        Quantize.absmaxScale(col("embedding")).as("s"),
        array_max(Quantize.quantizeInt8(col("embedding"))).as("qmax"),
        array_min(Quantize.quantizeInt8(col("embedding"))).as("qmin"),
        Quantize.maxAbsError(col("embedding")).as("err"))
      .collect()
    rows.foreach { r =>
      val (s, qmax, qmin, err) = (r.getDouble(1), r.getInt(2), r.getInt(3), r.getDouble(4))
      assert(qmax <= 127 && qmin >= -127)
      assert(err <= s / 2 + 1e-12)
    }
  }

  test("native kernel ≡ declarative HOF form on random, zero, and tie vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vecs = (1L to 40L).map(i => (i, Seq.fill(24)(rnd.nextFloat() * 4 - 2))) ++
      Seq((100L, Seq(0.0f, 0.0f)),              // zero vector
          (101L, Seq(1.27f, -0.635f, 0.635f)),  // exact .5 ties both signs
          (102L, Seq.empty[Float]))             // empty
    val df = vecs.toDF("vec_id", "embedding")
    val kernel = Quantize.quantizeReport(df, "vec_id", "embedding")
    val decl = Quantize.quantizeReportDeclarative(df, "vec_id", "embedding")
    assert(rowsOf(kernel) == rowsOf(decl))
  }

  test("two kernel instances in one projection compile under codegen") {
    import spark.implicits._
    val conf = spark.conf
    val prev = Seq("spark.sql.codegen.fallback", "spark.sql.codegen.factoryMode")
      .map(k => k -> conf.getOption(k))
    conf.set("spark.sql.codegen.fallback", "false")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = Seq((1L, Seq(0.5f, -0.25f), Seq(1.0f, 2.0f)))
        .toDF("vec_id", "a", "b")
      val out = df.select(
        call_function("quantize_int8_stats", col("a")).as("qa"),
        call_function("quantize_int8_stats", col("b")).as("qb"))
      assert(out.collect().length == 1)
    } finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("quantizeReport is map-side: no Exchange in the plan") {
    import spark.implicits._
    val df = Seq((1L, Seq(0.1f, 0.2f))).toDF("vec_id", "embedding")
    val rep = Quantize.quantizeReport(df, "vec_id", "embedding")
    rep.collect()
    assert(!rep.queryExecution.executedPlan.toString.contains("Exchange"))
  }
}
