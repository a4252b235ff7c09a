package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class JaroWinklerSpec extends SparkSpec {

  /** Expected values probed directly from DuckDB's
    * `jaro_winkler_similarity` (the oracle engine) — each case pins one
    * semantic choice: byte-view unicode, clamped window, integer-halved
    * transpositions, boost threshold/boundary, prefix cap.
    */
  private val duckdbPinned = Seq(
    ("", "", 0.0),                               // empty -> 0, not 1
    ("a", "", 0.0),
    ("abc", "abc", 1.0),
    ("a", "a", 1.0),                             // window clamps to 0, diagonal still matches
    ("ab", "ba", 0.0),                           // window 0: no off-diagonal matches
    ("martha", "marhta", 0.9611111111111111),    // classic Winkler example
    ("dixon", "dicksonx", 0.8133333333333332),   // prefix 2 boost
    ("jellyfish", "smellyfish", 0.8962962962962964), // j>0.7 but prefix 0: no boost
    ("dwayne", "duane", 0.8400000000000001),
    ("aa", "ab", 0.6666666666666666),            // j<=0.7: boost suppressed
    ("prefixmatch", "prefixxxxxx", 0.696969696969697), // below threshold despite long prefix
    ("abcdefgh", "abcdefxy", 0.9),               // common prefix 6, cap 4
    ("abcXXX", "bcaYYY", 0.5555555555555555),    // 3 mismatches -> t = 3/2 = 1 (integer)
    ("résumé", "resume", 0.75),                  // BYTE view: 8-byte l1, not 6 code points
    ("straße", "strasse", 0.8857142857142858),
    ("awxyzQQQQQ", "azyxw", 0.73))               // constructed jaro == 0.7: boost applies

  test("matches DuckDB jaro_winkler_similarity on pinned semantic cases") {
    duckdbPinned.foreach { case (a, b, want) =>
      val got = JaroWinkler.score(
        a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      assert(math.abs(got - want) < 1e-12, s"jw('$a','$b') = $got, want $want")
    }
  }

  test("codegen and interpreted paths agree; SQL-registered; null-safe") {
    import spark.implicits._
    val df = duckdbPinned.map { case (a, b, _) => (a, b) }.toDF("a", "b")
    val viaExpr = df.select(call_function("jaro_winkler", col("a"), col("b")))
      .collect().map(_.getDouble(0))
    viaExpr.zip(duckdbPinned).foreach { case (got, (a, b, want)) =>
      assert(math.abs(got - want) < 1e-12, s"codegen jw('$a','$b')")
    }
    val sql = spark.sql("SELECT jaro_winkler('martha', 'marhta')").collect()(0).getDouble(0)
    assert(math.abs(sql - 0.9611111111111111) < 1e-12)
    val withNull = Seq(("a", Option.empty[String])).toDF("a", "b")
      .select(call_function("jaro_winkler", col("a"), col("b"))).collect()
    assert(withNull(0).isNullAt(0))
  }

  test("symmetry and bounds on random ASCII pairs") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val a = Array.fill(rnd.nextInt(20))(('a' + rnd.nextInt(4)).toByte)
      val b = Array.fill(rnd.nextInt(20))(('a' + rnd.nextInt(4)).toByte)
      val ab = JaroWinkler.score(a, b)
      val ba = JaroWinkler.score(b, a)
      assert(math.abs(ab - ba) < 1e-15, "jw must be symmetric")
      assert(ab >= 0.0 && ab <= 1.0, "jw must be in [0,1]")
    }
  }
}
