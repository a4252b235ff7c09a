package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FuzzyJoinSpec extends SparkSpec {

  private def pairs(rows: Seq[(Long, String)], d: Int) = {
    import spark.implicits._
    FuzzyJoin.editDistancePairs(rows.toDF("id", "s"), "id", "s", d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("finds substitutions, insertions, deletions at d=1; excludes d=2") {
    val rows = Seq(
      1L -> "spark", 2L -> "sparc",  // substitution (d=1)
      3L -> "spar",                  // deletion of k (d=1 to spark)
      4L -> "sparks",                // insertion (d=1 to spark)
      5L -> "scala")                 // far from everything
    val got = pairs(rows, 1)
    assert(got == Set((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L), (2L, 3L, 1L)),
      got.toString)
  }

  test("matches the brute-force pair set exactly at d=1 and d=2") {
    import spark.implicits._
    // adversarial small alphabet: many near-collisions
    val strs = Seq("ab", "abc", "abd", "acd", "bcd", "abcd", "abce",
      "xy", "xyz", "ayz", "ab c", "a")
    val rows = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = rows.toDF("id", "s")
    for (d <- Seq(1, 2)) {
      val brute = df.as("a").crossJoin(df.as("b"))
        .filter(col("a.id") < col("b.id") &&
          levenshtein(col("a.s"), col("b.s")) <= d)
        .select(col("a.id"), col("b.id"),
          levenshtein(col("a.s"), col("b.s")).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(pairs(rows, d) == brute, s"d=$d")
    }
  }

  test("empty strings and duplicates: lev 0 pairs included, nulls skipped") {
    val got = pairs(Seq(1L -> "same", 2L -> "same", 3L -> null, 4L -> ""), 1)
    assert(got == Set((1L, 2L, 0L)))
  }

  test("LevenshteinThresholdRule rewrites the verify filter to the banded DP") {
    import spark.implicits._
    val df = Seq((1L, "kitten"), (2L, "sitten"), (3L, "zzzzzz")).toDF("id", "s")
    val filtered = df.as("a").crossJoin(df.as("b"))
      .filter(col("a.id") < col("b.id") &&
        levenshtein(col("a.s"), col("b.s")) <= 1)
    val optimized = filtered.queryExecution.optimizedPlan.toString
    // the unbounded two-arg levenshtein must be gone from the condition,
    // replaced by the thresholded form compared against 0
    assert(optimized.contains("levenshtein(s#") || optimized.contains("levenshtein("),
      optimized)
    assert("levenshtein\\(.*Some\\(1\\)\\) >= 0".r.findFirstIn(optimized).isDefined,
      s"expected banded rewrite in:\n$optimized")
    // semantics unchanged, including the long-cast comparison form
    assert(filtered.count() == 1)
    val viaColumn = df.withColumn("d", levenshtein(lit("kitten"), col("s")))
      .filter(col("d") <= 1).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(viaColumn == Set(1L, 2L))
  }

  test("the rule leaves unbounded and negative-bound comparisons alone") {
    import spark.implicits._
    val df = Seq((1L, "abc")).toDF("id", "s")
    // projection with no bound: stays the 2-arg form
    val proj = df.select(levenshtein(col("s"), lit("abd")).as("d"))
    assert(!proj.queryExecution.optimizedPlan.toString.matches("(?s).*levenshtein\\([^)]*,\\s*-?\\d+\\)\\s*>=.*"))
    assert(proj.collect()(0).getInt(0) == 1)
    // negative bound: constant-folds to empty, never a -1-threshold call
    assert(df.filter(levenshtein(col("s"), lit("x")) <= -1).count() == 0)
  }

  test("rejects unsupported distances") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      FuzzyJoin.editDistancePairs(Seq((1L, "x")).toDF("id", "s"), "id", "s", 3)
    }
  }

  test("jaroWinklerLinkage: exact recall under swap noise, quantized tie-break") {
    import spark.implicits._
    val clean = Seq(
      (1L, "jonathan smith"), (2L, "maria garcia"), (3L, "wei zhang"),
      (4L, "amelia jones"), (5L, "aemlia jones") // anagram competitor of 4
    ).toDF("id", "name")
    // dirty = adjacent swaps (the noise model anagramKey is lossless for)
    val dirty = Seq(
      (101L, "jnoathan smith"), // swap at 2
      (102L, "maria gracia"),   // swap inside surname
      (103L, "wei zhnag"),
      (104L, "aemlia jones")    // swap of 4 that IS clean name 5: exact hit must win
    ).toDF("id", "name")
    val got = FuzzyJoin.jaroWinklerLinkage(dirty, "id", "name",
        clean, "id", "name", minScorePpm = 800000L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(101L)._1 == 1L)
    assert(got(102L)._1 == 2L)
    assert(got(103L)._1 == 3L)
    // ambiguity: 104 matches clean 5 EXACTLY (score 1e6) over its true
    // source 4 — exact hits outrank transposed ones, deterministically
    assert(got(104L) == (5L, 1000000L))
    // every dirty row linked: sorted-char blocking lost nothing
    assert(got.size == 4)
  }

  test("jaroWinklerLinkage top-1 plans as WindowGroupLimit, not a full sort") {
    import spark.implicits._
    val df = Seq((1L, "abcd"), (2L, "abdc")).toDF("id", "name")
    val plan = FuzzyJoin.jaroWinklerLinkage(df, "id", "name", df, "id", "name", 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }
}
