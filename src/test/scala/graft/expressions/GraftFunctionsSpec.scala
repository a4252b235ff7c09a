package graft.expressions

import graft.SparkSpec
import graft.functions.TextFunctions
import graft.operators.{FuzzyJoin, Sketches, Windows}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Levenshtein, Literal}
import org.apache.spark.sql.functions._

/** Operators build graft's native expressions as Columns
  * ([[GraftFunctions.call]]): they need nothing from the session's
  * function registry and leave the registry and the optimizer rules as
  * they found them. SQL text is the only consumer of the registry.
  */
class GraftFunctionsSpec extends SparkSpec {

  /** One run of each kernel family — scalar, aggregate, window key,
    * the banded edit-distance verify and a scalar inside a join — with
    * every frame built on `s`.
    */
  private def results(s: SparkSession): Seq[Seq[Seq[Any]]] = {
    import s.implicits._
    def d(v: String) = java.sql.Date.valueOf(v)
    val docs = Seq((1L, "the cat sat"), (2L, "a dog and the cat"), (3L, ""))
      .toDF("id", "text")
    val stats = docs.select(col("id"),
      TextFunctions.tokenStatsNative(col("text"), Seq("the", "a")).as("st"))
    val events = Seq((d("2024-01-01"), 1L), (d("2024-01-01"), 2L),
      (d("2024-01-02"), 2L), (d("2024-01-02"), 3L), (d("2024-01-03"), 4L))
      .toDF("day", "user")
    val shards = Sketches.bitmapShards(events, Seq(col("day")), col("user"))
    val rolling = Sketches.rollingDistinct(shards, "day", windowDays = 2)
      .select(col("day"), col("n_distinct"))
    val ranked = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("v", "k")
      .withColumn("rn", row_number().over(Windows.boundedGlobal(col("v"))))
    val names = Seq((1L, "spark"), (2L, "sparc"), (3L, "spar"), (4L, "scala"))
      .toDF("id", "s")
    val fuzzy = FuzzyJoin.editDistancePairs(names, "id", "s", 1)
    val clean = Seq((1L, "jonathan smith"), (2L, "maria garcia")).toDF("id", "name")
    val dirty = Seq((101L, "jnoathan smith"), (102L, "maria gracia")).toDF("id", "name")
    val linked = FuzzyJoin.jaroWinklerLinkage(dirty, "id", "name",
      clean, "id", "name", minScorePpm = 800000L)
    Seq(stats, rolling, ranked, fuzzy, linked).map(rowsOf)
  }

  private def levenshteins(df: DataFrame): Seq[Levenshtein] =
    df.queryExecution.optimizedPlan.flatMap(
      _.expressions.flatMap(_.collect { case l: Levenshtein => l }))

  test("operators run on a session with none of graft's functions registered") {
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    GraftFunctions.functions.foreach { case (ident, _, _) => registry.dropFunction(ident) }
    val functionsBefore = registry.listFunction().toSet
    val rulesBefore = fresh.experimental.extraOptimizations
    assert(GraftFunctions.functions.forall { case (ident, _, _) => !functionsBefore(ident) })

    assert(results(fresh) == results(spark))

    assert(registry.listFunction().toSet == functionsBefore)
    assert(fresh.experimental.extraOptimizations == rulesBefore)
    import fresh.implicits._
    val pairs = FuzzyJoin.editDistancePairs(
      Seq((1L, "kitten"), (2L, "sitten")).toDF("id", "s"), "id", "s", 1)
    val levs = levenshteins(pairs)
    assert(levs.nonEmpty && levs.forall(_.threshold.contains(Literal(1))),
      pairs.queryExecution.optimizedPlan.toString)
  }

  test("call checks arity when the column is built and names it like SQL") {
    intercept[IllegalArgumentException](GraftFunctions.call("cosine_similarity", col("a")))
    import spark.implicits._
    val df = Seq("cafe").toDF("t")
    assert(df.select(GraftFunctions.call("normalize_nfc", col("t"))).columns.toSeq ==
      Seq("normalize_nfc(t)"))
  }
}
