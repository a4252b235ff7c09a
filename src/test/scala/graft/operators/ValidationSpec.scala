package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ValidationSpec extends SparkSpec {

  private def fixture = {
    import spark.implicits._
    Seq(
      (1, 180.0, 75.0),   // ok
      (2, 180.0, 300.0),  // weight out of range
      (3, -1.0, 75.0),    // height out of range (and BMI null-ish)
      (4, 180.0, 75.0)    // ok
    ).toDF("id", "h", "w")
  }

  private def rules = Seq(
    ValidationRule("h_range", col("h").between(100, 250)),
    ValidationRule("w_range", col("w").between(25, 200)),
    ValidationRule("id_pos", col("id") >= 1))

  test("violationCounts: one pass, all rules, NOT-TRUE counts as violation") {
    val got = Validation.violationCounts(fixture, rules)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("h_range" -> 1L, "w_range" -> 1L, "id_pos" -> 0L))
  }

  test("violationCounts keeps rule names that are not plain identifiers") {
    val got = Validation.violationCounts(fixture, Seq(
        ValidationRule("it's tall", col("h").between(100, 250)),
        ValidationRule("order date", col("id") >= 1)))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("it's tall" -> 1L, "order date" -> 0L))
  }

  test("failureCases tags each violating row with the failed check") {
    val got = Validation.failureCases(fixture, rules)
      .select("id", "failed_check").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((2, "w_range"), (3, "h_range")))
  }

  test("failureCasesOnePass matches the multi-scan variant") {
    val a = Validation.failureCases(fixture, rules).select("id", "failed_check")
    val b = Validation.failureCasesOnePass(fixture, rules).select("id", "failed_check")
    assert(rowsOf(a) == rowsOf(b))
  }

  test("null predicate counts as violation (Pandera lazy semantics)") {
    import spark.implicits._
    val df = Seq(Tuple1[java.lang.Double](null), Tuple1[java.lang.Double](150.0)).toDF("h")
    val got = Validation.violationCounts(df, Seq(ValidationRule("h_range", col("h").between(100, 250))))
      .collect()(0).getLong(1)
    assert(got == 1L)
  }

  test("failureCasesWide: one row per check, offending values pivoted (E2)") {
    val wide = Validation.failureCasesWide(fixture, rules, Seq("id", "h", "w"))
    val rows = wide.collect().map(r => r.getString(0) ->
      (r.getSeq[String](1), r.getSeq[String](2), r.getSeq[String](3))).toMap
    assert(rows.keySet == Set("h_range", "w_range"))
    assert(rows("w_range")._1 == Seq("2") && rows("w_range")._3 == Seq("300.0"))
    assert(rows("h_range")._2 == Seq("-1.0"))
  }

  test("strictColumnCheck reports missing and extra") {
    val (missing, extra) = Validation.strictColumnCheck(fixture, Seq("id", "h", "bmi"))
    assert(missing == Seq("bmi") && extra == Seq("w"))
  }

  test("kAnonymityAudit: class sizes, violations, and null-as-a-class") {
    import spark.implicits._
    val df = Seq(
      ("US", "A"), ("US", "A"), ("US", "A"), // class of 3: violates k=5
      ("DE", "B"), ("DE", "B"), ("DE", "B"), ("DE", "B"), ("DE", "B"),
      (null.asInstanceOf[String], "A"), (null, "A") // null region IS a class
    ).toDF("region", "seg")
    val got = Validation.kAnonymityAudit(df, Seq("region", "seg"), k = 5)
      .collect()
      .map(r => (Option(r.getString(0)), r.getString(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(got == Set(
      (Some("US"), "A", 3L, true),
      (Some("DE"), "B", 5L, false),
      (None, "A", 2L, true)))
    intercept[IllegalArgumentException] {
      Validation.kAnonymityAudit(df, Seq.empty, 5)
    }
  }

  test("refIntegrityAudit: orphans counted, null FKs exempt, consistent pair passes") {
    import spark.implicits._
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(9L), Some(8L), None)
      .toDF("fk") // two orphans (9, 8); the null is not an orphan
    val got = Validation.refIntegrityAudit(Seq(
        Validation.RefCheck("bad", child, "fk", parent, "pk"),
        Validation.RefCheck("good", parent, "pk", parent, "pk")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got("bad") == (4L, 2L, false))
    assert(got("good") == (3L, 0L, true))
  }

  test("dpNoisedCounts: deterministic re-release, bounded noise, true count withheld") {
    import spark.implicits._
    val df = (1 to 200).map(i => Tuple1(s"g${i % 4}")).toDF("grp")
    val r1 = Validation.dpNoisedCounts(df, Seq("grp"), epsilon = 1.0)
    assert(r1.columns.toSeq == Seq("grp", "noised_count", "epsilon"),
      "the exact count must not leak into the release")
    val a = r1.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = Validation.dpNoisedCounts(df.repartition(5), Seq("grp"), 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a == b, "same snapshot must release identical noise")
    // Laplace(1) tail: |noise| beyond ln(2^31) ≈ 21.5 is impossible
    // under the md5 inverse-CDF construction
    a.foreach { case (g, v) =>
      assert(math.abs(v - 50.0) < 22.0, s"group $g noise out of range: $v")
    }
    // higher epsilon → strictly less noise for the same draws
    val tight = Validation.dpNoisedCounts(df, Seq("grp"), epsilon = 10.0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    tight.foreach { case (g, v) =>
      assert(math.abs(v - 50.0) <= math.abs(a(g) - 50.0) + 1e-9,
        s"epsilon=10 must not be noisier than epsilon=1 for $g")
    }
  }
}
