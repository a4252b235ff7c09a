package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative validation engine — the Spark-first re-expression of the
  * reference's Pandera surface (SURVEY.md §2.10; reference
  * data_quality_and_validation.py:47-360). Each rule is one boolean
  * `Column`; evaluation is lazy+collect-all like Pandera's `lazy=True`:
  * a row VIOLATES a rule when the predicate is not TRUE (false or null),
  * matching Pandera's treatment of failed coercion/null checks.
  */
case class ValidationRule(name: String, predicate: Column)

object Validation {

  private def violates(r: ValidationRule): Column =
    when(r.predicate, lit(0L)).otherwise(lit(1L))

  /** Violation counts for every rule (zero rows kept) in ONE pass over the
    * table — a single partial-aggregated scan, no per-rule jobs. Output:
    * (check_name, n_violations) sorted by check_name.
    */
  def violationCounts(df: DataFrame, rules: Seq[ValidationRule]): DataFrame = {
    val aggs = rules.zipWithIndex.map { case (r, i) => sum(violates(r)).as(s"__nv_$i") }
    df.agg(aggs.head, aggs.tail: _*)
      .select(GroupOps.stackRows(rules.map(_.name), i => Seq(s"__nv_$i"),
        "check_name", "n_violations"))
      .orderBy("check_name")
  }

  /** Failure-case audit table (reference get_error_df,
    * data_quality_and_validation.py:240-289): the violating rows themselves,
    * tagged with the failed check, all rules unioned. One scan per rule but
    * each is filter-pushed; at scale prefer [[failureCasesOnePass]].
    */
  def failureCases(df: DataFrame, rules: Seq[ValidationRule]): DataFrame =
    rules.map { r =>
      df.filter(violates(r) === 1L).withColumn("failed_check", lit(r.name))
    }.reduce(_.unionByName(_))

  /** Same audit table in one scan: build an array of failed check names per
    * row, explode non-empty. The winner when the table is 100 TB and rules
    * are many — rows are read once.
    */
  def failureCasesOnePass(df: DataFrame, rules: Seq[ValidationRule]): DataFrame = {
    val failedArr = array(rules.map(r =>
      when(violates(r) === 1L, lit(r.name)).otherwise(lit(null))): _*)
    df.withColumn("__failed", filter(failedArr, c => c.isNotNull))
      .filter(size(col("__failed")) > 0)
      .withColumn("failed_check", explode(col("__failed")))
      .drop("__failed")
  }

  /** The reference's wide failure-case report (get_error_df,
    * data_quality_and_validation.py:258-275): per failed check, the most
    * frequently failing column and the list of offending values of
    * `valueCol`, pivoted wide — one row per check, one column per
    * examined source column (E2).
    */
  def failureCasesWide(df: DataFrame, rules: Seq[ValidationRule],
                       valueCols: Seq[String]): DataFrame = {
    val cases = failureCasesOnePass(df, rules)
    val long = valueCols.map { c =>
      cases.select(col("failed_check"), lit(c).as("column"),
        col(c).cast("string").as("failure_case"))
    }.reduce(_.unionByName(_))
    long.groupBy(col("failed_check"))
      .pivot("column", valueCols)
      .agg(sort_array(collect_list(col("failure_case"))))
      .orderBy(col("failed_check"))
  }

  /** Pandera `strict=True` column-set check: schema columns must equal the
    * expected set exactly. Returns the offending names (empty = pass).
    */
  def strictColumnCheck(df: DataFrame, expected: Seq[String]): (Seq[String], Seq[String]) = {
    val have = df.columns.toSet
    val want = expected.toSet
    ((want -- have).toSeq.sorted, (have -- want).toSeq.sorted) // (missing, extra)
  }

  /** k-anonymity audit (Sweeney 2002): every combination of the
    * quasi-identifier columns is an EQUIVALENCE CLASS; a class smaller
    * than k re-identifies its members by linkage. Output: one row per
    * class — the quasi-identifier values, `class_size`, and
    * `k_violation` — the table a release-gating policy reads (ship
    * only if `count(k_violation) == 0`, or generalize/suppress the
    * flagged classes first).
    *
    * Scale shape: one partial-aggregable groupBy over the
    * quasi-identifier tuple — the corpus shuffles only (class, count)
    * pairs. Null quasi-identifier values form their own class (null is
    * a linkable value too — Spark groupBy already treats it as one).
    */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k >= 2, s"need quasi-identifiers and k >= 2")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .withColumn("k_violation", col("class_size") < k)
  }

  /** Differentially-private count release (Dwork et al. TCC '06): each
    * group's count plus Laplace(1/ε) noise — the ε-DP mechanism for
    * publishing aggregate tables whose exact counts would leak
    * membership. Noise draws are DETERMINISTIC in (group key, salt)
    * via the md5 inverse-CDF — so a re-release of the same snapshot is
    * byte-identical (re-randomizing on every read would let an
    * observer average the noise away, the classic DP failure mode) and
    * any engine with md5/ln can replay the release for audit.
    *
    * Scale: one partial-aggregable groupBy; the noise is group-sized
    * map-side arithmetic. Output: (group cols, noised_count, epsilon).
    * The true count deliberately does NOT appear in the output.
    */
  def dpNoisedCounts(df: DataFrame, groupCols: Seq[String], epsilon: Double,
                     salt: String = "dp"): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    val keyStr = concat_ws("|",
      groupCols.map(c => coalesce(col(c).cast("string"), lit("\u0000null"))) :+
        lit(salt): _*)
    val u = (conv(substring(md5(keyStr), 1, 8), 16, 10).cast("double") + 0.5) /
      4294967296.0 // (0,1): keeps both ln args strictly positive
    val b = lit(1.0 / epsilon)
    val lap = -b * signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("noised_count", round(col("__n") + lap, 6))
      .withColumn("epsilon", lit(epsilon))
      .select(groupCols.map(col) ++ Seq(col("noised_count"), col("epsilon")): _*)
  }

  /** One foreign-key relationship for [[refIntegrityAudit]]. */
  case class RefCheck(name: String, child: DataFrame, fkCol: String,
                      parent: DataFrame, pkCol: String)

  /** Referential-integrity audit: for every declared FK relationship,
    * the child row count and the ORPHAN count (child rows whose
    * non-null FK has no parent — the silent join-loss a star schema's
    * inner joins would swallow without a trace). Null FKs are not
    * orphans — they're the C5 non-null rules' jurisdiction.
    *
    * Scale shape: per relationship one left-anti join against the
    * DISTINCT parent keys (key-sized build side, broadcast when small)
    * feeding a scalar aggregate; relationships union as one-row frames.
    */
  def refIntegrityAudit(checks: Seq[RefCheck]): DataFrame = {
    require(checks.nonEmpty, "declare at least one relationship")
    checks.map { c =>
      val child = c.child.filter(col(c.fkCol).isNotNull)
      val orphans = child.join(
        c.parent.select(col(c.pkCol).as(c.fkCol)).distinct(),
        Seq(c.fkCol), "left_anti")
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(broadcast(orphans.agg(count(lit(1)).as("n_orphans"))))
        .select(lit(c.name).as("fk"), col("n_child"), col("n_orphans"),
          (col("n_orphans") === 0L).as("ok"))
    }.reduce(_.unionByName(_))
  }
}
