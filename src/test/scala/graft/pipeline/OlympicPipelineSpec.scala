package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end bronze→silver→gold over fixture rows shaped like the
  * reference's bronze tables, asserting the hand-derived goldens
  * (the reference's own notebook outputs are the behavioral spec).
  */
class OlympicPipelineSpec extends SparkSpec {

  private val countries = OlympicFixtures.countries

  private def bronzeBiodata: DataFrame = OlympicFixtures.bronzeBiodata(spark)
  private def bronzeResults: DataFrame = OlympicFixtures.bronzeResults(spark)
  private def bronzeEditions: DataFrame = OlympicFixtures.bronzeEditions(spark)
  private def isoLookup: DataFrame = OlympicFixtures.isoLookup(spark)

  test("stage I biodata: parse name/measurements/dates/location/NOC") {
    val clean = OlympicCleanI.cleanBiodata(bronzeBiodata, countries)
    val rows = clean.orderBy("Athlete_Id").collect()

    val lewis = rows(0)
    assert(lewis.getAs[String]("Name") == "Carl Lewis")
    assert(lewis.getAs[Double]("Height (cm)") == 188.0)
    assert(lewis.getAs[Double]("Weight (kg)") == 80.0)
    assert(lewis.getAs[java.sql.Date]("Born_Date").toString == "1961-07-01")
    assert(lewis.getAs[Boolean]("Is_Alive"))
    assert(lewis.getAs[String]("Born_City") == "Birmingham")
    assert(lewis.getAs[String]("Born_Country") == "USA")
    assert(lewis.getAs[String]("NOC") == "united states")

    val zatopek = rows(2)
    assert(!zatopek.getAs[Boolean]("Is_Alive"))
    assert(zatopek.getAs[java.sql.Date]("Died_Date").toString == "2000-11-21")
    assert(zatopek.getAs[Double]("Height (cm)") == 182.0)
    assert(zatopek.get(clean.columns.indexOf("Weight (kg)")) == null)

    val mystery = rows(3)
    assert(mystery.getAs[java.sql.Date]("Born_Date").toString == "1950-01-01",
      "year-only birth dates must be kept (§2.13.6)")
    assert(mystery.getAs[String]("NOC") == "germany", "legacy name must map")

    // raw columns dropped
    assert(!clean.columns.contains("Used name") && !clean.columns.contains("Measurements"))
  }

  test("stage I affiliations: dense ids, paren-code promotion, bridge") {
    val (dim, bridge) = OlympicCleanI.affiliationTables(bronzeBiodata)
    val dimRows = dim.orderBy("Affiliation_Id").collect()
    assert(dimRows.map(_.getLong(0)).toSeq == dimRows.indices.map(_.toLong),
      "Affiliation_Id must be dense 0..n-1 (§2.13.2)")
    // "(GER)" single-affiliation cell: club "(GER)" parses club-only; the
    // city-promotion path applies to city cells matching "(XYZ)"
    val clubs = dimRows.map(_.getAs[String]("Affiliation_Club")).toSet
    assert(clubs.contains("Santa Monica TC") && clubs.contains("UCLA") &&
      clubs.contains("World Class AC"))
    // athlete 2 exploded to two affiliations
    val a2 = bridge.filter(col("Athlete_Id") === 2).count()
    assert(a2 == 2)
  }

  test("stage I results: year/type split, position digits, tie flag") {
    val clean = OlympicCleanI.cleanResults(bronzeResults)
    val r = clean.filter(col("Event") === "100 metres, Men").collect()(0)
    assert(r.getAs[Int]("Game Year") == 1984)
    assert(r.getAs[String]("Game Type") == "Summer Olympics")
    assert(r.getAs[Int]("Position") == 1)
    assert(r.getAs[Boolean]("Tied"))
    val dns = clean.filter(col("Event") === "Imagined, Men").collect()(0)
    assert(dns.get(clean.columns.indexOf("Position")) == null)
    assert(!dns.getAs[Boolean]("Tied"))
    assert(!clean.columns.contains("Games") && !clean.columns.contains("Pos"))
  }

  test("stage I editions: dates, ancient filter, day-range rewrite, Game_Id") {
    val clean = OlympicCleanI.cleanEditions(bronzeEditions)
    assert(clean.count() == 4, "ancient games filtered")
    val rows = clean.orderBy("Game_Id").collect()
    // Game_Id ordered by (Year, Game_Type, Edition_Name): 1952,1972,1984,1988
    assert(rows.map(_.getAs[String]("Year")).toSeq == Seq("1952", "1972", "1984", "1988"))
    assert(rows.map(_.getAs[Long]("Game_Id")).toSeq == Seq(1L, 2L, 3L, 4L))
    val helsinki = rows(0)
    assert(helsinki.getAs[String]("Opened") == "1952-07-19")
    assert(helsinki.getAs[String]("Closed") == "1952-08-03")
    assert(helsinki.getAs[String]("Competition_Start") == "1952-07-20")
    assert(helsinki.getAs[String]("Competition_End") == "1952-08-03")
    val la = rows(2)
    assert(la.get(clean.columns.indexOf("Opened")) == null)
    assert(la.getAs[String]("Comments") == "LA Games")
  }

  test("stage II: discipline-mode median impute with Sex fallback + flags") {
    val bios = OlympicCleanI.cleanBiodata(bronzeBiodata, countries)
    val results = OlympicCleanI.cleanResults(bronzeResults)
    val imputed = OlympicCleanII.imputeHeightWeight(bios, results)
    val rows = imputed.orderBy("Athlete_Id").collect()
    def get(r: org.apache.spark.sql.Row, c: String) = r.get(imputed.columns.indexOf(c))

    assert(get(rows(0), "Height_Imputed") == false)
    // athlete 3 (Athletics mode): weight null → (Male, Athletics) median = 80
    assert(get(rows(2), "Weight (kg)") == 80.0 && get(rows(2), "Weight_Imputed") == true)
    // athlete 4 (Rowing, no heights in group) → Male fallback median of
    // heights AFTER fine fill = median(188, 182, null→) = 185
    assert(get(rows(3), "Height (cm)") == 185.0 && get(rows(3), "Height_Imputed") == true)
  }

  test("stage II: Born_Country from NOC via ISO lookup") {
    val bios = OlympicCleanI.cleanBiodata(bronzeBiodata, countries)
    val results = OlympicCleanI.cleanResults(bronzeResults)
    val imputed = OlympicCleanII.imputeBornCountry(
      OlympicCleanII.imputeHeightWeight(bios, results), isoLookup)
    val rows = imputed.orderBy("Athlete_Id").collect()
    def get(r: org.apache.spark.sql.Row, c: String) = r.get(imputed.columns.indexOf(c))
    // athlete 4: Born_Country null, NOC "germany" → DEU, flag true
    assert(get(rows(3), "Born_Country") == "DEU")
    assert(get(rows(3), "Born_Country_From_NOC") == true)
    // athlete 1 keeps scraped USA, flag false
    assert(get(rows(0), "Born_Country") == "USA")
    assert(get(rows(0), "Born_Country_From_NOC") == false)
  }

  test("stage II: edition date impute from competition dates") {
    val ed = OlympicCleanII.imputeEditionDates(OlympicCleanI.cleanEditions(bronzeEditions))
    val la = ed.filter(col("City") === "Los Angeles").collect()(0)
    def get(c: String) = la.get(ed.columns.indexOf(c))
    assert(get("Opened") == "1984-07-28" && get("Opened_Imputed") == true)
    assert(get("Closed") == "1984-08-12" && get("Closed_Imputed") == false)
  }

  test("gold: rename+reorder to warehouse names, absent columns skipped") {
    val bios = OlympicCleanII.imputeBornCountry(
      OlympicCleanII.imputeHeightWeight(
        OlympicCleanI.cleanBiodata(bronzeBiodata, countries),
        OlympicCleanI.cleanResults(bronzeResults)),
      isoLookup)
    val results = OlympicCleanI.cleanResults(bronzeResults)
    val editions = OlympicCleanII.imputeEditionDates(OlympicCleanI.cleanEditions(bronzeEditions))
    val (dim, bridge) = OlympicCleanI.affiliationTables(bronzeBiodata)

    val gold = OlympicGold.goldTables(bios, results, editions, dim, bridge)
    assert(gold("dim_athletes").columns.head == "athlete_id")
    assert(gold("dim_athletes").columns.contains("athlete_NOC"))
    assert(gold("fct_results").columns.toSeq ==
      Seq("athlete_id", "dim_noc", "dim_discipline", "dim_game_type", "dim_game_year",
        "dim_event_name", "dim_team_name", "dim_as", "m_tied_flag", "m_position", "m_medal")
        .filter(gold("fct_results").columns.contains), "map order preserved")
    assert(gold("dim_games").columns.contains("dim_opened_imputed"))
    gold.values.foreach(df => assert(df.count() > 0))
  }

  test("validation: seeded violations are caught with correct counts") {
    val bios = OlympicCleanII.imputeBornCountry(
      OlympicCleanII.imputeHeightWeight(
        OlympicCleanI.cleanBiodata(bronzeBiodata, countries),
        OlympicCleanI.cleanResults(bronzeResults)),
      isoLookup)
    val (counts, dups, cases) = OlympicRules.validateTable(
      bios, OlympicRules.biosRules, OlympicRules.uniqueKeys("bios"))
    val m = counts.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(m.values.sum == 0, s"clean fixture must pass all bios rules: $m")
    assert(dups.forall(_.count() == 0))

    // seed a violation: 30 kg at 250 cm → BMI 4.8
    val bad = bios.limit(1)
      .withColumn("Weight (kg)", lit(30.0))
      .withColumn("Height (cm)", lit(250.0))
    val (badCounts, _, badCases) = OlympicRules.validateTable(
      bad, OlympicRules.biosRules, Nil)
    val bm = badCounts.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(bm("bmi_sane") == 1)
    assert(badCases.filter(col("failed_check") === "bmi_sane").count() == 1)
  }

  test("run builds silver bios once: failure_cases_bios reads dim_athletes' cache, the scope releases it") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.Caches
    import graft.sources.Tables
    object Plans extends AdaptiveSparkPlanHelper

    val dir = java.nio.file.Files.createTempDirectory("olympic-share").toString
    Map("biodata" -> bronzeBiodata, "results" -> bronzeResults, "editions" -> bronzeEditions)
      .foreach { case (n, df) => Tables.write(df, s"$dir/bronze/$n.parquet") }
    val bronze = Seq("biodata", "results", "editions")
      .map(n => n -> Tables.table(spark, s"$dir/bronze", n)).toMap

    // the un-persisted build: run's stages wired without its persist,
    // materialized before any cache of them exists
    val expected = {
      val isoNames = isoLookup.select("English short name lower case").collect().map(_.getString(0)).toSeq
      val results = OlympicCleanI.cleanResults(bronze("results"))
      val editions = OlympicCleanII.imputeEditionDates(OlympicCleanI.cleanEditions(bronze("editions")))
      val bios = OlympicCleanII.imputeBornCountry(OlympicCleanII.imputeHeightWeight(
        OlympicCleanI.cleanBiodata(bronze("biodata"), isoNames), results), isoLookup)
      val (dim, bridge) = OlympicCleanI.affiliationTables(bronze("biodata"))
      def cases(df: DataFrame, rules: Seq[graft.operators.ValidationRule], keys: Seq[Seq[String]]) =
        OlympicRules.validateTable(df, rules, keys)._3
      (OlympicGold.goldTables(bios, results, editions, dim, bridge) ++ Map(
        "failure_cases_bios" -> cases(bios, OlympicRules.biosRules, OlympicRules.uniqueKeys("bios")),
        "failure_cases_results" -> cases(results, OlympicRules.resultsRules, Nil),
        "failure_cases_editions" -> cases(editions, OlympicRules.editionRules,
          OlympicRules.uniqueKeys("editions"))))
        .map { case (n, df) => n -> rowsOf(df) }
    }

    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Caches.withScope {
      val out = OlympicPipelineMain.run(bronze, isoLookup)
      Tables.write(out("dim_athletes"), s"$dir/gold/dim_athletes")
      val plan = out("failure_cases_bios").queryExecution.executedPlan
      assert(Plans.collectWithSubqueries(plan) { case s: InMemoryTableScanExec => s }.nonEmpty,
        s"failure_cases_bios must read the shared silver bios:\n$plan")
      val bronzeScans = Plans.collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s.relation.location.rootPaths.mkString(",")
      }.filter(p => p.contains("biodata") || p.contains("results"))
      assert(bronzeScans.isEmpty, s"failure_cases_bios re-reads bronze: $bronzeScans\n$plan")
      assert(out.keySet == expected.keySet)
      out.foreach { case (n, df) => assert(rowsOf(df) == expected(n), n) }
    }
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"RDDs still persisted after the scope closed: $left")
  }
}
