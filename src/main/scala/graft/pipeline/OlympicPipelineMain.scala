package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.{Caches, GraftSession}
import graft.sources.Tables

/** CLI driver for the full bronze→silver→gold Olympic pipeline — the
  * engine-side equivalent of the reference's Airflow DAG task chain
  * (reference pandas_based/airflow/dags/Olympic-Athletes-ETL_DAG.py:87-92:
  * clean I → clean II → validate → rename/reorder).
  *
  * Usage: OlympicPipelineMain <bronzeDir> <outDir>
  *   bronzeDir must hold biodata.parquet, results.parquet,
  *   editions.parquet, iso_codes.csv (header CSV).
  * Writes gold/ + failure_cases/ under outDir; the silver tables are
  * intermediate frames and are not written.
  */
object OlympicPipelineMain {

  /** The eight gold and failure-case frames, built lazily. The country
    * vocabulary for NOC parsing comes from the ISO lookup's name column
    * (bounded, broadcastable).
    *
    * Silver bios (`bios2`) feeds two sinks, `dim_athletes` and
    * `failure_cases_bios`, as the reference's one silver table does
    * (data_clean_II.py:165-166). `run` persists it once and tracks it
    * in the caller's [[graft.Caches]] scope, so whichever sink is written
    * first fills the cache and the other reads it. Callers therefore
    * build AND materialize the outputs inside `Caches.withScope`, which
    * releases the cache on exit.
    */
  def run(bronze: Map[String, DataFrame], iso: DataFrame): Map[String, DataFrame] = {
    val countries = iso.select("English short name lower case")
      .collect().map(_.getString(0)).toSeq

    // stage I
    val bios1 = OlympicCleanI.cleanBiodata(bronze("biodata"), countries)
    val (dimAff, bridge) = OlympicCleanI.affiliationTables(bronze("biodata"))
    val results1 = OlympicCleanI.cleanResults(bronze("results"))
    val editions1 = OlympicCleanI.cleanEditions(bronze("editions"))

    // stage II
    val bios2 = OlympicCleanII.imputeBornCountry(
      OlympicCleanII.imputeHeightWeight(bios1, results1), iso)
    Caches.track(bios2.persist())
    val editions2 = OlympicCleanII.imputeEditionDates(editions1)

    // validation (lazy collect-all; failure cases materialized, not fatal —
    // reference data_quality_and_validation.py:385-394)
    val (_, _, biosCases) = OlympicRules.validateTable(
      bios2, OlympicRules.biosRules, OlympicRules.uniqueKeys("bios"))
    val (_, _, resultCases) = OlympicRules.validateTable(
      results1, OlympicRules.resultsRules, Nil)
    val (_, _, editionCases) = OlympicRules.validateTable(
      editions2, OlympicRules.editionRules, OlympicRules.uniqueKeys("editions"))

    OlympicGold.goldTables(bios2, results1, editions2, dimAff, bridge) ++ Map(
      "failure_cases_bios" -> biosCases,
      "failure_cases_results" -> resultCases,
      "failure_cases_editions" -> editionCases)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: OlympicPipelineMain <bronzeDir> <outDir>")
    val Array(bronzeDir, outDir) = args
    val spark = GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt,
      appName = "olympic-pipeline")
    val bronze = Map(
      "biodata" -> Tables.table(spark, bronzeDir, "biodata"),
      "results" -> Tables.table(spark, bronzeDir, "results"),
      "editions" -> Tables.table(spark, bronzeDir, "editions"))
    val iso = Tables.csv(spark, s"$bronzeDir/iso_codes.csv", OlympicSchemas.isoCountryCodes)

    Caches.withScope {
      run(bronze, iso).foreach { case (name, df) =>
        val layer = if (name.startsWith("failure_cases")) "failure_cases" else "gold"
        Tables.write(df, s"$outDir/$layer/$name", SaveMode.Overwrite)
        println(s"[pipeline] $name: ${df.columns.length} cols")
      }
    }
    spark.stop()
  }
}
