package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.GroupOps

/** Stage-II imputation — reference pandas_based/src/data_clean_II.py.
  * Pandas semantics preserved exactly:
  *   - most-frequent discipline per athlete with LEXICOGRAPHIC tie-break
  *     (mode().iloc[0] — SURVEY §2.13.3);
  *   - EXACT medians (mean-of-middle-two — §2.13.4);
  *   - the Sex-only fallback median is computed over the column AFTER the
  *     (Sex, Discipline) fill, as pandas' chained transform does;
  *   - imputation flags record was-null-before-impute.
  * The medians are [[graft.operators.GroupOps.imputeWithGroupedMedian]]'s:
  * one broadcast-joined aggregate per key level, never a window over the
  * fact table.
  */
object OlympicCleanII {

  /** Height/weight imputation by (Sex, mode-Discipline) median with Sex
    * fallback (data_clean_II.py:6-61).
    */
  def imputeHeightWeight(bio: DataFrame, results: DataFrame): DataFrame = {
    val discipline = GroupOps.groupMode(results, Seq("Athlete_Id"), "Discipline", "Discipline")
    GroupOps.imputeWithGroupedMedian(bio.join(discipline, Seq("Athlete_Id"), "left"),
      Seq("Sex", "Discipline"), Seq("Sex"),
      Seq("Height (cm)" -> "Height_Imputed", "Weight (kg)" -> "Weight_Imputed"))
      .drop("Discipline")
  }

  /** Born_Country from the first NOC token via the ISO lookup
    * (data_clean_II.py:64-95): lowercase(first NOC country) = lowercase
    * (ISO English short name) → Alpha-3; only fills nulls; flag records
    * was-null. Broadcast equi-join replaces the reference's per-row dict
    * apply (the author's own Glue migration made the same move).
    */
  def imputeBornCountry(bio: DataFrame, iso: DataFrame): DataFrame = {
    val lookup = broadcast(iso.select(
      lower(col("English short name lower case")).as("__iso_name"),
      col("Alpha-3 code").as("__alpha3")))
    bio
      .withColumn("Born_Country_From_NOC", col("Born_Country").isNull)
      .withColumn("__first_noc",
        lower(trim(split(col("NOC"), ",").getItem(0))))
      .join(lookup, col("__first_noc") === col("__iso_name"), "left")
      .withColumn("Born_Country", coalesce(col("Born_Country"), col("__alpha3")))
      .drop("__first_noc", "__iso_name", "__alpha3")
  }

  /** Opened/Closed from competition dates (data_clean_II.py:98-123). */
  def imputeEditionDates(editions: DataFrame): DataFrame =
    editions
      .withColumn("Opened_Imputed",
        col("Opened").isNull && col("Competition_Start").isNotNull)
      .withColumn("Closed_Imputed",
        col("Closed").isNull && col("Competition_End").isNotNull)
      .withColumn("Opened", coalesce(col("Opened"), col("Competition_Start")))
      .withColumn("Closed", coalesce(col("Closed"), col("Competition_End")))
}
