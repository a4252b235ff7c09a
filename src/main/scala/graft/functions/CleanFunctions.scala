package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar-expression library covering SURVEY.md §2.8 (F1–F13, D1–D5, M1–M5):
  * every string/date/math function the reference applies while cleaning,
  * as pure `Column => Column` builders over codegen'd built-ins. The §2.13
  * parity decisions are baked in:
  *   - `regexp_extract` no-match becomes NULL, not "" (§2.13.5);
  *   - mixed date parse keeps year-only values (§2.13.6, pandas semantics);
  *   - suffix strip is substring-replace, not charset-strip (§2.13.7).
  * The only true UDF the reference needs (F13 NOC extraction) lives in
  * [[NocExtract]].
  */
object CleanFunctions {

  /** Null-on-no-match regexp extract (F4–F8, F10): Spark's `regexp_extract`
    * yields "" where pandas yields NaN — normalize with nullif.
    */
  def regexpExtractNull(c: Column, pattern: String, group: Int): Column =
    nullif(regexp_extract(c, pattern, group), lit(""))

  // ---- F1: literal character cleanups (data_clean.py:45,160-167,347) ----
  /** `•` → space in names. */
  def cleanName(c: Column): Column = trim(regexp_replace(c, "•", " "))
  /** Roles: `—` removed, ` • ` becomes the list separator `,`. */
  def cleanRoles(c: Column): Column =
    regexp_replace(regexp_replace(c, "—", ""), "\\s*•\\s*", ",")
  /** en-dash → hyphen (competition dates). */
  def normalizeDashes(c: Column): Column = regexp_replace(c, "–", "-")

  // ---- F3: substring strip (NOT charset strip — §2.13.7) ----
  def stripSubstring(c: Column, sub: String): Column =
    trim(regexp_replace(c, java.util.regex.Pattern.quote(sub), ""))

  /** Measurements "180 cm / 75 kg" → (height_cm double, weight_kg double)
    * (data_clean.py:56-57 / data_clean_glue.py:35-43). Handles height-only
    * ("180 cm") and weight-only ("75 kg") variants.
    */
  def heightCm(measurements: Column): Column = {
    val first = trim(split(measurements, "/").getItem(0))
    when(first.contains("cm"), stripSubstring(first, " cm").cast("double"))
  }
  def weightKg(measurements: Column): Column = {
    val parts = split(measurements, "/")
    val candidate = when(size(parts) >= 2, trim(parts.getItem(1)))
      .otherwise(trim(parts.getItem(0)))
    when(candidate.contains("kg"), stripSubstring(candidate, " kg").cast("double"))
  }

  // ---- F4: date fragment from Born/Died free text ----
  private val dateFragment = "(\\d{1,2}\\s+[A-Za-z]+\\s+\\d{4}|\\d{4})"
  def extractDateFragment(c: Column): Column = regexpExtractNull(c, dateFragment, 1)

  // ---- F5: birth/death location "in City, Region (NOC)" ----
  private val locPattern = "in\\s+(.+?),\\s*([A-Za-zÀ-ÿ'’\\- ]+)\\s*\\((\\w+)\\)$"
  def locCity(c: Column): Column = regexpExtractNull(c, locPattern, 1)
  def locRegion(c: Column): Column = trim(regexpExtractNull(c, locPattern, 2))
  def locCountry(c: Column): Column = regexpExtractNull(c, locPattern, 3)

  // ---- F6: affiliation "Club, City (Country)" with optional groups ----
  private val affPattern = "^(.+?)(?:,\\s*(.+?))?(?:\\s*\\((.+?)\\))?$"
  def affClub(c: Column): Column = regexpExtractNull(c, affPattern, 1)
  def affCity(c: Column): Column = regexpExtractNull(c, affPattern, 2)
  def affCountry(c: Column): Column = regexpExtractNull(c, affPattern, 3)

  // ---- F7: "1988 Summer Olympics" → (year int, type string) ----
  def gameYear(c: Column): Column =
    regexpExtractNull(c, "^(\\d{4})\\s+(.*)$", 1).cast("int")
  def gameType(c: Column): Column = regexpExtractNull(c, "^(\\d{4})\\s+(.*)$", 2)

  // ---- F8/F9: position digits + tie flag ("=41" → 41, tied=true) ----
  def positionNumber(c: Column): Column =
    regexpExtractNull(c, "(\\d+)", 1).cast("int")
  def tiedFlag(c: Column): Column =
    when(c.isNotNull, c.contains("=")).otherwise(lit(null).cast("boolean"))

  // ---- F10: "(XYZ)" city cell promoted to country code ----
  def parenCode(c: Column): Column =
    regexpExtractNull(c, "^\\(([A-Za-z]{3})\\)$", 1)

  // ---- F12: "6-13 April" + year → "6 April <y> - 13 April <y>" halves ----
  /** Day-range competition strings: returns (startText, endText) columns.
    * "6-13 April 1900"-style inputs in the reference get rewritten to two
    * parseable dates (data_clean.py:339-355, 363-385).
    */
  def competitionHalf(c: Column, year: Column, idx: Int): Column = {
    val half = trim(split(normalizeDashes(c), "-").getItem(idx))
    // a bare-day half ("6") inherits the month of the other half downstream;
    // here we just attach the year for full halves like "13 April"
    when(half.rlike("^\\d{1,2}\\s+[A-Za-z]+$"), concat_ws(" ", half, year.cast("string")))
      .otherwise(nullif(half, lit("")))
  }

  // ---- D1: mixed-format date parse, keeps year-only (pandas semantics) ----
  def parseMixedDate(c: Column): Column =
    coalesce(
      try_to_timestamp(c, lit("d MMMM yyyy")).cast("date"),
      try_to_timestamp(c, lit("yyyy")).cast("date"))

  /** D2: "6 April" + year → date. */
  def parseDayMonthYear(day: Column, year: Column): Column =
    try_to_timestamp(concat_ws(" ", day, year.cast("string")), lit("d MMMM yyyy")).cast("date")

  /** D4: alive = no death date. */
  def isAlive(died: Column): Column = died.isNull

  // ---- M1/M2: sanity expressions used by validation ----
  def bmi(weightKg: Column, heightCm: Column): Column =
    weightKg / pow(heightCm / lit(100.0), 2)
  def bmiSane(weightKg: Column, heightCm: Column): Column =
    bmi(weightKg, heightCm).between(15, 45)
}
