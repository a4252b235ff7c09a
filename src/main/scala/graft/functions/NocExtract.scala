package graft.functions

import java.util.regex.Pattern

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** F13 — the reference's one genuinely stateful scalar: NOC / country-name
  * normalization (reference pandas_based/src/data_clean.py:172-256; the Glue
  * UDF variant data_clean_glue.py:199-284 is disabled in its pipeline, so
  * pandas semantics are the spec per SURVEY §2.13.8).
  *
  * Semantics: lowercase/trim → substitute legacy/historical country names →
  * normalize `[/,;]` and the word "and" to spaces → scan for valid country
  * names longest-first as whole words (consuming matches so substrings don't
  * double-count) → emit the sorted, comma-joined set; if nothing matched,
  * pass through the whitespace-collapsed lowercased original.
  *
  * This is a Scala UDF over a broadcast, compiled country list — one pass
  * over short strings; per SURVEY §4.3 a codegen Expression is not worth
  * it unless BENCH shows it hot. The broadcast keeps the (tiny, bounded)
  * lookup off the closure-serialization hot path at 1000 executors.
  */
object NocExtract {

  /** Historical country names → current equivalents (reference
    * data_clean.py:184-219 — data mapping, i.e. WHAT to compute).
    */
  val legacyMap: Seq[(String, String)] = Seq(
    "west germany" -> "germany",
    "east germany" -> "germany",
    "germany west germany" -> "germany",
    "germany saar" -> "germany",
    "german democratic republic" -> "germany",
    "saar" -> "germany",
    "soviet union" -> "russian federation",
    "ussr" -> "russian federation",
    "unified team" -> "russian federation",
    "czechoslovakia" -> "czechia",
    "bohemia" -> "czechia",
    "yugoslavia" -> "serbia",
    "serbia and montenegro" -> "serbia",
    "rhodesia" -> "zimbabwe",
    "malaya" -> "malaysia",
    "north yemen" -> "yemen",
    "south yemen" -> "yemen",
    "burma" -> "myanmar",
    "peoples republic of china" -> "china",
    "republic of korea" -> "south korea",
    "korea team" -> "south korea",
    "democratic people's republic of korea" -> "north korea",
    "islamic republic of iran" -> "iran",
    "kingdom of saudi arabia" -> "saudi arabia",
    "united arab republic" -> "egypt",
    "republic of moldova" -> "moldova",
    "roc" -> "russian federation",
    "great britain" -> "united kingdom",
    "the bahamas" -> "bahamas",
    "hong kong, china" -> "hong kong",
    "taiwan" -> "chinese taipei",
    "viet nam" -> "vietnam")

  /** Pure scalar implementation (unit-testable without Spark); compiles
    * the vocabulary's patterns on every call. Per-row callers use
    * [[Compiled]], which runs the same scan over patterns compiled once.
    */
  def extract(nocStr: String, validCountriesLongestFirst: Seq[String]): String =
    scan(nocStr, validCountriesLongestFirst.view.map(c => c -> wholeWord(c)))

  /** [[extract]] for one vocabulary, its country patterns compiled once:
    * the value [[nocCountries]] broadcasts. The patterns are
    * `@transient lazy`, so each JVM compiles them on first use after
    * deserializing the broadcast, not once per row.
    */
  final class Compiled(countriesLongestFirst: Seq[String]) extends Serializable {
    @transient private lazy val patterns: Array[(String, Pattern)] =
      countriesLongestFirst.map(c => c -> wholeWord(c)).toArray
    def apply(nocStr: String): String = scan(nocStr, patterns)
  }

  private val separators = Pattern.compile("[/,;]")
  private val andWord = Pattern.compile("\\band\\b")
  private val whitespace = Pattern.compile("\\s+")

  private def wholeWord(country: String): Pattern =
    Pattern.compile("(?<!\\w)" + Pattern.quote(country) + "(?!\\w)")

  private def scan(nocStr: String, patterns: Iterable[(String, Pattern)]): String = {
    if (nocStr == null) return ""
    var s = nocStr.toLowerCase.trim
    legacyMap.foreach { case (old, nw) => if (s.contains(old)) s = s.replace(old, nw) }
    s = separators.matcher(s).replaceAll(" ")
    s = andWord.matcher(s).replaceAll(" ")
    s = whitespace.matcher(s).replaceAll(" ").trim
    val found = scala.collection.mutable.SortedSet.empty[String]
    patterns.foreach { case (country, p) =>
      // the literal is a necessary condition of the whole-word match
      if (s.contains(country)) {
        val m = p.matcher(s)
        if (m.find()) {
          found += country
          s = m.replaceAll(" ")
        }
      }
    }
    if (found.isEmpty) whitespace.matcher(nocStr.toLowerCase.trim).replaceAll(" ")
    else found.mkString(",")
  }

  /** Column builder: `nocCountries(spark, countries)($"NOC")`. */
  def nocCountries(spark: SparkSession, validCountries: Seq[String]): Column => Column = {
    val prepared = validCountries.map(_.toLowerCase.trim).distinct.sortBy(-_.length)
    val bc: Broadcast[Compiled] = spark.sparkContext.broadcast(new Compiled(prepared))
    val f = udf((s: String) => bc.value(s))
    (c: Column) => f(c)
  }
}
