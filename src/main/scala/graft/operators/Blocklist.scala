package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Blocklist screening — the curation gate that drops or flags
  * documents containing banned terms (slurs, boilerplate markers, DRM
  * strings, known-contaminant phrases). No reference counterpart
  * (SURVEY.md §7.4 LLM-pipeline category).
  *
  * One [[graft.expressions.AhoCorasickCounts]] pass per document:
  * O(len + matches) regardless of the blocklist size, map-side, zero
  * shuffle — at 100 TB the blocklist is thousands of phrases and the
  * per-term `contains` alternative is O(N·len) with N corpus scans'
  * worth of CPU. Matching is substring-level (phrases cross word
  * boundaries), case-folded via `lower` on both sides.
  */
object Blocklist {

  /** Per-pattern hit-count column (`array<long>` aligned to
    * `patterns`) over `text`, case-folded.
    */
  def hitCounts(text: Column, patterns: Seq[String]): Column = {
    require(patterns.nonEmpty, "blocklist must be non-empty")
    // Locale.ROOT: the text side case-folds via Spark's locale-
    // independent lower(); default-locale toLowerCase would turn
    // "WINDOW" into "wındow" on a Turkish JVM and silently never match
    GraftFunctions.call("aho_corasick_counts", lower(text),
      array(patterns.map(p => lit(p.toLowerCase(java.util.Locale.ROOT))): _*))
  }

  /** Adds `hits` (per-pattern counts), `hits_total`, `patterns_hit`,
    * and `blocked` (any hit) to `df`.
    */
  def annotate(df: DataFrame, textCol: String,
               patterns: Seq[String]): DataFrame = {
    df.withColumn("hits", hitCounts(col(textCol), patterns))
      .withColumn("hits_total",
        aggregate(col("hits"), lit(0L), (acc, c) => acc + c))
      .withColumn("patterns_hit",
        aggregate(col("hits"), lit(0L),
          (acc, c) => acc + when(c > 0, 1L).otherwise(0L)))
      // null text contains no banned term: blocked must be FALSE, not
      // NULL — a null would silently drop the row through filterClean's
      // !blocked (data loss in a curation gate, not a screening verdict)
      .withColumn("blocked", coalesce(col("hits_total") > 0, lit(false)))
  }

  /** The gate itself: rows with zero blocklist hits. */
  def filterClean(df: DataFrame, textCol: String,
                  patterns: Seq[String]): DataFrame =
    annotate(df, textCol, patterns)
      .filter(!col("blocked"))
      .drop("hits", "hits_total", "patterns_hit", "blocked")
}
