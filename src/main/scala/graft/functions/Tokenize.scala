package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** THE TOKENIZER SEAM. Every token-level operator family — stats
  * ([[TextFunctions.tokenStatsNative]]), generation-eval metrics
  * ([[graft.operators.TextEval]]), vocabulary profiling
  * ([[graft.operators.CorpusStats]]) — tokenizes through a [[Mode]]
  * so a multilingual corpus can opt into Unicode-aware segmentation
  * without changing operator code.
  *
  *  - [[Whitespace]] (default): split on whitespace, lowercase, drop
  *    empties. DuckDB-replayable (`string_split(lower(trim(t)), ' ')`),
  *    which is what keeps the oracle rows exact — and exactly WRONG on
  *    scripts without spaces (Chinese/Japanese/Thai come out one
  *    "token" per clause).
  *  - [[Unicode]]: UAX#29 word boundaries + Thai dictionary + per-char
  *    Han/Hiragana via the native
  *    [[graft.expressions.UnicodeTokens]] kernel. Not SQL-replayable —
  *    pinned by the q209 degradation/round-trip oracle and
  *    hand-segmented spec fixtures instead.
  *
  * Both modes agree bit-for-bit on single-space-separated ASCII text
  * (q209 asserts this corpus-wide), so switching a pipeline to
  * [[Unicode]] is a no-op on English data and a correctness fix on
  * everything else.
  */
object Tokenize {

  sealed trait Mode

  /** Split on whitespace — the SQL-replayable default. */
  case object Whitespace extends Mode

  /** UAX#29 + Thai dictionary + per-char Han/Hiragana (JDK-only). */
  case object Unicode extends Mode

  /** Lowercased word tokens of `text` under `mode`, empties dropped. */
  def tokens(text: Column, mode: Mode): Column = mode match {
    case Whitespace => filter(split(lower(trim(text)), "\\s+"), t => t =!= lit(""))
    case Unicode => GraftFunctions.call("unicode_tokens", text)
  }

  /** [[tokens]] in the single-space split form the DuckDB oracles use
    * (`split(lower(trim(t)), " ")` — identical on the oracle corpus,
    * cheaper than the regex split). Unicode mode has one form.
    */
  def tokensSpaceSplit(text: Column, mode: Mode): Column = mode match {
    case Whitespace => filter(split(lower(trim(text)), " "), t => t =!= lit(""))
    case Unicode => GraftFunctions.call("unicode_tokens", text)
  }
}
