package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Edit-distance self-join via deletion-neighborhood blocking (the
  * SymSpell idea): if `lev(a, b) <= d`, then deleting at most `d`
  * characters from each reaches a common variant — so hashing every
  * ≤d-deletion variant and joining on the hash yields a candidate set
  * with EXACT recall, verified by a real Levenshtein pass. Typo-level
  * entity resolution (near-identical titles, OCR noise, tracking-code
  * variants) without the all-pairs cross join.
  *
  * Scale shape: the neighborhood (O(len^d) variants per row) is
  * generated map-side as 64-bit hashes — the exploded table shuffles
  * once for the self-join (the strings ride along so the exact verify
  * is a map-side projection after the candidate dedup, not another
  * corpus join). Hash collisions only add candidates (the verify is
  * exact), never lose pairs. Short strings make hot variants (many
  * strings share a short deletion); the candidate dedup caps the
  * damage and AQE splits what remains — same skew posture as the LSH
  * band join.
  */
object FuzzyJoin {

  /** All unordered pairs (id_a < id_b) with `lev(str_a, str_b) <=
    * maxDist`, plus the exact distance. `maxDist` 1 or 2 (the
    * neighborhood grows O(len^d) — beyond 2 use the n-gram Jaccard
    * miners instead).
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"deletion-neighborhood blocking supports maxDist 1 or 2, got $maxDist")
    val rows = df.select(col(idCol).as("__id"), col(strCol).as("__s"))
      .filter(col("__s").isNotNull)

    def deletions(s: Column): Column =
      transform(sequence(lit(1), length(s)),
        i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s) - i)))

    val d1 = deletions(col("__s"))
    val neighborhood =
      if (maxDist == 1) array_union(array(col("__s")), d1)
      else array_union(array_union(array(col("__s")), d1),
        array_distinct(flatten(transform(d1, t => transform(sequence(lit(1), length(t)),
          i => concat(t.substr(lit(1), i - 1), t.substr(i + 1, length(t) - i)))))))

    val blocks = rows.select(col("__id"), col("__s"),
        explode(array_distinct(transform(neighborhood, v => xxhash64(v)))).as("__block"))
    val candidates = blocks.as("a").join(blocks.as("b"),
        col("a.__block") === col("b.__block") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__s").as("__sa"), col("b.__s").as("__sb"))
      .distinct()
    // the banded O(len·k) DP with early exit: the exact distance when
    // it is <= maxDist, -1 past the bound
    candidates
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Transposition-invariant block key: the string's characters in
    * sorted order. Adjacent-swap noise (OCR/typo transpositions — the
    * error model Jaro's transposition term exists for) permutes the
    * character MULTISET not at all, so blocking on the sorted-character
    * string has PROVABLY exact recall against swap corruption — the
    * same sound-blocking contract as the SymSpell deletion
    * neighborhood above, but for a different noise model. (For
    * insert/delete noise compose with [[editDistancePairs]] instead.)
    *
    * SQL-replayable: `md5(array_join(array_sort(split(s,'')),''))`
    * here ≡ DuckDB `md5(array_to_string(list_sort(string_split_regex
    * (s,'')),''))` — the key never crosses engines, it only has to
    * induce the same partition of rows into blocks on each side.
    */
  def anagramKey(c: Column): Column =
    md5(array_join(array_sort(split(c, "")), ""))

  /** Record linkage: match each `dirty` row to its best `clean` row by
    * Jaro–Winkler similarity ([[graft.expressions.JaroWinkler]] —
    * codegen'd, DuckDB-parity semantics), candidate pairs generated by
    * a blocking key (default [[anagramKey]]) instead of the all-pairs
    * product. Output: one row per matched dirty id — `(dirty_id,
    * match_id, score_ppm)` with `score_ppm = floor(jw · 1e6)` — the
    * best candidate at or above `minScorePpm`, ties broken by lowest
    * `match_id`.
    *
    * Scores are ranked QUANTIZED (parts-per-million) so the top-1
    * choice never hinges on a sub-ppm floating-point ulp — the
    * cross-engine determinism contract: two candidates tie exactly or
    * differ by ≥ 1e-6, and ties fall to the id order both engines
    * share.
    *
    * Scale shape: one shuffle on the block key (block sizes are
    * anagram-class sizes — bounded for real key vocabularies; a
    * degenerate key universe is a data-quality signal the
    * [[graft.operators.GroupOps]] profilers surface first), scoring is
    * map-side on the joined pairs, and the top-1 is a
    * `row_number() = 1` the optimizer executes as WindowGroupLimit —
    * per-group streaming rank, no full sort of the candidate table.
    */
  def jaroWinklerLinkage(dirty: DataFrame, dirtyId: String, dirtyStr: String,
                         clean: DataFrame, cleanId: String, cleanStr: String,
                         minScorePpm: Long,
                         blockKey: Column => Column = anagramKey): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = dirty.select(col(dirtyId).as("dirty_id"), col(dirtyStr).as("__ds"))
      .filter(col("__ds").isNotNull)
      .withColumn("__k", blockKey(col("__ds")))
    val r = clean.select(col(cleanId).as("match_id"), col(cleanStr).as("__cs"))
      .filter(col("__cs").isNotNull)
      .withColumn("__k", blockKey(col("__cs")))
    val scored = l.join(r, "__k")
      .withColumn("score_ppm",
        floor(GraftFunctions.call("jaro_winkler", col("__ds"), col("__cs")) * lit(1e6))
          .cast("long"))
      .filter(col("score_ppm") >= minScorePpm)
    val w = Window.partitionBy("dirty_id")
      .orderBy(col("score_ppm").desc, col("match_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("dirty_id"), col("match_id"), col("score_ppm"))
  }
}
