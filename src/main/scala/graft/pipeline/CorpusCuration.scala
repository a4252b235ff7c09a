package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation: the standard funnel every
  * pretraining dataset goes through, composed from this library's
  * operators in their scale-path forms —
  *
  *   1. language filter  ([[graft.functions.TextFunctions.langScoreTable]],
  *      one explode + one hash agg for every profile at once)
  *   2. quality filter   ([[graft.functions.TextFunctions.tokenStatsNative]],
  *      fused kernel, map-side)
  *   3. exact dedup      (whitespace-normalized md5 fingerprint, min-id
  *      canonical — [[graft.functions.TextFunctions.contentFingerprint]])
  *   4. deterministic split ([[graft.operators.Sampling.splitLabel]],
  *      pure function of the id — auditable, engine-portable)
  *
  * Each step is individually oracled elsewhere (q30/q29/q22/q45); the
  * funnel is the proof they COMPOSE: q68's oracle recomputes the whole
  * funnel independently in SQL and the stage counts must match.
  *
  * Every public entry builds through ONE private stage constructor, so
  * curate / funnel / the CLI can never disagree about what a stage is.
  */
object CorpusCuration {

  val MinTokens = 30
  val MinUniqRatio = 0.35

  // the kernel wants a stopword list for its 4th statistic; the quality
  // gate only reads n_tokens/n_unique, so the list's content is inert here
  private val Stop = Seq("the", "a", "and", "of", "to")

  /** The crawl-side funnel transform shared by q249 and
    * [[graft.streaming.CrawlStream]]: a frame of WARC blobs (any
    * carried columns + a binary `blobCol`; `source` must be among
    * them) → one curated row per admitted-candidate record:
    * (doc_id, source, body_md5). Stages: WARC record explode
    * ([[graft.sources.Warc.records]] — gzip member chains inflate
    * inline) → main-content extraction
    * ([[graft.sources.MainContent]]) → the Gopher/C4 rule table
    * MINUS the stopword rule (its English prior zeroes synthetic and
    * code-heavy corpora; the q249 scaladoc carries the measurement) →
    * bag-of-words fingerprint (md5 of the body's sorted distinct
    * tokens). Every stage is a NARROW map-side projection, which is
    * what makes the same transform legal on a streaming frame —
    * micro-batches flow through it unchanged and only the admission
    * step (dedup against the index) needs per-batch state.
    */
  def curateWarcBlobs(blobs: DataFrame, blobCol: String = "blob",
                      keepBody: Boolean = false): DataFrame =
    curateWarcRecords(graft.sources.Warc.records(blobs, blobCol), keepBody)

  /** The same funnel over FILE-GRANULAR ingest
    * ([[graft.sources.Warc.recordsFromFiles]] — record-streamed, no
    * 2 GB blob cap, the at-scale path for real ~1 GB `.warc.gz` crawl
    * segments): a frame of paths, one row per file; `source` derives
    * from the file stem (one dump file per source batch — the Common
    * Crawl segment-naming convention).
    */
  def curateWarcFiles(paths: DataFrame, pathCol: String = "path"): DataFrame =
    curateWarcRecords(
      graft.sources.Warc.recordsFromFiles(paths, pathCol)
        .withColumn("source",
          regexp_extract(col("file"), "([^/]+?)(?:\\.warc)?(?:\\.gz)?$", 1)))

  /** The post-record stages shared by the blob-column and file-path
    * ingest forms (one funnel, two readers): expects the
    * [[graft.sources.Warc.records]] columns plus `source`.
    * `keepBody = true` carries the extracted body through (what a
    * downstream scorer — e.g. [[graft.streaming.CrawlStream]]'s routed
    * admission — consumes); the default stays the lean
    * (doc_id, source, body_md5) admission shape.
    */
  def curateWarcRecords(records: DataFrame,
                        keepBody: Boolean = false): DataFrame = {
    import graft.sources.MainContent
    import graft.operators.QualityRules
    val e = MainContent.extractColumn(col("payload_text"))
    val staged = records
      .withColumn("main_text", e.getField("mainText"))
      .withColumn("extracted", col("main_text") =!= "")
      .withColumn("body", substring_index(col("main_text"), "\n", -1))
      .withColumn("body_md5",
        md5(array_join(array_sort(array_distinct(
          split(lower(col("body")), " "))), " ")))
      .withColumn("doc_id",
        element_at(split(col("target_uri"), "/"), -1).cast("long"))
    val rules = QualityRules.ruleTable(staged, "doc_id", "body",
      carryCols = Seq("source", "extracted", "body_md5") ++
        (if (keepBody) Seq("body") else Nil))
    val keep = Seq("r_word_count", "r_mean_word_len", "r_symbol_ratio",
      "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
      "r_dup_lines", "r_top_2gram", "r_top_3gram", "r_no_brace",
      "r_no_lorem").map(col).reduce(_ && _)
    rules.filter(keep && col("extracted"))
      .select(col("doc_id") +: col("source") +: col("body_md5") +:
        (if (keepBody) Seq(col("body")) else Nil): _*)
  }

  /** Stages 1–2 (shared single source of truth): language-filtered and
    * quality-filtered frames, unpersisted.
    */
  private def stages(df: DataFrame, idCol: String, textCol: String,
                     lang: String): (DataFrame, DataFrame) = {
    import graft.functions.TextFunctions
    val inLangIds = TextFunctions.langScoreTable(df.select(col(idCol), col(textCol)),
        idCol, textCol)
      .filter(col("pred_lang") === lang)
      .select(col("id").as(idCol))
    val inLang = df.select(col(idCol), col(textCol))
      .join(inLangIds, Seq(idCol), "left_semi")
    val stats = col("__st")
    val quality = inLang
      .withColumn("__st", TextFunctions.tokenStatsNative(col(textCol), Stop))
      .filter(stats.getField("n_tokens") >= MinTokens &&
        stats.getField("n_unique").cast("double") / stats.getField("n_tokens") >= MinUniqRatio)
      .drop("__st")
    (inLang, quality)
  }

  /** Stages 3–4: min-id exact dedup on the normalized fingerprint, then
    * the deterministic split label.
    */
  private def dedupAndSplit(quality: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    import graft.functions.TextFunctions
    import graft.operators.Sampling
    val fp = TextFunctions.contentFingerprint(col(textCol))
    val keepIds = quality.select(col(idCol), fp.as("__fp"))
      .groupBy(col("__fp")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    quality.join(keepIds, Seq(idCol), "left_semi")
      .withColumn("split", Sampling.splitLabel(col(idCol),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
  }

  /** Survivors of the full funnel: (id, text, split). */
  def curate(df: DataFrame, idCol: String, textCol: String,
             lang: String = "en"): DataFrame =
    dedupAndSplit(stages(df, idCol, textCol, lang)._2, idCol, textCol)

  /** Audit funnel plus the curated corpus, computed ONCE: intermediates
    * are persisted (within the caller's cache scope) and shared between
    * the counts and the returned survivors.
    */
  def funnelWithCorpus(df: DataFrame, idCol: String, textCol: String,
                       lang: String = "en"): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val (inLang, quality) = stages(df, idCol, textCol, lang)
    graft.Caches.track(inLang.persist())
    graft.Caches.track(quality.persist())
    val curated = dedupAndSplit(quality, idCol, textCol)
    graft.Caches.track(curated.persist())
    val stageCounts = Seq(
      "1_input" -> df.count(),
      s"2_lang_$lang" -> inLang.count(),
      "3_quality" -> quality.count(),
      "4_dedup" -> curated.count())
    val splits = curated.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .select(concat(lit("5_"), col("split")).as("stage"), col("n_docs"))
    (stageCounts.toDF("stage", "n_docs").unionByName(splits), curated)
  }

  /** Audit funnel only: one row per stage with its surviving doc count,
    * plus one row per final split.
    */
  def funnel(df: DataFrame, idCol: String, textCol: String,
             lang: String = "en"): DataFrame =
    funnelWithCorpus(df, idCol, textCol, lang)._1

  /** Dataset datacard: the per-language summary table a corpus RELEASE
    * ships with (the "Datasheets for Datasets" / model-card practice
    * applied to training corpora): volume (docs, tokens), shape
    * (mean chars, exact median tokens), and hygiene (near-duplicate
    * membership from the same classed-Jaccard clustering the dedup
    * pipeline runs, as ppm). One queryable artifact instead of five
    * ad-hoc notebook cells — and because every column is an exact
    * aggregate, the whole card is oracle-checkable.
    *
    * Scale shape: one token-stat pass (map-side lengths, no explode),
    * one exact-median aggregate per language, and the dedup cluster
    * membership (duplicate-sized) joined back — all partial-aggregable
    * or bounded; the corpus text never shuffles.
    */
  def dataCard(df: DataFrame, idCol: String, textCol: String,
               langCol: String, jaccardThreshold: Double = 0.8): DataFrame = {
    import graft.functions.TextFunctions
    val stats = df.select(col(idCol).as("__id"), col(langCol).as("lang"),
        length(col(textCol)).cast("long").as("__chars"),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("__toks"))
    val base = stats.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__toks")).as("n_tokens"),
        round(avg(col("__chars")), 2).as("avg_chars"),
        round(expr("percentile(__toks, 0.5)"), 1).as("median_tokens"))
    val dupDocs = graft.operators.Dedup
      .dedupClustersClassed(df, idCol, textCol, langCol, jaccardThreshold)
      .select(explode(col("member_ids")).as("__id"))
      .distinct()
      .join(stats.select(col("__id"), col("lang")), "__id")
      .groupBy("lang").agg(count(lit(1)).as("dup_docs"))
    base.join(dupDocs, Seq("lang"), "left")
      .withColumn("dup_docs", coalesce(col("dup_docs"), lit(0L)))
      .withColumn("dup_ppm", expr("dup_docs * 1000000 div n_docs"))
  }
}
