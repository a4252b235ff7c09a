package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.sources.BaseRelation

import graft.pipeline.{OlympicFixtures, OlympicPipelineMain, OlympicSchemas}
import graft.sources.Tables

/** Scan-multiplicity audit: every declared query (sf0.001) and every
  * Olympic pipeline output (bronze written from [[OlympicFixtures]]) may
  * scan one relation at most its committed budget of times. The count is
  * the number of `LogicalRelation` leaves of the optimized plan, subquery
  * plans included, grouped by the relation's root paths (a relation's
  * `toString` is only its format name, which lumps different tables
  * together). A persisted frame shows up as an `InMemoryRelation` leaf;
  * the scans of the plan that fills it are counted in its place, so that
  * a persist cannot hide a doubling below it. Each cache is counted once
  * however often the plan reads it, because it is filled once. A frame
  * that joins a function of itself back onto itself doubles every scan
  * below the join; chained, the doubling compounds, and this spec stops
  * it before it ships.
  *
  * The budgets only go down: when a change lowers an output's count,
  * lower its budget with it. Outputs at 8 or more carry their reason.
  */
class ScanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Budget -> the outputs held to it. */
  private val budgets: Map[String, Int] = Seq(
    0 -> """q109_audio_features q110_video_metadata q113_pagerank q119_frame_sample
      q126_label_prop q134_image_pool q135_corpus_shuffle q136_audio_spectrum q139_kcore
      q163_image_dhash q164_dhash_invariance q174_containment_pairs q188_mmr_diversify
      q19_dense_id q202_png_dhash q203_jpeg_dhash_stability q204_png_pool q215_gif_dhash
      q223_binary_eval q226_bradley_terry q228_logreg_gd q231_mann_whitney q232_ks_test
      q234_ewma q244_pca_top q246_pca_deflate q250_unigram_em q252_unigram_prune
      q255_warc_file_ingest q263_hits q36_multimodal q59_pack_concat q67_quantile_buckets""",
    1 -> """dim_affiliations dim_games failure_cases_editions failure_cases_results
      fct_results q01_pricing_summary q02_filter_project q03_join_revenue
      q04_left_join_counts q05_anti_join q06_semi_join q07_top_order_per_customer
      q08_group_mode q09_grouped_median q100_transitions q102_inverted_index
      q103_filtered_ann q106_topk_per_group q107_share_of_total q108_zonemap_scan
      q10_distinct q111_semantic_dedup q112_lm_crossentropy q114_selective_lsh
      q117_bitmap_distinct q121_pq_encode q127_retention q12_explode_tokens
      q131_kmv_retention q138_group_sample q13_regex_extract q140_hilbert q143_session_paths
      q148_windowed_heavy_hitters q149_windowed_distinct q14_date_parts q153_stateful_agg
      q15_conditional q165_orc_roundtrip q166_bot_rate_gate q168_time_travel
      q169_k_anonymity q16_pivot q170_hashed_features q175_containment_dedup
      q17_null_profile q181_chao1 q182_zipf_slope q183_gini_sources q186_weighted_topk
      q187_trend_slopes q189_jsonl_roundtrip q18_duplicates q190_dp_counts q195_code_tokens
      q197_winnowed_pairs q198_bleu q199_rouge q200_corpus_bleu q201_self_bleu q205_chrf
      q206_rouge_l q207_wer q208_eval_rollup q209_unicode_tokens q20_ffill
      q210_unicode_vocab q211_bleu_multi q212_rouge_multi q214_adaptive_join
      q216_unicode_dedup q217_sentence_chunks q218_wer_multi q219_blocklist q21_validation
      q221_lpt_shards q224_auc_by_source q229_unimax_mix q22_dedup_exact q230_chi_square
      q233_train_eval q235_two_proportion q236_psi q237_auc_ci q238_main_content
      q239_gopher_rules q23_jaccard_pairs q240_host_gate q241_warc_ingest
      q242_crawl_pipeline q245_abtt q247_warc_gz_ingest q248_lang_nb q24_minhash_lsh
      q251_unigram_tokens q253_lang_routing q257_routed_curation q258_unigram_nbest
      q25_simhash q261_kneser_ney q26_cosine_pairs q27_ann_topk q28_ann_lsh q29_text_stats
      q30_lang_id q31_fingerprint q32_json_extract q33_tumbling_window q34_sliding_window
      q35_session_window q37_rollup q38_cube q39_count_distinct q40_global_topk
      q42_range_join q43_ivf_assign q44_ngram_jaccard q45_hash_split q46_pii_scrub
      q47_salted_join q49_dedup_components q50_chunk_documents q51_bloom_join q54_zorder
      q55_normalize_nfc q56_approx_quantiles q58_quantize_int8 q61_hotkey_salt
      q62_source_cap q64_repetition q71_url_normalize q72_vocab_topk q76_rolling_window
      q77_scd2 q78_quality_model q79_token_entropy q82_corr_stats q84_funnel q86_unpivot
      q87_rank_family q88_date_features q89_random_projection q96_stratified_split
      q99_merge_intervals""",
    2 -> """bridge_athletes_affiliations q101_moments q118_hll_rollup q11_union_by_name
      q124_bpe_tokenize q129_triangles q133_cms_freq q141_rrf_fusion q144_rolling_mau
      q145_cohort_matrix q147_substring_dedup q155_seasonal_anomalies q156_unattributed
      q157_cdc_chunks q158_record_linkage q159_leakage_safe_split q160_key_skew_profile
      q167_matryoshka_recall q177_quantile_bins q179_benford_audit q180_ab_test
      q184_bootstrap_ci q196_semantic_decontam q213_paired_bootstrap q222_calibration_ece
      q227_isotonic_fit q249_incremental_crawl q254_tokenizer_fertility q256_byte_bpe
      q259_ccnet_buckets q262_wordpiece q41_asof_join q48_interval_join q52_approx_distinct
      q53_cdc_merge q63_incremental_agg q65_span_dedup q66_kmeans_step q68_curation_funnel
      q70_weighted_sample q74_ngram_decontaminate q80_winsorize q81_kl_divergence
      q83_heavy_hitters q85_edit_distance q90_ivf_topk q92_full_outer q93_asof_forward
      q94_asof_nearest q95_cluster_resolve q97_snapshot_diff q98_gapfill_resample""",
    3 -> """q116_line_dedup q120_quantile_sketch q132_hard_negatives q146_conversion_lag
      q150_windowed_quantiles q151_substring_cut q162_mixture_rebalance q171_datacard
      q176_target_encoding q185_cohens_kappa q191_delta_join q243_robots_gate q260_url_canon
      q57_bm25 q60_contamination q73_tfidf""",
    4 -> """dim_athletes failure_cases_bios q105_robust_outliers q115_incremental_dedup
      q137_join_cardinality q172_ref_integrity q173_gdpr_erase q178_mutual_info q192_rbo
      q193_mad_outliers q194_rfm_features q225_spearman q69_set_ops""",
    5 -> """q104_temperature_sample q130_dsir_weights q75_pmi_collocations""",
    6 -> """q142_cluster_labels q220_bitext_margin""",
    7 -> """q122_pq_adc q123_retrieval_metrics q152_ivfpq q161_stupid_backoff
      q91_table_profile""",
    // psiBins: each half's histogram joins the base's bin bounds: 2 x 2
    4 -> "q125_drift_psi",
    // the banded check recomputes q125's exact PSI (4) beside the sketch
    // PSI's two halves (2)
    6 -> "q128_sketch_drift",
    // tableProfile reads each half once for its shared aggregate and once
    // per column for the distinct count: 2 x (1 + 5)
    12 -> "q154_profile_diff"
  ).flatMap { case (b, names) => names.split("\\s+").filter(_.nonEmpty).map(_ -> b) }.toMap

  /** Scans per relation in `df`'s optimized plan, keyed by the
    * relation's root paths. A cache is counted through the physical plan
    * that fills it (before adaptive execution rewrites it), where the
    * caches below it are scans of their own.
    */
  private def scans(df: DataFrame): Map[String, Int] = {
    def name(r: BaseRelation): String = r match {
      case h: HadoopFsRelation => h.location.rootPaths.mkString(",")
      case r => r.toString
    }
    val counted = mutable.Set.empty[SparkPlan]
    def cache(m: InMemoryRelation): Seq[String] =
      if (counted.add(m.cacheBuilder.cachedPlan)) physical(m.cacheBuilder.cachedPlan) else Nil
    def physical(plan: SparkPlan): Seq[String] = plan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => physical(a.inputPlan)
      case s: DataSourceScanExec => Seq(name(s.relation))
      case s: InMemoryTableScanExec => cache(s.relation)
    }.flatten
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case l: LogicalRelation => Seq(name(l.relation))
      case m: InMemoryRelation => cache(m)
    }.flatten.groupBy(identity).map { case (rel, leaves) => rel -> leaves.size }
  }

  private def maxScans(byRelation: Map[String, Int]): Int = byRelation.values.maxOption.getOrElse(0)

  /** The eight pipeline outputs over the fixture bronze, written to
    * parquet (and the ISO lookup to CSV) so that every input is a scan.
    */
  private lazy val olympicScans: Map[String, Map[String, Int]] = {
    val bronzeDir = java.nio.file.Files.createTempDirectory("scan-audit").toString
    Map("biodata" -> OlympicFixtures.bronzeBiodata(spark),
        "results" -> OlympicFixtures.bronzeResults(spark),
        "editions" -> OlympicFixtures.bronzeEditions(spark))
      .foreach { case (n, df) => Tables.write(df, s"$bronzeDir/$n.parquet") }
    OlympicFixtures.isoLookup(spark).write.option("header", "true").csv(s"$bronzeDir/iso_codes.csv")
    val bronze = Seq("biodata", "results", "editions")
      .map(n => n -> Tables.table(spark, bronzeDir, n)).toMap
    val iso = Tables.csv(spark, s"$bronzeDir/iso_codes.csv", OlympicSchemas.isoCountryCodes)
    Caches.withScope {
      OlympicPipelineMain.run(bronze, iso).map { case (n, df) => n -> scans(df) }
    }
  }

  test("the height/weight imputation reads biodata and results four times each, the ISO lookup once") {
    for (n <- Seq("dim_athletes", "failure_cases_bios"))
      assert(olympicScans(n).map { case (path, k) => path.split('/').last -> k } ==
        Map("biodata.parquet" -> 4, "results.parquet" -> 4, "iso_codes.csv" -> 1), n)
  }

  test("no output scans one relation more often than its budget") {
    val queryScans = SparkEntry.queries.toSeq.map { case (name, fn) =>
      name -> Caches.withScope(maxScans(scans(fn(spark, dir))))
    }
    val maxes = (queryScans ++ olympicScans.map { case (n, byRelation) => n -> maxScans(byRelation) }).toMap
    val measured = maxes.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map { case (b, outs) =>
      s"$b -> ${outs.map(_._1).sorted.mkString(" ")}"
    }.mkString("measured:\n", "\n", "")
    val unbudgeted = maxes.keySet -- budgets.keySet
    if (unbudgeted.nonEmpty) fail(s"outputs without a scan budget: ${unbudgeted.toSeq.sorted}\n$measured")
    val gone = budgets.keySet -- maxes.keySet
    assert(gone.isEmpty, s"budgets for outputs that no longer exist: ${gone.toSeq.sorted}")
    val over = maxes.toSeq.sorted.collect {
      case (n, s) if s > budgets(n) => s"$n scans one relation $s times (budget ${budgets(n)})"
    }
    if (over.nonEmpty) fail(over.mkString("", "\n", s"\n$measured"))
    maxes.toSeq.sorted.foreach { case (n, s) =>
      if (s < budgets(n)) info(s"$n now scans one relation $s times: lower its budget")
    }
  }
}
