package graft

import org.scalatest.funsuite.AnyFunSuite

/** Row-id pin: the registered query and oracle ids equal the committed
  * lists in `graft/query_ids.txt` / `graft/oracle_ids.txt`. Moving rows
  * between modules must not add, drop or rename one; a deliberate
  * change to the surface updates the lists in the same commit. */
class RegistryPinSpec extends AnyFunSuite {

  private def pinned(resource: String): Set[String] = {
    val in = getClass.getResourceAsStream(resource)
    assert(in != null, s"missing test resource $resource")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toSet
    finally in.close()
  }

  private def assertSame(got: Set[String], want: Set[String]): Unit =
    assert(got == want,
      s"missing: ${(want -- got).toSeq.sorted.mkString(", ")}; " +
        s"unexpected: ${(got -- want).toSeq.sorted.mkString(", ")}")

  test("SparkEntry.queries ids equal the pinned list") {
    assertSame(SparkEntry.queries.keySet, pinned("/graft/query_ids.txt"))
  }

  test("SparkEntry.oracleSql ids equal the pinned list") {
    assertSame(SparkEntry.oracleSql.keySet, pinned("/graft/oracle_ids.txt"))
  }

  test("the dedup and graph families own every one of their rows") {
    val dedupIds = Set(
      "llm_dedup_exact", "llm_dedup_exact_norm", "llm_dedup_near",
      "llm_dedup_near_verified", "llm_dedup_ngram", "llm_dedup_simhash",
      "llm_dedup_simhash_verified", "llm_dedup_minhash_cluster",
      "llm_dedup_cluster", "llm_dedup_cross_source", "llm_dedup_editdist",
      "llm_dedup_family_spectrum", "llm_dedup_incremental",
      "llm_dedup_threshold_sweep", "llm_dedup_tier_report",
      "llm_semdedup", "llm_embed_neardup", "llm_prefix_dedup",
      "llm_line_dedup", "llm_dup_span_fraction", "llm_span_neardup",
      "llm_score_vs_dup", "llm_minhash_calibration",
      "llm_minhash_containment", "llm_lsh_bucket_audit",
      "llm_shingle_df_spectrum")
    assertSame(graft.ops.dedup.Dedup.queries.keySet, dedupIds)
    assert(graft.ops.dedup.Dedup.oracle.keySet.subsetOf(dedupIds))
    assertSame(graft.ops.graph.Graph.queries.keySet,
      SparkEntry.queries.keySet.filter(_.startsWith("graph_")))
    assert(graft.ops.graph.Graph.oracle.keySet.forall(_.startsWith("graph_")))
  }

  test("the retrieval family owns exactly its 26 rows") {
    val retrievalIds = Set(
      "llm_simsearch_topk", "llm_simsearch_knn", "llm_simsearch_hamming",
      "llm_simsearch_ann", "llm_simsearch_ann_verified",
      "llm_simsearch_ivf", "llm_simsearch_ivf_verified",
      "llm_hard_negatives", "llm_mmr_rerank", "llm_bm25", "llm_rrf_fusion",
      "llm_ivf_recall", "llm_ivf_nprobe_sweep", "llm_knn_recall",
      "llm_ann_ndcg", "llm_ann_mrr", "llm_ann_map",
      "llm_kmeans_step", "llm_cluster_purity", "llm_knn_classify",
      "llm_label_margin", "llm_source_centroid", "llm_source_sim",
      "llm_centroid_outliers", "llm_embed_pca_step", "llm_embed_quantize")
    assert(retrievalIds.size == 26)
    assertSame(graft.ops.retrieval.Retrieval.queries.keySet, retrievalIds)
    assert(graft.ops.retrieval.Retrieval.oracle.keySet.subsetOf(retrievalIds))
  }

  test("the corpus family owns exactly its 58 rows") {
    val corpusIds = Set(
      // Stats
      "llm_text_stats", "llm_token_count", "llm_token_fertility",
      "llm_tokenizer_fertility", "llm_token_histogram", "llm_length_mad",
      "llm_doc_length_by_source", "llm_dataset_card",
      // Vocabulary
      "llm_token_entropy", "llm_bpe_pair_freq", "llm_vocab_coverage",
      "llm_vocab_coverage_curve", "llm_word_pmi", "llm_source_overlap",
      "llm_bigram_cond_entropy", "llm_burstiness", "llm_kl_divergence",
      "llm_heaps_fit", "llm_zipf_fit", "llm_vocab_overlap_langs",
      // Quality
      "llm_lang_id", "llm_langid_agreement", "llm_quality_score",
      "llm_quality_gopher", "llm_filter_funnel", "llm_repetition_filter",
      "llm_code_detect", "llm_readability", "llm_pii_mask", "llm_ngram_lm",
      "llm_lm_score", "llm_perplexity_buckets", "llm_decontaminate",
      "llm_template_detect", "llm_ngram_novelty", "llm_source_novelty",
      // Sampling
      "llm_sample_stratified", "llm_sample_stratified_verified",
      "llm_sample_hash", "llm_shard_assign", "llm_bloom_prefilter",
      "llm_dsir_score", "llm_domain_mix", "llm_domain_mix_optimize",
      "llm_temperature_mix", "llm_interleave_sources",
      // Features
      "llm_tfidf", "llm_hash_features", "llm_inverse_index",
      "llm_fingerprint", "llm_winnow_fingerprint", "llm_doc_chunk",
      "llm_pack_sequences", "llm_span_mask", "llm_feature_scale",
      "llm_multimodal_cols", "llm_multimodal_binary",
      "llm_multimodal_frames")
    assert(corpusIds.size == 58)
    assertSame(graft.ops.corpus.Corpus.queries.keySet, corpusIds)
    assert(graft.ops.corpus.Corpus.oracle.keySet.subsetOf(corpusIds))
    // every llm_* row now lives in one of the three families
    val families = graft.ops.corpus.Corpus.queries.keySet ++
      graft.ops.dedup.Dedup.queries.keySet ++
      graft.ops.retrieval.Retrieval.queries.keySet
    assertSame(families, SparkEntry.queries.keySet.filter(_.startsWith("llm_")))
  }

  test("the stats family owns exactly its 42 rows") {
    val statsIds = Set(
      // TwoSample
      "agg_welch_t", "agg_mann_whitney", "agg_ks_test", "agg_cliffs_delta",
      "agg_cvm_test", "agg_anderson_darling", "agg_cohens_d",
      "agg_wasserstein_distance", "agg_trimmed_winsorized_mean",
      "agg_brunner_munzel", "agg_qq_deciles", "agg_median_ci",
      "agg_gini_mean_diff", "agg_bhattacharyya_overlap",
      "agg_mood_scale_test", "agg_logrank_test",
      // KSample
      "agg_anova_f", "agg_levene_test", "agg_kruskal_wallis",
      "agg_mood_median_test", "agg_bartlett_test", "agg_tukey_hsd",
      "agg_dunn_posthoc", "agg_jonckheere_terpstra",
      // Blocked
      "agg_wilcoxon_signed_rank", "agg_sign_test", "agg_mcnemar_test",
      "agg_friedman_test", "agg_kendalls_w", "agg_cochran_q",
      "agg_page_trend_test", "agg_quade_test", "agg_cronbach_icc",
      // Association
      "agg_chi_square", "agg_fisher_exact", "agg_odds_ratio",
      "agg_mantel_haenszel", "agg_cramers_v", "agg_spearman_rho",
      "agg_kendall_tau_b",
      // Normality
      "agg_jarque_bera", "agg_grubbs_test")
    assert(statsIds.size == 42)
    assertSame(graft.ops.stats.Stats.queries.keySet, statsIds)
    assert(graft.ops.stats.Stats.oracle.keySet.subsetOf(statsIds))
  }

  test("the time-series family owns exactly its 53 rows") {
    val timeSeriesIds = Set(
      // Forecast
      "win_ewma_backtest", "win_holt_backtest", "evt_holt_winters",
      "evt_seasonal_naive_backtest",
      // Control
      "evt_shewhart_individuals", "evt_ewma_chart", "win_cusum_drift",
      "evt_page_hinkley", "evt_anomaly_mad",
      // Correlation
      "evt_ljung_box", "win_acf_table", "evt_pacf_table",
      "evt_cross_correlation", "evt_granger_lite", "evt_durbin_watson",
      "agg_autocorr", "win_rolling_corr",
      // Stationarity
      "evt_kpss_level", "evt_adf_unit_root", "evt_hurst_rs",
      "evt_variance_ratio", "evt_segmented_trend", "evt_chow_test",
      "evt_seasonal_mann_kendall", "evt_changepoint", "agg_theil_sen",
      "evt_theil_sen_trend", "evt_pettitt_changepoint",
      "evt_buishand_range",
      // Patterns
      "dq_calendar_gaps", "win_runs_test", "win_turning_points",
      "win_aroon", "evt_seasonal_strength", "evt_periodogram",
      "win_seasonal_decompose", "evt_anomaly_stl",
      // Indicators
      "win_bollinger", "win_rsi", "win_ulcer_index", "agg_cvar",
      "win_true_range_atr", "win_donchian_channel", "win_pivot_points",
      "win_keltner_channel", "win_ewma_smooth", "win_macd",
      "win_stochastic", "win_rolling_skew", "win_rolling_median",
      "win_drawdown", "win_drawdown_duration", "win_vwap")
    assert(timeSeriesIds.size == 53)
    assertSame(graft.ops.timeseries.TimeSeries.queries.keySet, timeSeriesIds)
    assert(graft.ops.timeseries.TimeSeries.oracle.keySet.subsetOf(timeSeriesIds))
  }

  test("the data-quality family owns exactly its 17 rows") {
    val dqIds = Set(
      // Digits
      "agg_benford", "dq_benford_first_two", "dq_benford_second_digit",
      "dq_last_digit_uniformity",
      // Integrity
      "dq_constraint_check", "dq_uniqueness_audit",
      "dq_referential_integrity", "dq_functional_dependency",
      "dq_order_reconciliation",
      // Drift
      "dq_generation_drift", "dq_schema_drift", "dq_freshness",
      "dq_out_of_order_audit",
      // Profiles
      "dq_outlier_fences", "dq_k_anonymity", "dq_embedding_norms",
      "dq_hash_uniformity")
    assert(dqIds.size == 17)
    assertSame(graft.ops.dq.DataQuality.queries.keySet, dqIds)
    assertSame(graft.ops.dq.DataQuality.oracle.keySet, dqIds)
    // every dq_* row is in the family, except the one that reads the
    // daily series
    val dqRows = SparkEntry.queries.keySet.filter(_.startsWith("dq_"))
    assertSame(dqRows - "dq_calendar_gaps",
      graft.ops.dq.DataQuality.queries.keySet - "agg_benford")
    assert(graft.ops.timeseries.TimeSeries.queries.contains("dq_calendar_gaps"))
  }
}
