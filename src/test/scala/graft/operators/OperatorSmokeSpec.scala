package graft.operators

import graft.{Graft, SparkEntry, SparkSpec}

/** Spot-checks per operator family at sf0.001 (full oracle equivalence is
  * driven by Verify + the DuckDB gate; these keep `sbt test` meaningful
  * standalone and document expected shapes). */
class OperatorSmokeSpec extends SparkSpec {

  test("every SURVEY §2 query key is registered with an oracle or rows-only check") {
    val expected = Set(
      "q65_orderbook_aging", "e48_user_gini", "e49_dau_volatility",
      "t38_length_outliers", "t39_quality_quartiles", "s15_knn_margin",
      "m13_size_outliers", "p15_quality_dup_matrix",
      "q66_clv_quartiles", "e50_activation_lag", "e51_error_rate_series",
      "t40_casing_profile", "s16_label_homophily", "d33_cross_lang_dup",
      "p16_dedup_lang_impact",
      "q67_supplier_hhi", "m14_modality_entropy", "p17_source_funnel",
      "e52_hourly_load_percentiles", "q68_basket_pairs", "d34_pair_quality_bias",
      "q01_pricing_summary", "q02_filter_project", "q03_top_revenue", "q04_order_priority",
      "q05_region_revenue", "q06_forecast_revenue", "q07_window_rank", "q08_running_total",
      "q09_rollup", "q10_distinct_agg", "q11_anti_join", "q12_set_ops", "q13_conditional_agg",
      "q14_string_ops", "q15_date_ops", "q16_scalar_subquery", "q17_having", "q18_percentile",
      "q19_null_handling", "q20_nation_revenue", "q21_approx_stats", "q22_pivot", "q23_moving_avg", "q24_cube",
      "q25_ranking_suite", "q26_last_shipper", "q27_small_quantity", "q28_dormant_balances",
      "q29_top_supplier", "q30_order_distribution", "q31_volume_shipping", "q32_market_share",
      "q33_returned_items", "q34_promo_effect", "q35_large_orders", "q36_or_predicates",
      "q37_heavy_hitters", "e17_event_paths", "d14_bloom_decontam", "t15_chunk_dedup",
      "q38_exact_corr", "e18_gap_bands", "t16_zipf_head", "d15_dup_centrality",
      "e19_conversion_lag", "t17_lexical_diversity", "e20_type_entropy",
      "q39_yoy_growth", "d16_containment", "t18_gram_novelty", "q40_cohort_ltv",
      "e21_seasonality", "d17_containment_capped",
      "q41_mad_dispersion", "q42_grouping_sets", "e22_burstiness", "t19_charclass",
      "d18_minhash_clusters", "s08_range_search", "p05_multimodal_curation",
      "q43_higher_moments", "t20_bigram_lm", "e23_session_conversion",
      "p06_incremental_ingest", "e24_rolling_active_sketch", "q44_iqr_quartiles",
      "e25_funnel_windowed", "d19_dedup_report",
      "e01_sessionize", "e02_tumbling_window", "e03_funnel", "e04_retention", "e05_top_users",
      "e06_json_extract", "e07_user_stats", "e08_asof_join", "e09_sessionize_scaleout",
      "e10_asof_join_scaleout", "e11_attribution_window", "e12_transitions", "e13_anomaly_hours",
      "e14_rolling_active", "e15_decay_score", "e16_value_deciles",
      "d01_exact_dedup", "d02_minhash_lsh", "d03_ngram_jaccard", "d04_simhash", "d06_jaccard_capped",
      "d05_embedding_neardup", "d07_embedding_neardup_lsh", "d08_priority_dedup", "d13_semdedup",
      "d09_incremental_dedup", "d10_dup_clusters", "d11_decontaminate", "d12_fuzzy_decontam",
      "s01_ann_brute_topk", "s02_ann_lsh", "s03_ann_ivf", "s04_ann_ivfpq", "s05_knn_label",
      "s06_ann_sq8", "s07_mips_topk",
      "t01_token_stats", "t02_quality_score", "t03_langid", "t04_fingerprint", "t05_redaction",
      "t06_stratified_sample", "t07_token_histogram", "t08_winnow_pairs", "t09_tfidf_keywords",
      "t11_lm_score", "t12_lang_mix", "t13_source_overlap", "t10_repetition", "t14_ppl_buckets",
      "m01_binary_meta", "m02_decode_features", "m03_frame_sample", "m04_resize",
      "m05_payload_neardup", "m06_modality_route", "m07_payload_clusters",
      "p01_corpus_pipeline", "p02_embedding_pipeline", "p03_token_budget_mix",
      "p04_decontam_pipeline",
      "q45_order_gaps", "q46_price_histogram", "e26_touch_attribution",
      "t21_vocab_coverage", "d20_source_dup_matrix", "m08_byte_entropy",
      "s09_ann_recall", "p07_training_manifest",
      "q47_above_avg_orders", "t22_unigram_entropy", "d21_df_profile",
      "m09_modality_sizes", "s10_ivf_cell_stats", "p08_corpus_datasheet",
      "q48_ship_latency", "e27_session_cooccurrence", "t23_source_divergence",
      "d22_dedup_funnel", "t24_bpe_pair_counts", "p09_sequence_packing",
      "q49_part_concentration", "e28_growth_accounting", "e29_rfm_segments",
      "t25_vocab_growth", "d23_prefix_dedup", "s11_cos_histogram",
      "q50_segment_share", "e30_engagement_depth", "e31_type_lift",
      "t26_sentence_stats", "m10_source_modality", "p10_mixture_epochs",
      "q51_discount_bands", "e32_load_ratio", "d24_threshold_sweep",
      "t27_template_rate", "s12_neighbor_degree", "m11_modality_dup_rate",
      "q52_balance_bands", "e33_new_vs_returning", "t28_word_length_hist",
      "t29_gram_coverage", "d25_pair_length_bias", "p11_dedup_savings",
      "d26_dup_families", "e34_audience_overlap", "e35_session_size_hist",
      "t30_dup_ngram_rate", "s13_sq8_error_hist", "p12_shard_manifest",
      "q53_repeat_rate", "e36_velocity_screen", "t31_length_quartiles",
      "t32_numeric_density", "p13_epoch_plan",
      "q54_order_shape", "d28_cluster_sizes", "s14_recall_curve",
      "e37_first_session_conversion", "t33_stopword_coverage",
      "d29_lsh_candidate_report", "p14_curation_ledger",
      "d30_dedup_source_flow", "t35_quality_by_length",
      "e38_retention_triangle", "q55_revenue_concentration",
      "e39_revisit_gaps", "q56_balance_order_corr",
      "d31_containment_sweep", "t36_bigram_entropy",
      "q57_latency_percentiles", "e40_type_mix_trend", "d32_fp_vs_jaccard",
      "t37_zipf_slope", "m12_size_quartiles",
      "e41_purchase_size_hist", "q58_fill_rate",
      "q59_product_line_profit", "q60_nation_trade_balance",
      "q61_brand_price_book", "q62_quarter_mix",
      "q63_returned_share_series", "q64_status_priority_matrix",
      "e42_dow_profile", "e43_lifespan_bands", "e44_cohort_value",
      "e45_daily_purchase_rate", "e46_peak_hours", "e47_type_diversity",
      "q69_weekday_profile", "q70_pareto_points", "q71_monthly_active",
      "q72_segment_gini", "q73_discount_qty_corr", "q74_nation_return_rate",
      "q75_key_skew_census", "q76_brand_rank_shift",
      "e53_entry_event", "e54_hour_dow_heatmap", "e55_session_duration_hist",
      "e56_daily_trend", "e57_power_user_share", "e58_user_features",
      "e59_entry_exit_matrix",
      "t41_hapax_profile", "t42_vocab_gini", "t43_pmi_collocations",
      "t44_sentence_dup",
      "s17_dim_stats", "s18_norm_band_profile",
      "d35_pair_transitivity", "d36_leak_by_source",
      "m15_prefix_census", "m16_size_entropy_corr",
      "p18_quality_budget_curve",
      "q77_seasonality_index", "q78_value_migration",
      "d37_keeper_regret", "s19_exact_dup_vectors",
      "e60_segment_360", "q79_fk_integrity",
      "e61_purchase_reconciliation", "p19_keeper_policy_compare",
      "s20_embedding_coverage", "q80_line_position_profile", "e62_id_continuity",
      "d38_degree_histogram", "p20_cross_shard_dups",
      "e63_lifespan_value_corr", "q81_nation_segment_census", "s21_label_balance",
      "d39_lsh_bucket_histogram", "e64_entry_conversion",
      "e65_depth_conversion", "q82_supplier_redundancy",
      "q83_priority_mix_trend", "d40_containment_direction",
      "m17_modality_quality", "p22_lang_funnel",
      "d41_cluster_source_purity", "q84_discount_return_rate",
      "q85_fulfillment_span", "q86_line_dominance", "q87_brand_reorder_rate",
      "q88_supplier_tiers", "q89_basket_brand_diversity",
      "e66_session_revenue_hist", "e67_repurchase_latency", "e68_value_frontload",
      "e69_stickiness", "e70_error_recovery",
      "t45_word_branching", "s22_centroid_cohesion", "m18_header_entropy",
      "d42_dupsize_quality", "p23_stage_order_ab", "t46_word_burstiness",
      "q90_discount_favoritism", "e71_arpdau", "s23_centroid_confusion",
      "e72_segment_conversion", "d43_boilerplate_shingles",
      "e73_dow_revenue", "q91_churn_series",
      "q92_promo_grid", "p24_dataset_card", "m19_modality_lang_matrix",
      "e74_first_purchase_depth", "q93_tenure_census", "t47_lang_quality",
      "s24_dim_variance", "e75_activity_zipf", "d44_containment_flow",
      "q94_region_trade_matrix", "e76_lifecycle_census", "m20_entropy_outliers",
      "q95_tax_bands", "e77_active_streaks", "s25_lang_label_confound",
      "p25_shard_balance",
      "e78_reactivation_census", "e79_value_anomaly", "d45_dup_locality",
      "t48_char_bigram_entropy", "q96_nation_brand_affinity",
      "q97_brand_loyalty", "e80_lifecycle_type_mix",
      "t49_ingestion_quality_drift",
      "m21_modality_mix_drift", "s26_embedding_drift",
      "q98_return_by_tenure", "e81_weekend_profile", "d46_dup_rate_drift",
      "e82_cms_heavy_hitters", "e83_early_engagement_ltv",
      "q99_active_years",
      "s27_mutual_knn", "q100_brand_price_premium", "p26_snapshot_diff",
      "d47_dup_pagerank", "e84_volume_ewma", "m22_dedup_roi",
      "e85_adaptive_anomaly_days", "q101_spend_trend_census",
      "t51_vocab_half_divergence",
      "e86_rolling_value_bands", "s28_dedup_centroid_shift",
      "q102_seasonal_decomposition", "t52_trending_terms",
      "e87_session_handoff", "d48_weighted_jaccard", "p27_anneal_plan",
      "m23_router_sensitivity", "e88_alert_threshold_sweep",
      "s29_sq8_recall", "t53_langid_by_length", "d49_weighting_effect",
      "d50_norm_exact_dedup", "d51_shingle_sensitivity",
      "s30_metric_agreement", "p28_split_leakage",
      "e89_step_dwell", "t54_langid_margin", "p29_cluster_split",
      "e90_type_lag_matrix", "m24_prefix_drift", "p30_split_gate",
      "d52_band_sweep", "t55_quality_attribution", "s31_label_recall",
      "e91_lateness_profile", "d53_minhash_error",
      "e92_entry_retention", "s32_recall_at_k",
      "t56_template_flow", "p31_split_stability",
      "e93_gap_sweep", "d54_cap_sweep",
      "e94_anomaly_agreement", "q103_weighted_median", "s33_norm_recall",
      "t57_gram_redundancy", "p32_corpus_scorecard",
      "q104_discount_elasticity", "e95_prop_band_lift",
      "t58_lang_confusability", "s34_knn_confusion",
      "m25_size_drift", "p33_temperature_sweep",
      "q105_return_abuse", "e96_peak_concurrency",
      "s35_neighbor_diversity", "t59_readability",
      "m26_truncation_screen", "p34_curriculum_plan",
      "q106_price_dispersion", "e97_error_bursts",
      "d55_pair_cost_model", "s36_norm_by_label",
      "t60_code_screen", "p35_budget_gap",
      "q107_order_backlog", "e98_type_run_lengths",
      "t61_link_density", "m27_size_band_matrix", "p36_shard_skew",
      "q108_approx_quantiles", "s37_dim_truncation_recall",
      "s38_label_propagation", "t62_group_sample",
      "q109_order_cadence", "e99_hour_regularity", "d56_lsh_s_curve",
      "s39_dim_pair_corr", "t63_anchor_terms", "m28_store_shard_balance",
      "q110_balance_activity", "e100_behavior_stability", "d57_seed_buckets",
      "s40_intrinsic_dim", "t64_ocr_noise", "p37_holdout_drift",
      "q111_benford_audit", "e101_hll_audit", "s41_centroid_margin",
      "t65_rank_correlation", "p38_context_fill",
      "q112_theil_decomposition", "e102_markov_stationary", "d58_perm_sweep",
      "q113_revenue_autocorr", "s42_clustering_coeff", "e103_kmv_audit",
      "e104_exponential_fit", "s43_power_iteration",
      "q114_seasonality_strength", "t66_fertility", "q115_rfm_octants",
      "d59_sketch_agreement", "q116_balance_two_sample",
      "e105_hourly_autocorr",
      "q117_multi_supplier_parts", "q118_promo_tax_matrix",
      "q119_year_brand_share", "q120_order_price_audit",
      "q121_qty_price_heatmap", "q122_brand_quarter_share",
      "e106_value_persistence", "e107_session_position_value",
      "e108_age_value_curve", "e109_purchase_regularity",
      "d60_posting_skew", "d61_distinct_shingle_sketch",
      "s44_hub_census", "s45_density_hubness",
      "m29_size_cdf", "m30_magic_coverage",
      "p39_decontam_order_ab", "p40_temperature_rebalance",
      "p41_accounting_drift", "p42_quality_gate_sweep",
      "q123_price_band_returns", "q124_nation_customer_hhi",
      "e110_bounce_by_entry", "e111_value_gini",
      "t67_punct_style", "m31_shard_width_sweep",
      "p43_epoch_dup_exposure", "p44_holdout_sweep", "s46_hub_recall",
      "q125_segment_discount_depth", "e112_first_touch_ltv",
      "e113_whale_census", "t68_source_vocab_jaccard",
      "q126_brand_mom_growth", "e114_dow_peak_hour",
      "d62_decontam_gram_sweep", "d63_shingle_len_cost", "d64_cluster_diameter",
      "t69_pii_density_bands", "t70_affix_boilerplate", "t71_gate_confusion",
      "e115_seasonal_naive_error", "e116_weekly_stickiness",
      "q127_size_price_curve", "q128_brand_catalog_span",
      "s47_rank_displacement",
      "p45_bucketed_padding", "p46_water_filling", "p47_dedup_temp_shift",
      "p48_shard_exemplars",
      "s48_probe_sweep", "p49_repeat_cap_sweep", "e117_lag_sweep",
      "t72_mojibake_census")
    assert(SparkEntry.queries.keySet == expected)
    // oracle keys must be a subset of query keys
    assert(SparkEntry.oracleSql.keySet.subsetOf(expected))
    // rows-only exceptions are exactly the non-SQL-expressible ones
    assert(expected -- SparkEntry.oracleSql.keySet ==
      Set("d04_simhash", "d06_jaccard_capped", "d13_semdedup", "s02_ann_lsh", "s03_ann_ivf",
        "s04_ann_ivfpq", "s06_ann_sq8", "m02_decode_features", "m03_frame_sample", "m04_resize",
        "m05_payload_neardup", "m07_payload_clusters", "p02_embedding_pipeline",
        "q21_approx_stats", "d17_containment_capped", "p05_multimodal_curation",
        "e24_rolling_active_sketch", "s09_ann_recall", "s10_ivf_cell_stats",
        "s13_sq8_error_hist", "s14_recall_curve", "d29_lsh_candidate_report",
        "d39_lsh_bucket_histogram", "s29_sq8_recall",
        "d52_band_sweep", "s31_label_recall", "d53_minhash_error",
        "s32_recall_at_k", "s33_norm_recall", "q108_approx_quantiles",
        "d56_lsh_s_curve", "e101_hll_audit", "d58_perm_sweep",
        "d59_sketch_agreement", "d61_distinct_shingle_sketch",
        "s46_hub_recall", "s47_rank_displacement", "s48_probe_sweep"))
  }

  test("s46 hub-recall bands partition the truth set with recalls in [0,1]") {
    val rows = Similarity.s46(spark, sf).collect()
    val nTruth = rows.map(_.getAs[Long]("n_truth_pairs")).sum
    val truthTotal = graft.SparkEntry.queries("s01_ann_brute_topk")(spark, sf).count()
    assert(nTruth == truthTotal, s"bands must partition truth: $nTruth vs $truthTotal")
    rows.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0, s"recall out of range: $r")
      assert(r.getAs[Long]("n_recalled") <= r.getAs[Long]("n_truth_pairs"), s"$r")
    }
  }

  test("d61 kmv_distinct64 estimates corpus distinct shingles inside the KMV envelope") {
    val rows = Dedup.d61(spark, sf).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("n_exact"), r.getAs[Double]("rel_err"))).toMap
    assert(rows.keySet == Set(256L, 1024L))
    rows.foreach { case (k, (exact, err)) =>
      assert(exact > k, s"audit only meaningful above k (exact=$exact, k=$k)")
      // 4-sigma KMV envelope: sigma ~ 1/sqrt(k-2)
      assert(err <= 4.0 / math.sqrt((k - 2).toDouble),
        s"k=$k rel_err=$err beyond the 4-sigma envelope")
    }
    // wider sketch, tighter estimate (the reason k is a knob)
    assert(rows(1024L)._2 <= rows(256L)._2,
      s"k=1024 should not be worse than k=256: $rows")
  }

  test("d59 sketch agreement: exact partition identity, LSH recall holds d56's posture") {
    val rows = Dedup.d59(spark, sf).collect()
      .map(r => r.getAs[String]("category") -> r.getAs[Long]("n_pairs")).toMap
    val allowed = Set("exact_both", "exact_lsh_only", "exact_sim_only",
      "exact_missed", "lsh_extra", "sim_extra")
    assert(rows.keySet.subsetOf(allowed), s"unknown categories: ${rows.keySet -- allowed}")
    val nExact = SparkEntry.queries("d03_ngram_jaccard")(spark, sf).count()
    val exactCells = rows.filter(_._1.startsWith("exact_")).values.sum
    assert(exactCells == nExact, "exact pairs must partition across the four cells")
    val lshHit = rows.getOrElse("exact_both", 0L) + rows.getOrElse("exact_lsh_only", 0L)
    assert(lshHit.toDouble >= 0.9 * nExact, s"LSH recall ${lshHit}/$nExact below 0.9")
    rows.values.foreach(v => assert(v >= 0))
  }

  test("d58 perm sweep: full k ladder, 1/sqrt(k) error ordering with slack, k=128 within d53's bound") {
    val rows = Dedup.d58(spark, sf).collect().sortBy(_.getAs[Long]("n_perms"))
    assert(rows.map(_.getAs[Long]("n_perms")).toSeq == Seq(32L, 64L, 128L))
    val n = rows.map(_.getAs[Long]("n_pairs")).distinct
    assert(n.length == 1 && n.head > 0, "same candidate set at every k")
    val mae = rows.map(_.getAs[Double]("mean_abs_err"))
    val rmse = rows.map(_.getAs[Double]("rmse"))
    assert(mae(2) <= 0.1, "k=128 must hold d53's MAE bound")
    // wider signatures may not dominate pair-by-pair, but the sweep must
    // show the 1/sqrt(k) trend within a generous slack
    assert(mae(2) <= mae(0) + 0.01, s"MAE(128) ${mae(2)} vs MAE(32) ${mae(0)}")
    assert(rmse(2) <= rmse(0) + 0.01, s"RMSE(128) ${rmse(2)} vs RMSE(32) ${rmse(0)}")
    rows.foreach(r => assert(r.getAs[Double]("rmse") >= r.getAs[Double]("mean_abs_err") - 1e-6))
  }

  test("e101 HLL audit: day domain matches exact census, every rel_err within 3x rsd") {
    import org.apache.spark.sql.functions.expr
    val rows = Events.e101(spark, sf).collect()
    assert(rows.nonEmpty)
    val exactDays = graft.engine.Tables.events(spark, sf)
      .select(expr("ms div 86400000")).distinct().count()
    assert(rows.length.toLong == exactDays, "one row per active day")
    rows.foreach { r =>
      assert(r.getAs[Long]("approx_dau") > 0)
      assert(math.abs(r.getAs[Double]("rel_err")) <= 0.15,
        s"day ${r.getAs[Long]("day")}: |rel_err| > 3x rsd")
    }
  }

  test("d56 LSH S-curve: full exact-pair coverage, near-total detection at the top band") {
    val rows = Dedup.d56(spark, sf).collect().sortBy(_.getAs[Long]("band"))
    assert(rows.nonEmpty)
    val nPairs = rows.map(_.getAs[Long]("n_pairs")).sum
    assert(nPairs == SparkEntry.queries("d03_ngram_jaccard")(spark, sf).count(),
      "every exact J >= 0.5 pair must land in exactly one band")
    rows.foreach { r =>
      val rate = r.getAs[Double]("detect_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("n_detected") <= r.getAs[Long]("n_pairs"))
      val exp = r.getAs[Double]("expected_rate")
      assert(exp > 0.0 && exp <= 1.0)
    }
    // the top populated band must be detected essentially always
    // (J >= 0.95 pairs escape 32x4 LSH with probability < 1e-20)
    val top = rows.last
    assert(top.getAs[Double]("detect_rate") >= 0.95,
      s"top band detect rate ${top.getAs[Double]("detect_rate")}")
  }

  test("q108 approx quantiles: sketch lands inside the ±0.01-quantile envelope") {
    val rows = SparkEntry.queries("q108_approx_quantiles")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("in_bounds"),
        s"quantile ${r.getAs[Double]("quantile")}: approx ${r.getAs[Double]("approx")} " +
          s"outside [${r.getAs[Double]("lo_envelope")}, ${r.getAs[Double]("hi_envelope")}]")
      assert(r.getAs[Double]("lo_envelope") <= r.getAs[Double]("exact") &&
        r.getAs[Double]("exact") <= r.getAs[Double]("hi_envelope"))
    }
  }

  test("s37 dim-truncation recall: monotone in dims, full-dim row is exactly 1.0") {
    val rows = Similarity.s37(spark, sf).collect().sortBy(_.getAs[Int]("n_dims"))
    assert(rows.map(_.getAs[Int]("n_dims")).toSeq == Seq(16, 32, 64))
    val recalls = rows.map(_.getAs[Double]("recall_at_5"))
    assert(recalls.last == 1.0, s"64-dim self-check recall = ${recalls.last}")
    recalls.foreach(r => assert(r > 0.0 && r <= 1.0))
  }

  test("s33 norm-band recall: every populated band covered, recalls within (0,1]") {
    val rows = Similarity.s33(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_queries")).sum
    assert(total == graft.engine.Tables.embeddings(spark, sf).count(),
      "every query must land in exactly one norm band")
    rows.foreach { r =>
      val rec = r.getAs[Double]("recall_at_5")
      assert(rec > 0.0 && rec <= 1.0,
        s"band ${r.getAs[Long]("norm_band")} recall $rec out of (0,1]")
    }
  }

  test("s32 recall@k: shared query denominator, all recalls within (0,1]") {
    val rows = Similarity.s32(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("k")).toSeq == Seq(1L, 3L, 5L))
    assert(rows.map(_.getAs[Long]("n_queries")).distinct.size == 1)
    rows.foreach { r =>
      val rec = r.getAs[Double]("recall_at_k")
      assert(rec > 0.0 && rec <= 1.0, s"k=${r.getAs[Long]("k")} recall $rec")
    }
  }

  test("d53 minhash estimator error: mean |err| within theory, center band dominates") {
    val rows = Dedup.d53(spark, sf).collect()
    assert(rows.nonEmpty)
    val byBand = rows.map(r => r.getAs[String]("err_band") ->
      ((r.getAs[Long]("n_pairs"), r.getAs[Double]("mean_abs_err")))).toMap
    val total = byBand.values.map(_._1).sum
    assert(byBand.contains("c_center"), "no pairs within ±0.05 of exact J")
    assert(byBand("c_center")._1 * 2 > total,
      s"center band holds ${byBand("c_center")._1} of $total pairs — estimator off")
    // weighted mean |error| across all candidate pairs stays ≤ 0.1
    // (theory bound for 128 perms is σ ≤ 0.045)
    val meanAbs = byBand.values.map { case (n, m) => n * m }.sum / total
    assert(meanAbs <= 0.1, s"mean |error| $meanAbs exceeds 0.1")
  }

  test("d52 band sweep: verified subset of candidates and of exact, shipped config misses nothing") {
    val rows = Dedup.d52(spark, sf).collect()
      .map(r => (r.getAs[Int]("n_bands"), r.getAs[Int]("rows_per_band")) ->
        ((r.getAs[Long]("n_candidates"), r.getAs[Long]("n_verified"),
          r.getAs[Long]("n_exact")))).toMap
    assert(rows.keySet == Set((16, 8), (32, 4), (64, 2)))
    val nExact = rows.values.head._3
    rows.foreach { case (cfg, (cand, ver, ex)) =>
      assert(ex == nExact, s"$cfg reports a different exact denominator")
      assert(ver <= cand, s"$cfg verified pairs exceed candidates")
      assert(ver <= ex, s"$cfg verified pairs exceed the exact J>=0.8 set")
    }
    // the shipped (32x4) config keeps d02's no-miss guarantee
    assert(rows((32, 4))._2 == nExact, "(32,4) banding missed an exact pair")
    // 8-row keys are strictly harder to collide on than 2-row keys
    assert(rows((16, 8))._1 <= rows((64, 2))._1)
  }

  test("s31 per-label recall: every label covered, recalls within (0,1]") {
    import spark.implicits._
    val rows = Similarity.s31(spark, sf).collect()
    val allLabels = graft.engine.Tables.embeddings(spark, sf)
      .select("label").distinct().as[Int].collect().toSet
    assert(rows.map(_.getAs[Int]("label")).toSet == allLabels)
    rows.foreach { r =>
      val rec = r.getAs[Double]("recall_at_5")
      assert(rec > 0.0 && rec <= 1.0,
        s"label ${r.getAs[Int]("label")} recall $rec out of (0,1]")
    }
  }

  test("s29 SQ8 recall: one row, recall@5 within (0.9, 1.0]") {
    val r = SparkEntry.queries("s29_sq8_recall")(spark, sf).head()
    val recall = r.getAs[Double]("recall_at_5")
    // the documented SQ8 cosine-error envelope (<0.01, s13) should
    // barely reorder neighbors — a recall below 0.9 means the
    // quantizer regressed, not just noise
    assert(recall > 0.9 && recall <= 1.0, s"sq8 recall@5 = $recall")
  }

  test("d47 dup PageRank: mass invariant, bounds, degree join total") {
    val rows = SparkEntry.queries("d47_dup_pagerank")(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = rows.length.toDouble
    val mass = rows.map(_.getAs[Double]("rank")).sum
    // no dangling nodes (every node has deg >= 1), so PageRank mass is
    // conserved each iteration up to the round9 contribution quantization
    assert(math.abs(mass - n) < 1e-3 * n, s"rank mass $mass vs n=$n")
    rows.foreach { r =>
      assert(r.getAs[Double]("rank") >= 0.15 - 1e-9)
      assert(r.getAs[Long]("degree") >= 1L)
    }
  }

  test("e82 CMS heavy hitters: one-sided overcount on every top-20 row") {
    val rows = SparkEntry.queries("e82_cms_heavy_hitters")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_cnt"),
        s"CMS undercounted user ${r.getAs[Long]("user_id")}")
      assert(r.getAs[Long]("overcount") ==
        r.getAs[Long]("cms_est") - r.getAs[Long]("exact_cnt"))
    }
  }

  test("d29 LSH candidate report: verified equals the exact J>=0.8 pair count") {
    val row = SparkEntry.queries("d29_lsh_candidate_report")(spark, sf).head()
    val exact = SparkEntry.queries("d02_minhash_lsh")(spark, sf).count()
    assert(row.getAs[Long]("n_verified") == exact)
    assert(row.getAs[Long]("n_candidates") >= row.getAs[Long]("n_verified"))
    val p = row.getAs[Double]("precision")
    assert(p > 0.0 && p <= 1.0)
  }

  test("s14 recall curve: non-decreasing in probes, correct row shape") {
    val rows = SparkEntry.queries("s14_recall_curve")(spark, sf).collect()
      .sortBy(_.getAs[Long]("n_probes"))
    assert(rows.map(_.getAs[Long]("n_probes")).toSeq == Seq(1L, 2L, 4L))
    val recalls = rows.map(_.getAs[Double]("recall_at_5")).toSeq
    assert(recalls == recalls.sorted, s"recall not monotone: $recalls")
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
  }

  test("s13 sq8 error audit: every sampled pair inside the kernel envelope") {
    val rows = SparkEntry.queries("s13_sq8_error_hist")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the documented SQ8 cosine-error envelope is < 0.01 on unit-ish
    // vectors: the top band must be empty and the max observed error small
    assert(!rows.exists(_.getAs[String]("error_band") == "e>=0.01"),
      s"pairs above the SQ8 error envelope: ${rows.mkString(";")}")
    assert(rows.map(_.getAs[Double]("max_err")).max < 0.01)
  }

  test("s09 recall harness: exact baseline 1.0, approximate methods bounded") {
    val rows = Similarity.s09(spark, sf).collect()
      .map(r => r.getAs[String]("method") ->
        (r.getAs[Long]("k"), r.getAs[Double]("recall_at_5"))).toMap
    assert(rows.keySet == Set("exact_topk", "lsh", "ivf"))
    assert(rows("exact_topk")._2 == 1.0)
    // lsh returns top-3, so recall@5 is capped at 3/5
    assert(rows("lsh")._2 > 0.0 && rows("lsh")._2 <= 0.6 + 1e-9)
    assert(rows("ivf")._2 > 0.0 && rows("ivf")._2 <= 1.0)
  }

  test("s10 cell census sums to N over at most k cells, cosines bounded") {
    val rows = Similarity.s10(spark, sf).collect()
    val n = graft.engine.Tables.embeddings(spark, sf).count()
    assert(rows.nonEmpty && rows.length <= 16)
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == n)
    rows.foreach { r =>
      assert(r.getAs[Double]("min_cos") <= r.getAs[Double]("max_cos"))
      assert(r.getAs[Double]("max_cos") <= 1.0 + 1e-9)
    }
  }

  test("d18 clusters: every d02 pair co-clustered, min-id labels, census-true sizes") {
    val pairs = Dedup.d02(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val cl = Dedup.d18(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("n_members"))).toMap
    assert(pairs.nonEmpty && cl.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(cl(a)._1 == cl(b)._1, s"pair ($a,$b) split across clusters")
    }
    cl.groupBy(_._2._1).foreach { case (label, members) =>
      assert(label == members.keys.min, s"cluster $label is not its min member")
      assert(members.values.forall(_._2 == members.size),
        s"cluster $label size mismatch")
    }
  }

  test("p05 multimodal curation reconciles with m05 pairs and the corpus") {
    val out = Pipeline.p05(spark, sf).collect()
    val nRaw = out.map(_.getAs[Long]("n_raw")).sum
    assert(nRaw == graft.engine.Tables.documents(spark, sf).count())
    val dropped = Multimodal.m05(spark, sf).select("doc_b").distinct().count()
    assert(out.map(_.getAs[Long]("n_kept")).sum == nRaw - dropped)
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_raw"))
      assert(r.getAs[Long]("kept_bytes") <= r.getAs[Long]("raw_bytes"))
    }
  }

  test("q41 median and MAD recompute from first principles") {
    val byseg = graft.engine.Tables.customer(spark, sf)
      .select("c_mktsegment", "c_acctbal").collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    def med(xs: Array[Double]): Double = {
      val s = xs.sorted; val n = s.length
      (s((n - 1) / 2) + s(n / 2)) / 2.0
    }
    val rows = Graft.run(spark, sf, "q41_mad_dispersion").collect()
    assert(rows.length == byseg.size)
    rows.foreach { r =>
      val vals = byseg(r.getString(0)).map(_._2)
      val m = med(vals)
      assert(r.getAs[Double]("median_bal") == m)
      assert(math.abs(r.getAs[Double]("mad") - med(vals.map(v => math.abs(v - m)))) < 1e-6)
    }
  }

  test("e22 CV recomputes naively for every reported user") {
    val out = Graft.run(spark, sf, "e22_burstiness").collect()
    assert(out.nonEmpty)
    val events = graft.engine.Tables.events(spark, sf)
      .select("user_id", "ms", "event_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ms"), r.getAs[Long]("event_id")))
      .groupBy(_._1)
    out.take(25).foreach { r =>
      val uid = r.getAs[Long]("user_id")
      val ms = events(uid).sortBy(e => (e._2, e._3)).map(_._2)
      val gaps = ms.sliding(2).map(p => (p(1) - p(0)).toDouble).toArray
      val n = gaps.length
      val mean = gaps.sum / n
      val variance = gaps.map(g => (g - mean) * (g - mean)).sum / (n - 1)
      val cv = math.sqrt(variance) / mean
      assert(r.getAs[Long]("n_gaps") == n)
      assert(math.abs(r.getAs[Double]("cv") - cv) < 1e-4,
        s"user $uid: reported ${r.getAs[Double]("cv")} vs naive $cv")
    }
  }

  test("e24 sketch DAU/WAU tracks exact e14 within HLL error bounds") {
    val exact = Events.e14(spark, sf).collect()
      .map(r => r.getAs[Long]("day_ms") ->
        (r.getAs[Long]("dau"), r.getAs[Long]("wau"))).toMap
    val est = Events.e24(spark, sf).collect()
    assert(est.map(_.getAs[Long]("day_ms")).toSet == exact.keySet,
      "sketch path must cover exactly the exact path's days")
    est.foreach { r =>
      val (dau, wau) = exact(r.getAs[Long]("day_ms"))
      // lgConfigK=12 => rse ~1.6%; 5% is a comfortable deterministic bound
      assert(math.abs(r.getAs[Long]("dau_est") - dau) <= math.max(2.0, 0.05 * dau))
      assert(math.abs(r.getAs[Long]("wau_est") - wau) <= math.max(2.0, 0.05 * wau))
    }
  }

  test("d14 bloom-prefiltered decontamination is bit-identical to exact d11") {
    val exact = Dedup.d11(spark, sf).collect().map(_.toString)
    val bloom = Dedup.d14(spark, sf).collect().map(_.toString)
    assert(exact.nonEmpty)
    assert(bloom.sameElements(exact))
  }

  test("q37 heavy hitters: every survivor's lift recomputes above 1.25") {
    import org.apache.spark.sql.functions._
    val l = graft.engine.Tables.lineitem(spark, sf)
    val t = l.count()
    val p = graft.engine.Tables.part(spark, sf).count()
    val counts = l.groupBy("l_partkey").count().collect()
      .map(r => r.getAs[Long]("l_partkey") -> r.getAs[Long]("count")).toMap
    val rows = Relational.q37(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_lines")
      assert(n == counts(r.getAs[Long]("l_partkey")))
      assert(n * p * 4 > t * 5)
      assert(r.getAs[Double]("lift") > 1.25)
    }
    // completeness: no qualifying part missing
    assert(rows.length == counts.values.count(n => n * p * 4 > t * 5))
  }

  test("e17 paths: trigram total equals sum of per-user max(0, n-2)") {
    import org.apache.spark.sql.functions._
    val perUser = graft.engine.Tables.events(spark, sf)
      .groupBy("user_id").count().collect().map(_.getAs[Long]("count"))
    val want = perUser.map(n => math.max(0L, n - 2)).sum
    val rows = Graft.run(spark, sf, "e17_event_paths").collect()
    assert(rows.map(_.getAs[Long]("n")).sum == want)
    rows.foreach(r => assert(r.getAs[Double]("avg_span_ms") > 0.0))
  }

  test("t15 chunk dedup: counts consistent and chunks are 3 words") {
    val rows = TextAnalysis.t15(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 2L)
      assert(r.getAs[Long]("n_occ") >= r.getAs[Long]("n_docs"))
      assert(r.getAs[String]("chunk").split(" ").length == 3)
    }
  }

  test("d17 capped containment pairs all appear in exact d16, never inflated") {
    val exact = Dedup.d16(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("containment"))
      .toMap
    val capped = Dedup.d17(spark, sf).collect()
    assert(capped.nonEmpty)
    capped.foreach { r =>
      val k = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(exact.contains(k), s"d17 produced a pair d16 lacks: $k")
      assert(r.getAs[Double]("containment") <= exact(k) + 1e-12,
        s"capped containment exceeded exact for $k")
    }
  }

  test("d48 df-capped pairs all appear in the uncapped set, never inflated") {
    // a cap low enough to actually bind at sf0.001 (the production 50
    // barely binds here): the capped production path must only ever
    // shrink the pair set / lower the score — hot grams leave the join
    // but stay in every doc's union weight, so a dropped non-shared
    // gram can never promote a pair
    val exact = Dedup.d48Pairs(spark, sf, maxDf = None).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("weighted_j")).toMap
    val capped = Dedup.d48Pairs(spark, sf, maxDf = Some(5L)).collect()
    assert(capped.nonEmpty)
    capped.foreach { r =>
      val k = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(exact.contains(k), s"capped d48 produced a pair the exact form lacks: $k")
      val wj = r.getAs[Double]("weighted_j")
      assert(!wj.isNaN && wj <= exact(k) + 1e-12,
        s"capped weighted_j exceeded exact for $k")
    }
    // the shipped operator (cap = 50) stays populated and NaN-free
    val prod = Dedup.d48(spark, sf).collect()
    assert(prod.nonEmpty)
    prod.foreach(r => assert(!r.getAs[Double]("weighted_j").isNaN))
  }

  test("p30 split gate: cluster-coherent assignment closes every cross-split pair") {
    val r = Pipeline.p30(spark, sf).head()
    val (nPairs, crossDoc, crossCluster) =
      (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_cross_doc_hash"),
        r.getAs[Long]("n_cross_cluster"))
    assert(nPairs > 0L, "gate must run on a non-empty pair stream")
    assert(crossDoc > 0L,
      "doc-hash leakage should exist at sf0.001 (else the gate proves nothing)")
    assert(crossCluster == 0L,
      s"cluster-coherent split leaked $crossCluster of $nPairs pairs")
  }

  test("d16 containment catches the subsumption d03's symmetric jaccard misses") {
    val rows = Dedup.d16(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("containment") >= 0.9)
      val contained = r.getAs[Long]("contained")
      assert(contained == r.getAs[Long]("doc_a") || contained == r.getAs[Long]("doc_b"))
    }
  }

  test("t18 novelty: every gram's first doc claims it exactly once") {
    val rows = TextAnalysis.t18(spark, sf).collect()
    assert(rows.length > 0)
    // total novel grams across docs == total distinct grams in the corpus
    graft.functions.VectorFunctions.register(spark)
    import org.apache.spark.sql.functions._
    val total = graft.engine.Tables.documents(spark, sf)
      .select(explode(expr("word_ngrams(text, 3)")).as("g"))
      .select("g").distinct().count()
    assert(rows.map(_.getAs[Long]("n_novel")).sum == total)
    rows.foreach { r =>
      val nv = r.getAs[Double]("novelty")
      assert(nv >= 0.0 && nv <= 1.0)
    }
  }

  test("t17 diversity ratios and e20 entropy stay in their exact bounds") {
    TextAnalysis.t17(spark, sf).collect().foreach { r =>
      val (nt, ty, hx) = (r.getAs[Long]("n_tok"), r.getAs[Long]("n_types"), r.getAs[Long]("n_hapax"))
      assert(ty >= 1 && ty <= nt && hx <= ty)
      assert(r.getAs[Double]("ttr") > 0.0 && r.getAs[Double]("ttr") <= 1.0)
    }
    Graft.run(spark, sf, "e20_type_entropy").collect().foreach { r =>
      val h = r.getAs[Double]("entropy")
      val types = r.getAs[Long]("n_types")
      assert(h >= -1e-6 && h <= math.log(types.toDouble) + 1e-6,
        s"entropy $h outside [0, ln($types)]")
      if (types == 1) assert(math.abs(h) < 1e-9)
    }
  }

  test("m07 clusters: every m05 pair co-clusters, labels are member minima") {
    val pairs = Multimodal.m05(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val labels = Multimodal.m07(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(pairs.nonEmpty && labels.nonEmpty)
    pairs.foreach { case (a, b) => assert(labels(a) == labels(b), s"pair ($a,$b) split") }
    // each cluster's id is its smallest member
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid)
    }
  }

  test("d15 centrality: degrees double-count edges, wdegree bounded by degree") {
    val pairs = Dedup.d03(spark, sf).collect()
    val rows = Dedup.d15(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("degree")).sum == 2L * pairs.length)
    rows.foreach { r =>
      val (d, w) = (r.getAs[Long]("degree"), r.getAs[Double]("wdegree"))
      assert(w > 0.5 * d - 1e-9 && w <= d.toDouble, s"wdegree $w vs degree $d")
    }
  }

  test("e19 conversion lag: median positive, users bounded by purchasers") {
    import org.apache.spark.sql.functions._
    val rows = Events.e19(spark, sf).collect()
    assert(rows.nonEmpty)
    val purchasers = graft.engine.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum <= purchasers)
    rows.foreach(r => assert(r.getAs[Double]("median_lag_ms") > 0.0))
  }

  test("p04 survivors are train docs flagged by neither decontam screen") {
    val exact = Dedup.d11(spark, sf).collect().map(_.getAs[Long]("doc_id")).toSet
    val fuzzy = Dedup.d12(spark, sf).collect().map(_.getAs[Long]("doc_id")).toSet
    val all = graft.engine.Tables.documents(spark, sf)
      .collect().map(_.getAs[Long]("doc_id")).filter(_ % 20 != 0).toSet
    val got = Pipeline.p04(spark, sf).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(got == all -- exact -- fuzzy)
    assert(got.nonEmpty)
  }

  test("q38 correlation in [-1,1]; e18 bands sum to 1 per type; t16 ordered") {
    Graft.run(spark, sf, "q38_exact_corr").collect().foreach { r =>
      val c = r.getAs[Double]("corr_qty_price")
      assert(c >= -1.0 && c <= 1.0)
    }
    val bands = Graft.run(spark, sf, "e18_gap_bands").collect()
    bands.groupBy(_.getAs[String]("event_type")).values.foreach { bs =>
      assert(math.abs(bs.map(_.getAs[Double]("pct")).sum - 1.0) < 1e-9)
    }
    val zipf = TextAnalysis.t16(spark, sf).collect()
    assert(zipf.nonEmpty && zipf.length <= 100)
    val occ = zipf.map(_.getAs[Long]("n_occ"))
    assert(occ.zip(occ.tail).forall { case (a, b) => a >= b })
    zipf.foreach(r => assert(r.getAs[Long]("n_docs") <= r.getAs[Long]("n_occ")))
  }

  test("s06 sq8 ANN: well-formed top-5, recall >= 0.95 vs exact s01") {
    val exact = Similarity.s01(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val rows = Similarity.s06(spark, sf).collect()
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { ns =>
      assert(ns.length == 5)
      val ordered = ns.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("cos"))
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a >= b })
    }
    val got = rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.95, s"sq8 recall $recall below 0.95")
  }

  test("d07 LSH near-dup pair set equals the exact all-pairs d05 baseline") {
    val exact = Dedup.d05(spark, sf).collect().map(_.toString)
    val lsh = Dedup.d07(spark, sf).collect().map(_.toString)
    assert(lsh.sameElements(exact))
  }

  test("q01 pricing summary: 3x2 flag/status matrix with exact decimal sums") {
    val rows = Graft.run(spark, sf, "q01_pricing_summary").collect()
    assert(rows.length == 6)
    assert(rows.map(_.getAs[String]("l_returnflag")).distinct.sorted.sameElements(Array("A", "N", "R")))
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_disc_price") <= r.getAs[Double]("sum_base_price"))
      assert(r.getAs[Double]("sum_charge") >= r.getAs[Double]("sum_disc_price"))
    }
  }

  test("q07 window rank: exactly top-3 per segment, rank within [1,3]") {
    val rows = Graft.run(spark, sf, "q07_window_rank").collect()
    val bySeg = rows.groupBy(_.getAs[String]("c_mktsegment"))
    assert(bySeg.size == 5)
    bySeg.values.foreach { seg =>
      assert(seg.length == 3)
      assert(seg.map(_.getAs[Long]("rnk")).sorted.sameElements(Array(1L, 2L, 3L)))
    }
  }

  test("e01 sessionization: session stats are internally consistent") {
    val rows = Graft.run(spark, sf, "e01_sessionize").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("end_ms") >= r.getAs[Long]("start_ms"))
      assert(r.getAs[Long]("dur_ms") == r.getAs[Long]("end_ms") - r.getAs[Long]("start_ms"))
      assert(r.getAs[Long]("n_events") >= 1L)
    }
  }

  test("d03 jaccard pairs are all >= 0.5 and ordered") {
    val rows = Dedup.d03(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("jaccard") >= 0.5)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
  }

  test("d06 capped candidates are a subset of d03 exact pairs with equal jaccard") {
    val exact = Dedup.d03(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
    val capped = Dedup.d06(spark, sf).collect()
    assert(capped.nonEmpty)
    capped.foreach { r =>
      val k = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(exact.contains(k), s"d06 produced a pair d03 lacks: $k")
      assert(exact(k) == r.getAs[Double]("jaccard"), s"jaccard drifted for $k")
    }
  }

  test("d02 minhash+LSH equals exact all-pairs at J >= 0.8 (d03 restricted)") {
    val lsh = Dedup.d02(spark, sf).collect().map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val exact = Dedup.d03(spark, sf).collect()
      .filter(_.getAs[Double]("jaccard") >= 0.8)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(lsh == exact)
  }

  test("s01 brute-force ANN: 5 neighbors per query, cosine non-increasing") {
    val rows = Similarity.s01(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 500)
    byQ.values.foreach { ns =>
      assert(ns.length == 5)
      val ordered = ns.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("cos"))
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a >= b })
    }
  }

  test("e16 deciles: top-heavy shares summing to 100, all 10 buckets present") {
    val rows = Events.e16(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("decile")).sorted.sameElements(1 to 10))
    val pcts = rows.sortBy(_.getAs[Int]("decile")).map(_.getAs[Double]("pct_value"))
    assert(math.abs(pcts.sum - 100.0) < 0.01)
    assert(pcts.head > pcts.last) // value concentration: decile 1 out-earns decile 10
    rows.foreach(r => assert(r.getAs[Long]("n_users") >= 1L))
  }

  test("t14 buckets: per language, head scores >= middle >= tail and counts ~equal") {
    val rows = TextAnalysis.t14(spark, sf).collect()
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (_, bs) =>
      val m = bs.map(r => r.getAs[String]("bucket") -> r).toMap
      assert(m.keySet == Set("head", "middle", "tail"))
      assert(m("head").getAs[Double]("min_lp") >= m("middle").getAs[Double]("max_lp"))
      assert(m("middle").getAs[Double]("min_lp") >= m("tail").getAs[Double]("max_lp"))
      val counts = bs.map(_.getAs[Long]("n_docs"))
      val n = counts.sum
      // tercile populations within one score-group of n/3 on this data
      counts.foreach(c => assert(math.abs(c - n / 3.0) <= n / 6.0))
    }
  }

  test("p03 token budget: realized tokens never exceed the per-language budget") {
    val rows = Pipeline.p03(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_tok") <= r.getAs[Long]("budget"))
      assert(r.getAs[Long]("n_docs") >= 1L)
    }
  }

  test("s05 kNN labels: one verdict per vector, votes within [1,5]") {
    val rows = Similarity.s05(spark, sf).collect()
    assert(rows.length == 500) // one verdict per vector
    rows.foreach { r =>
      val v = r.getAs[Long]("votes")
      assert(v >= 1L && v <= 5L)
    }
  }

  test("m06 router: every magic-byte branch fires on synthetic payloads") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val payloads: Seq[(String, Array[Byte])] = Seq(
      "image/jpeg" -> Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00).map(_.toByte),
      "image/png"  -> Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A).map(_.toByte),
      "image/gif"  -> "GIF89a".getBytes("UTF-8"),
      "audio/riff" -> ("RIFF" + "\u0000\u0000WAVE").getBytes("UTF-8"),
      "video/mp4"  -> (Array[Byte](0, 0, 0, 24) ++ "ftypisom".getBytes("UTF-8")),
      "text"       -> "plain readable text".getBytes("UTF-8"),
      "binary"     -> Array(0x01, 0x02, 0x03, 0x04).map(_.toByte),
      "empty"      -> Array.empty[Byte])
    val got = payloads.toDF("expected", "payload")
      .withColumn("modality",
        Multimodal.routeModality(col("payload"), decode(col("payload"), "UTF-8")))
      .collect()
    got.foreach(r => assert(r.getAs[String]("modality") == r.getAs[String]("expected"),
      s"payload for ${r.getAs[String]("expected")} routed to ${r.getAs[String]("modality")}"))
  }

  test("d09 incremental dedup: survivors are delta docs with no corpus twin") {
    val surv = Dedup.d09(spark, sf).collect()
    assert(surv.nonEmpty)
    // all survivors are from the delta partition
    surv.foreach(r => assert(r.getAs[Long]("doc_id") % 5 == 0))
    // no survivor's exact hash exists in the corpus side
    val docs = graft.engine.Tables.documents(spark, sf)
    import org.apache.spark.sql.functions._
    val corpusHashes = docs.filter(col("doc_id") % 5 =!= 0)
      .select(md5(col("text"))).collect().map(_.getString(0)).toSet
    val survIds = surv.map(_.getAs[Long]("doc_id")).toSet
    val deltaHash = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), md5(col("text")).as("h")).collect()
    deltaHash.filter(r => survIds.contains(r.getAs[Long]("doc_id")))
      .foreach(r => assert(!corpusHashes.contains(r.getAs[String]("h"))))
  }

  test("e11 attribution: view counts bounded by the user's total views") {
    import org.apache.spark.sql.functions._
    val ev = graft.engine.Tables.events(spark, sf)
    val totalViews = ev.filter(col("event_type") === "view")
      .groupBy("user_id").count().collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    val rows = Events.e11(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_views_1h")
      assert(n <= totalViews.getOrElse(r.getAs[Long]("user_id"), 0L))
      if (n > 0)
        assert(r.getAs[Long]("last_view_ms") < r.getAs[Long]("p_ms"))
      else
        assert(r.isNullAt(r.fieldIndex("last_view_ms")))
    }
  }

  test("p01 pipeline composes its standalone stages faithfully") {
    val out = Pipeline.p01(spark, sf).collect()
    assert(out.nonEmpty)
    // every emitted doc passed the quality gate with t02's exact score
    val quality = TextAnalysis.t02(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    out.foreach { r =>
      val q = r.getAs[Double]("quality")
      assert(q >= 0.5)
      assert(quality(r.getAs[Long]("doc_id")) == q, "pipeline quality != t02 quality")
    }
    // no two emitted docs share a normalized fingerprint (stage-3 invariant)
    import org.apache.spark.sql.functions._
    val ids = out.map(_.getAs[Long]("doc_id")).toSet
    val fps = graft.engine.Tables.documents(spark, sf)
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))))
      .collect().filter(r => ids.contains(r.getAs[Long]("doc_id")))
      .map(_.getAs[String]("fp"))
    assert(fps.length == fps.distinct.length, "duplicate fingerprints survived p01")
  }

  test("q27 small-quantity: threshold matches a recomputed per-part average") {
    import org.apache.spark.sql.functions._
    val rows = Graft.run(spark, sf, "q27_small_quantity").collect()
    assert(rows.nonEmpty)
    // recompute the count of qualifying lines independently (double avg,
    // strict inequality far from boundaries in this data)
    val l = graft.engine.Tables.lineitem(spark, sf)
    val avg_ = l.groupBy("l_partkey").agg(avg(col("l_quantity")).as("aq"))
    val expected = l.join(avg_, "l_partkey")
      .filter(col("l_quantity") < col("aq") * 0.2).count()
    assert(rows.map(_.getAs[Long]("n_small")).sum == expected)
  }

  test("e13 anomalies all sit above 3 sample standard deviations") {
    val rows = Graft.run(spark, sf, "e13_anomaly_hours").collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("z") > 3.0)
      assert(r.getAs[Long]("cnt").toDouble > r.getAs[Double]("mean_cnt"))
    }
  }

  test("d11 decontamination: hits are training docs sharing >= 1 eval 4-gram") {
    val rows = Dedup.d11(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 20 != 0, "eval doc reported as contaminated")
      assert(r.getAs[Long]("n_shared_grams") >= 1L)
      assert(r.getAs[Long]("n_eval_docs") >= 1L)
    }
  }

  test("t09 tf-idf: 3 keywords per doc, scores non-increasing in rank") {
    val rows = TextAnalysis.t09(spark, sf).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.nonEmpty)
    byDoc.values.foreach { ks =>
      assert(ks.length <= 3)
      val ordered = ks.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("tfidf"))
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a >= b })
    }
  }

  test("e14 rolling-active: DAU <= WAU and WAU bounded by trailing DAU sum") {
    val rows = Events.e14(spark, sf).collect()
    assert(rows.nonEmpty)
    val dauByDay = rows.map(r => r.getAs[Long]("day_ms") -> r.getAs[Long]("dau")).toMap
    rows.foreach { r =>
      val (day, dau, wau) = (r.getAs[Long]("day_ms"), r.getAs[Long]("dau"), r.getAs[Long]("wau"))
      assert(dau >= 1 && dau <= wau)
      val trailingSum = (0L to 6L).map(k => dauByDay.getOrElse(day - k * 86400000L, 0L)).sum
      assert(wau <= trailingSum)
      val s = r.getAs[Double]("stickiness")
      assert(s > 0.0 && s <= 1.0)
    }
  }

  test("d12 fuzzy decontamination equals exact cross-split Jaccard >= 0.5") {
    val got = Dedup.d12(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("eval_id"))).toSet
    // oracle-by-composition: d03 is the exact all-pairs J >= 0.5 baseline;
    // restrict it to pairs that cross the eval split
    val want = Dedup.d03(spark, sf).collect().flatMap { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      (a % 20 == 0, b % 20 == 0) match {
        case (true, false) => Some((b, a))
        case (false, true) => Some((a, b))
        case _             => None
      }
    }.toSet
    assert(got == want)
    assert(got.forall { case (t, e) => t % 20 != 0 && e % 20 == 0 })
  }

  test("d13 semdedup drop set equals d05 pairs restricted to co-clustered") {
    val rows = Dedup.d13(spark, sf).collect()
    assert(rows.length == 500) // one verdict per embedding at sf0.001
    val cell = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val dropped = rows.filterNot(_.getAs[Boolean]("kept")).map(_.getAs[Long]("vec_id")).toSet
    // min-id-keeper rule on d05's exact pairs, restricted to same-cell pairs
    val want = Dedup.d05(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
      .filter { case (a, b) => cell(a) == cell(b) }
      .map(_._2).toSet
    assert(dropped == want)
  }

  test("m05 payload near-dup: exact copies pair at hamming 0, edits pair low, unrelated don't") {
    val sess = spark
    import sess.implicits._
    val base = "the quick brown fox jumps over the lazy dog and keeps running through the field " * 4
    val edited = base.replace("lazy", "hazy") // light edit: most byte 4-grams shared
    val other = "completely different content about database query planning and shuffle exchanges " * 4
    val docs = Seq((1L, base), (2L, base), (3L, edited), (4L, other)).toDF("doc_id", "text")
    val pairs = Multimodal.payloadNearDup(spark, docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Long]("hamming")).toMap
    assert(pairs((1L, 2L)) == 0L) // identical payloads: all bands collide, hamming 0
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) <= 8L)
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L })
    // corpus run returns a frame without error (pair count is data-dependent)
    Multimodal.m05(spark, sf).collect()
  }

  test("p02 embedding pipeline: neighbors are semdedup survivors, ranks well-formed") {
    val survivors = Dedup.d13(spark, sf).collect()
      .filter(_.getAs[Boolean]("kept")).map(_.getAs[Long]("vec_id")).toSet
    val rows = Pipeline.p02(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(survivors(r.getAs[Long]("q_id")) && survivors(r.getAs[Long]("n_id")))
    }
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rnk"))
      assert(byRank.map(_.getAs[Long]("rnk")).toSeq == (1L to byRank.length).toSeq)
      val cosines = byRank.map(_.getAs[Double]("cos")).toSeq
      assert(cosines == cosines.sorted.reverse)
    }
  }

  test("t10 repetition fractions are consistent and bounded") {
    val rows = TextAnalysis.t10(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (t2, d2) = (r.getAs[Long]("n_tok") - 1, r.getAs[Long]("dup2"))
      assert(d2 >= 0 && d2 < t2 || (d2 == 0 && t2 == 0))
      val f2 = r.getAs[Double]("frac2")
      assert(f2 >= 0.0 && f2 <= 1.0)
      assert(r.getAs[Boolean]("would_drop") == (d2 * 5 > t2))
      // longer n-grams can only repeat if shorter ones do
      if (r.getAs[Long]("dup4") > 0) assert(r.getAs[Long]("dup3") > 0)
      if (r.getAs[Long]("dup3") > 0) assert(d2 > 0)
    }
  }

  test("m04 resize plumbing: output shrinks by the area ratio, deterministic") {
    val rows = Multimodal.m04(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getAs[Int]("dst_w") == math.max(r.getAs[Int]("src_w") / 2, 1))
      assert(r.getAs[Int]("dst_h") == math.max(r.getAs[Int]("src_h") / 2, 1))
      assert(r.getAs[Long]("n_bytes_out") >= 1L)
    }
    val again = Multimodal.m04(spark, sf).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("m02 decode plumbing: deterministic features, normalized histogram") {
    val rows = Multimodal.m02(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val f = (0 until 16).map(i => r.getAs[Double](s"f$i"))
      assert(math.abs(f.sum - 1.0) < 1e-9)
    }
    // determinism: same input -> same features
    val again = Multimodal.m02(spark, sf).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }
}
