package graft

/** Plan-dump main: writes `EXPLAINS.md` with the formatted physical plan
  * of each headline query at the given scale factor — the artifact for
  * "is this the plan you'd want" review (builder prompt / SURVEY §7.3
  * M6). Usage: `runMain graft.Explain [sfDir] [outFile]`.
  */
object Explain {

  private val headline = Seq(
    "q1_pricing_summary", "q_join_inner", "q_join_broadcast",
    "q_tpch_q5_local_volume", "q_tpch_q6_forecast", "q_window_frames",
    "q_topk_per_group", "q_sort_limit", "q_dedup_exact",
    "q_dedup_minhash_pairs", "q_ann_bruteforce", "q_lang_id",
    "q_filter_predicates", "q_tfidf", "q_asof_join",
    "q_tpch_q2_min_cost_supp", "q_ann_batch_topk", "q_sample_stratified",
    "q_bucketed_join", "q_partition_pruning", "q_token_entropy",
    "q_bigram_pmi", "q_clone_incremental", "q_variant_json",
    "q_hll_sketch_merge", "q_contamination", "q_unigram_logprob",
    "q_curation_pipeline", "q_fuzzy_join", "q_custom_source",
    "q_dup_graph_stats", "q_scd2_intervals", "q_bm25", "q_dsir_weights",
    "q_semdedup", "q_weighted_sample", "q_pagerank", "q_sessionize",
    "q_pq_encode", "q_ppl_buckets", "q_resample_pipeline",
    "q_merge_upsert", "q_clone_checksum", "q_interpolate",
    "q_sorted_neighborhood", "q_pit_join", "q_rrf_fusion",
    "q_drift_chisq", "q_global_shuffle", "q_dup_ngram_rate",
    "q_matryoshka_recall", "q_ks_drift", "q_cohort_retention",
    "q_mmr_topk", "q_incremental_dedup", "q_hybrid_search",
    "q_rate_anomaly", "q_zorder_cluster", "q_doc_entropy",
    "q_minhash_containment", "q_agg_backfill", "q_retrieval_metrics",
    "q_attribution", "q_crossmodal_dedup", "q_ab_test",
    "q_blocklist_filter", "q_hard_negatives", "q_lang_confusion",
    "q_range_partition_design", "q_bootstrap_ci", "q_graph_2hop",
    "q_ohlc_bars", "q_data_card", "q_column_stats", "q_dq_expectations",
    "q_markov_transitions", "q_pareto_front", "q_compaction_plan",
    "q_mad_outliers", "q_url_canonicalize", "q_audience_overlap",
    "q_benford", "q_interevent_gaps",
    "q_revenue_deciles", "q_gini_segment", "q_rolling_active_users",
    "q_twap", "q_funnel_window", "q_interval_concurrency",
    "q_ship_latency", "q_histogram_2d", "q_skew_report", "q_ri_audit",
    "q_market_basket", "q_bpe_pairs", "q_lsh_eval", "q_source_kl",
    "q_kanon_audit", "q_calibration", "q_purged_split", "q_ewma",
    "q_quality_classifier", "q_vocab_coverage", "q_zonemap_report",
    "q_ivf_balance", "q_epoch_plan", "q_bigram_lm", "q_dow_seasonality",
    "q_autocorr", "q_cusum_changepoint", "q_boilerplate_ngrams",
    "q_curriculum_order", "q_kmeans_iter", "q_graph_jaccard",
    "q_setops_all", "q_join_cross", "q_mask_pseudonym",
    "q_retention_purge", "q_gdpr_cascade", "q_stl_naive",
    "q_lag_features", "q_late_data_audit", "q_join_hints",
    "q_winsorize", "q_mutual_info", "q_text_normalize",
    "q_embedding_stats", "q_substring_dedup", "q_source_overlap",
    "q_rendezvous_shards", "q_target_encoding", "q_knn_classify",
    "q_colbert_maxsim", "q_class_balance", "q_bloom_sizing",
    "q_kmeans_pp", "q_srm_check", "q_try_cast_audit",
    "q_scd2_audit", "q_null_skew_join", "q_decayed_score",
    "q_share_of_parent", "q_union_by_name",
    "q_bradley_terry", "q_als_step", "q_pca_power", "q_label_prop",
    "q_ctr_wilson", "q_dp_counts", "q_prefix_suffix_leak",
    "q_tokenizer_fertility", "q_media_ahash_neardup",
    "q_kneser_ney", "q_vocab_coverage_curve", "q_grouped_reservoir",
    "q_bloom_join_prune", "q_recursive_hierarchy", "q_join_card_estimate",
    "q_negative_sampling", "q_rater_kappa", "q_span_mask_plan",
    "q_contrastive_margin", "q_compressibility_rank",
    "q_cogroup_fulfillment", "q_map_higher_order", "q_stream_restart",
    "q_feature_hashing", "q_sprt_monitor", "q_heldout_ppl",
    "q_pq_adc", "q_graph_triangles", "q_fuzzy_name_match",
    "q_gopher_rules", "q_pipe_sql",
    "q_conformal_coverage", "q_prefix_filter_join", "q_er_golden_record",
    "q_binary_hamming_rerank", "q_kcore_peel", "q_markov_attribution",
    "q_kaplan_meier", "q_kmv_distinct", "q_bleu_pairs",
    "q_session_window_batch", "q_path_mining", "q_hits_hubs",
    "q_theil_sen", "q_kde_density", "q_stream_cdc_apply",
    "q_max_drawdown", "q_cumulative_uniques", "q_shuffle_sharding",
    "q_geo_grid_knn", "q_geo_bbox_join", "q_suffix_lcp",
    "q_dpo_pairs", "q_pref_win_matrix", "q_kmv_set_ops",
    "q_kanon_ladder", "q_episode_returns", "q_retractable_agg",
    "q_fim_split", "q_fair_share",
    "q_anova_oneway", "q_spearman_corr", "q_pr_curve", "q_kruskal_wallis",
    "q_naive_bayes", "q_l_diversity", "q_t_closeness", "q_decision_stump",
    "q_perceptron_step", "q_modularity", "q_hilbert_cluster",
    "q_winnowing", "q_dp_user_clip", "q_burstiness",
    "q_cmh_test", "q_ucb_bandit", "q_qq_plot", "q_shapley_attribution",
    "q_graph_assortativity", "q_louvain_move", "q_periodogram",
    "q_hill_tail_index", "q_textrank", "q_triplet_mining",
    "q_feature_mrmr", "q_cbo_stats", "q_prf_expansion", "q_linkage_em",
    "q_gaussian_mixture_em", "q_hmm_forward", "q_knn_shapley",
    "q_binseg_changepoint", "q_voptimal_histogram", "q_iv_2sls",
    "q_regression_discontinuity",
    "q_fd_discovery", "q_ind_discovery", "q_schema_match",
    "q_whitening_2d", "q_procrustes_2d", "q_temperature_scaling",
    "q_cox_step", "q_partial_correlation", "q_cronbach_alpha",
    "q_effect_sizes", "q_nmf_step", "q_isotonic_calibration",
    "q_propensity_match", "q_capture_recapture",
    "q_quantile_sketch_merge", "q_regression_impute", "q_seed_distance",
    "q_quantile_normalize", "q_ar1_forecast", "q_logreg_newton",
    "q_boosting_stumps", "q_ht_estimator", "q_greedy_coverage",
    "q_tpch_q10_returns", "q_clone_docstore", "q_resource_allocation",
    "q_permutation_test", "q_jackknife_variance", "q_padding_waste",
    "q_temperature_mix", "q_loso_regression", "q_levene_test",
    "q_grubbs_outlier", "q_var_es", "q_bpe_apply",
    "q_quantile_regression_grid", "q_kv_cache_budget", "q_holt_winters",
    "q_media_dhash", "q_minhash_union", "q_topic_coherence",
    "q_gradient_sparsify", "q_shard_rebalance", "q_sql_variables",
    "q_mom_yoy", "q_clone_merkle_diff", "q_weighted_quantile", "q_auc_roc", "q_trimmed_mean", "q_cramers_v",
    "q_cdc_chunking", "q_spmm_blocked", "q_ivm_delta_join",
    "q_phonetic_blocking", "q_aho_corasick_scan", "q_audio_vad",
    "q_mv_rewrite", "q_inverted_index", "q_patch_grid",
    "q_three_way_merge", "q_time_travel", "q_change_feed",
    "q_cluster_split", "q_snapshot_merge", "q_snapshot_skipping",
    "q_snapshot_point_lookup", "q_snapshot_skipping_date",
    "q_stream_cdf_tail", "q_snapshot_cluster",
    "q_snapshot_schema_evolution", "q_snapshot_delete_range",
    "q_snapshot_wap", "q_pass_at_k", "q_stream_mv_maintain",
    "q_factorized_regression",
    "q_snapshot_mor_delete", "q_snapshot_cdc_merge", "q_grpo_advantage",
    "q_ppo_clip_stats", "q_raking_ipf", "q_majority_vote",
    "q_length_controlled_winrate", "q_paired_bootstrap",
    "q_snapshot_partition_evolution", "q_snapshot_constraints",
    "q_snapshot_mor_delete_str", "q_snapshot_dv_rewrite",
    "q_snapshot_merge_ts", "q_snapshot_restore", "q_retrieval_eval",
    "q_rater_agreement", "q_distinct_ngrams", "q_scaling_law",
    "q_snapshot_pruned_read", "q_snapshot_replace_where",
    "q_snapshot_zorder", "q_snapshot_clone", "q_stream_cdf_since",
    "q_snapshot_rename_col", "q_multimodal_decode",
    "q_snapshot_identity", "q_snapshot_sql_read", "q_snapshot_sql_ddl",
    "q_snapshot_type_widening", "q_snapshot_default_col",
    "q_audio_decode", "q_clone_namespace_txn", "q_snapshot_sql_merge", "q_snapshot_sql_update")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("EXPLAINS.md")
    // restricted mode (optimization-round plan artifacts): arg 3 is a
    // comma-list of query names and arg 4 a filename suffix — each
    // query's AQE-final formatted plan lands in `<out>/<name><suffix>.txt`
    // (`out` is a directory in this mode), e.g.
    //   runMain graft.Explain /root/testdata/sf0.1 plans/r15 q_suffix_lcp _after
    val restrict = args.lift(2).map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq)
    val suffix = args.lift(3).getOrElse("")
    val spark = DevSession.start("ERROR")

    // Staged scratch dirs (graft.util.Staging fingerprints, 16 hex
    // chars) and java.io.tmpdir temp suffixes are machine/run-local;
    // normalize them so regenerating this dump on another host diffs
    // only when a PLAN changes, not when a temp path does.
    def normalize(s: String): String = s
      .replaceAll("(graft_[a-z0-9_]*?_)[0-9a-f]{16}", "$1STAGETAG")
      .replaceAll("(graft_[a-z0-9_]*?_)[0-9]{6,}", "$1TMPTAG")
      // task-UUID leaf names inside staged layouts differ per build
      .replaceAll(
        "part-[0-9]{5}-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-" +
          "[0-9a-f]{12}", "part-NNNNN-UUID")
    def planOf(name: String): String = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // resolve AQE to the final plan
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }
    restrict match {
      case Some(names) =>
        val dir = java.nio.file.Paths.get(out)
        java.nio.file.Files.createDirectories(dir)
        names.foreach { name =>
          java.nio.file.Files.writeString(
            dir.resolve(s"$name$suffix.txt"),
            s"// $name @ $sfDir (AQE-final formatted plan)\n" +
              normalize(planOf(name)) + "\n")
          println(s"[explain] wrote $out/$name$suffix.txt")
        }
      case None =>
        val sb = new StringBuilder
        sb ++= s"# EXPLAINS — formatted physical plans at $sfDir\n\n"
        sb ++= "Generated by `runMain graft.Explain`. AQE-final plans (each\n"
        sb ++= "query executed once so adaptive stages are resolved).\n"
        headline.foreach { name =>
          sb ++= s"\n## $name\n\n```\n"
          sb ++= planOf(name)
          sb ++= "\n```\n"
        }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(out), normalize(sb.toString))
        println(s"[explain] wrote $out (${headline.size} plans)")
    }
    spark.stop()
  }
}
