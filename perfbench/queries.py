"""Pinned query lists for the catalog-sweep workload.

``HEADLINE`` is a copy of the 109 headline query names the repository's
``bench.py`` times; the benchmark keeps its own copy so that editing the
program's list cannot change the workload. ``SWEEP`` is the subset one
benchmark run times, because a whole headline pass does not fit the per-run
time budget: a stratified sample of the headline queries on their measured
warm time and job count (see README.md, "Why these five").
"""

HEADLINE = [
    "pricing_summary", "group_by_day", "having_topk", "dedup_keep_first",
    "join_three_way", "join_asof", "window_topn_per_group", "rollup_sums",
    "stream_session_window", "udf_group_center", "multimodal_features",
    "text_minhash_signature", "text_near_dup_pairs", "text_ngram_jaccard_pairs",
    "text_simhash_pairs", "embed_cosine_topk", "embed_ann_topk",
    "embed_ann_multiprobe", "embed_ivf_topk", "grouping_sets_sums",
    "taxi_kpi_by_payment", "text_unigram_rarity", "events_sessionize",
    "text_chunk_dedup", "corpus_pack_bins", "text_gopher_rules",
    "embed_semantic_dedup", "embed_knn_join", "text_bm25_topk",
    "corpus_bloom_prefilter", "events_rolling_wau", "embed_matryoshka_topk",
    "dq_audit_orders", "table_diff_orders", "customer_rfm",
    "text_tfidf_cosine_pairs", "events_distribution_drift",
    "events_value_winsorized", "sequence_gaps", "events_markov_transitions",
    "embed_dim_stats", "source_syndication_rank", "tpch_q5_local_volume",
    "tpch_q17_small_qty_revenue", "orders_cohort_ltv", "text_dedup_rate_by_source",
    "embed_outlier_docs", "stream_distribution_drift", "events_user_features",
    "events_leakfree_labels", "embed_contrastive_pairs", "orders_forecast_linear",
    "tpch_q3_shipping_priority", "tpch_q10_returned_items", "text_doc_surprisal",
    "tpch_q18_large_orders", "text_sliding_chunks", "join_runtime_bloom",
    "pysource_jsonl_scan", "events_variant_shred", "stream_state_inspect",
    "scan_file_lineage", "tpch_q4_priority_check", "tpch_q7_volume_shipping",
    "tpch_q8_market_share", "tpch_q13_order_distribution", "tpch_q14_promo_share",
    "tpch_q19_disjunctive_join", "tpch_q22_no_order_customers",
    "tpch_q6_revenue_delta", "tpch_q9_profit_by_nation",
    "tpch_q12_late_priority_classes", "tpch_q15_top_supplier",
    "tpch_q21_waiting_suppliers", "tpch_q2_min_cost_supplier",
    "tpch_q11_important_stock", "tpch_q16_supplier_part_counts",
    "tpch_q20_promotion_suppliers", "text_heavy_hitters", "text_duplicate_spans",
    "events_ewma_anomaly", "stats_mann_whitney", "graph_kcore_membership",
    "embed_power_iteration_pc1", "events_cusum_changepoint",
    "corpus_token_allocation", "text_novelty_curve", "stream_ewma_monitor",
    "events_pattern_match", "embed_binary_hamming_topk", "part_skyline",
    "search_hybrid_rrf", "events_session_overlap", "events_diff_in_diff",
    "privacy_k_anonymity", "privacy_l_diversity", "graph_link_prediction",
    "embed_centroid_drift", "stats_anova_oneway", "text_trigram_search",
    "graph_brand_modularity", "sample_neyman_allocation",
    "orders_gini_concentration", "corpus_source_overlap", "text_keyphrases_rake",
    "join_asof_forward", "events_survival_km", "stats_ks_test", "sql_lateral_topn",
]

# The stratified sample ``profile_headline.choose`` draws from the saved
# headline profile (data/headline_profile.json): one query per fifth of the
# headline queries by warm time, each a typical query of its fifth by jobs;
# listed fastest first. See README.md, "Why these five".
SWEEP = [
    "embed_binary_hamming_topk",
    "text_bm25_topk",  # reaches the session layout caches
    "text_ngram_jaccard_pairs",  # reaches the session layout caches
    "events_user_features",
    # the streaming runner; the coverage rule put it in place of the
    # slowest fifth's typical query, embed_centroid_drift
    "stream_distribution_drift",
]

assert len(HEADLINE) == 109 and len(set(HEADLINE)) == 109
assert set(SWEEP) <= set(HEADLINE)
