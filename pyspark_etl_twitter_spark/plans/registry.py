"""Query registry: name → (spark, sf_dir) callable, plus oracle-SQL twins.

Keys without an oracle entry are deliberately non-SQL-expressible
(xxhash64-based LSH, approximate ANN) — the driver records rows-only checks
for those; pytest covers them against Python/exact-Spark oracles instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark_etl_twitter_spark.plans import advanced_queries as AQ
from pyspark_etl_twitter_spark.plans import bucketed as B
from pyspark_etl_twitter_spark.plans import curation_queries as CQ
from pyspark_etl_twitter_spark.plans import funnel_queries as FQ
from pyspark_etl_twitter_spark.plans import graph_queries as GQ
from pyspark_etl_twitter_spark.plans import lm_queries as LQ
from pyspark_etl_twitter_spark.plans import relational as R
from pyspark_etl_twitter_spark.plans import relational2 as R2
from pyspark_etl_twitter_spark.plans import text_queries as T
from pyspark_etl_twitter_spark.plans import tpch as H

QueryFn = Callable[[SparkSession, str], DataFrame]

# ORDERING CONTRACT: the driver's correctness gate checks the first 50
# registry keys (CORRECTNESS_r01.json covered exactly positions 1-50 of the
# round-1 dict). Standing rule since round 6 (r5 verdict ask #4): every
# window slot is ORACLE-BACKED; the rows-only queries live in the tail so
# the driver never spends a slot on a by-design `no_oracle` row. Round 7
# shrank rows-only from 7 to 4 (xxhash64 MinHash/SimHash + their clusters,
# each now with a fully-SQL-verified md5 'portable' twin, and the genuinely
# engine-specific sketch aggregates) — kmeans, knn_ann_lsh and knn_ivf
# gained real oracles because their approximations are DETERMINISTIC
# (seeded literal hyperplanes / first-k centroids), so DuckDB replays them.
# Round-7 rule (r6 verdict ask #2): the window rotates toward
# never-driver-checked oracles until all 158 have a driver row in the
# book — tail entries with oracles are still checked by
# tools/check_oracles.py locally every round (ORACLES_LOCAL_r07.txt).
# Contract pinned by tests/test_registry_contract.py.

QUERIES: dict[str, QueryFn] = {
    # -- inside the 50-query driver window ---------------------------------
    # ROUND-8 WINDOW (r7 verdict asks #1/#3): the 14 oracle-backed queries
    # that have never been driver-HASH-green — the pinned r8 rotation queue
    # (portable SimHash twins, the four ANN rows whose r7 oracles postdate
    # their last driver rows, the deferred family variants) plus the two
    # r7 reds (encoded_docs / embedding_centroids_by_label, now serialized
    # to driver-hashable strings) — then the 36 STALEST greens (every
    # round-1 rep, the round-2 reps, five of the six round-3 reps) for
    # re-validation. After this round every one of the 162 oracle-backed
    # queries has a hash row in some CORRECTNESS_r*.json.
    # never driver-hash-green (14):
    "encoded_docs": T.encoded_docs,
    "embedding_centroids_by_label": AQ.embedding_centroids_by_label,
    "knn_ann_lsh": T.knn_ann_lsh,
    "knn_ann_lsh_high_recall": T.knn_ann_lsh_high_recall,
    "knn_ivf": T.knn_ivf,
    "knn_ivf_trained": T.knn_ivf_trained,
    "knn_ivf_rebalanced": T.knn_ivf_rebalanced,
    "knn_pq_adc": T.knn_pq_adc,
    "knn_ivfpq": T.knn_ivfpq,
    "knn_pq_indexed": T.knn_pq_indexed,
    "knn_ivfpq_indexed": T.knn_ivfpq_indexed,
    "knn_pq_trained": T.knn_pq_trained,
    "mmr_diversified_topk": T.mmr_diversified_topk,
    "knn_sq8": T.knn_sq8,
    # JL random projection (r12): the DIMENSION rung of the compression
    # frontier (seeded literal Gaussian directions, LSH-oracle trick)
    "knn_rp_topk": T.knn_rp_topk,
    # hash-verified ANN recall scoreboard (r12): every deterministic
    # rung vs exact, composed relationally; oracle composes the rungs'
    # own DuckDB replays as CTEs
    "ann_recall_report": T.ann_recall_report,
    "ann_recall_planted": T.ann_recall_planted,
    # contrastive training-pair mining (r12): hard negatives + seeded
    # uniform negatives
    "hard_negatives_topk": T.hard_negatives_topk,
    "seeded_negatives_sample": T.seeded_negatives_sample,
    "quality_lr_weights": T.quality_lr_weights,
    "quality_lr_scores_by_source": T.quality_lr_scores_by_source,
    "pagerank_suppliers": GQ.pagerank_suppliers,
    # k-core dense-subgraph extraction (r12): planted-clique fixture
    "kcore_suppliers": GQ.kcore_suppliers,
    "approx_distinct_portable": R2.approx_distinct_portable,
    # portable CMS twin (r12): frequency-sketch tier hash-verified, the
    # HLL-twin precedent extended to point-queryable counts
    "cms_heavy_hitters": R2.cms_heavy_hitters,
    # exact two-sample KS drift test (r12): distribution-level data
    # quality, integer cross-multiplied D over the quantized value domain
    "ks_drift_order_prices": R2.ks_drift_order_prices,
    # portable KMV bottom-k sketch (r12): distinct estimate + uniform
    # domain sample from one mergeable relation
    "kmv_profile_prices": R2.kmv_profile_prices,
    # PSI drift ruler (r12): binned, Laplace-smoothed companion to KS
    "psi_drift_order_prices": R2.psi_drift_order_prices,
    "dedup_simhash_portable": T.dedup_simhash_portable,
    "dedup_simhash_portable_pairs": T.dedup_simhash_portable_pairs,
    "dedup_clusters_simhash_portable": T.dedup_clusters_simhash_portable,
    "dedup_clusters_minhash_portable": T.dedup_clusters_minhash_portable,
    "dedup_cluster_source_profile": T.dedup_cluster_source_profile,
    "chunk_documents_overlap_64": T.chunk_documents_overlap_64,
    "asof_nearest_click": R.asof_nearest_click,
    "bigram_profile_top": CQ.bigram_profile_top,
    "source_vocab_overlap_top": CQ.source_vocab_overlap_top,
    # stalest greens — last hash row round 1 (26):
    "anti_join_customers": R.anti_join_customers,
    "cube_quantity": R.cube_quantity,
    "date_arithmetic_orders": R2.date_arithmetic_orders,
    "date_funcs_orders": R.date_funcs_orders,
    "dedup_exact_groups": T.dedup_exact_groups,
    "distinct_counts": R.distinct_counts,
    "except_all_quantities": R2.except_all_quantities,
    "full_outer_nation_counts": R.full_outer_nation_counts,
    "grouping_sets_revenue": R.grouping_sets_revenue,
    "intersect_all_quantities": R2.intersect_all_quantities,
    "json_extract_events": R.json_extract_events,
    "map_funcs_events": R2.map_funcs_events,
    "math_funcs_lineitem": R2.math_funcs_lineitem,
    "null_conditionals_customer": R2.null_conditionals_customer,
    "orders_above_avg": R2.orders_above_avg,
    "orders_with_many_items": R2.orders_with_many_items,
    "outer_join_order_counts": R.outer_join_order_counts,
    "pivot_status_qty": R.pivot_status_qty,
    "regex_extract_part": R2.regex_extract_part,
    "set_except_custkeys": R.set_except_custkeys,
    "set_intersect_custkeys": R.set_intersect_custkeys,
    "set_union_active_keys": R.set_union_active_keys,
    "sliding_window_events": R.sliding_window_events,
    "string_funcs_part": R.string_funcs_part,
    "union_by_name_accounts": R2.union_by_name_accounts,
    "window_rank_stats": R2.window_rank_stats,
    # last hash row round 2 (5):
    "dedup_sha_fingerprints": T.dedup_sha_fingerprints,
    "global_top_orders": R.global_top_orders,
    "range_join_price_bands": R.range_join_price_bands,
    "rollup_revenue": R.rollup_revenue,
    "sentiment_doc_scores": T.sentiment_doc_scores,
    # last hash row round 3 (5 of 6; semi_join_customers re-validates r9):
    "array_funcs_documents": R2.array_funcs_documents,
    "dedup_jaccard_pairs": T.dedup_jaccard_pairs,
    "embedding_norm_stats": T.embedding_norm_stats,
    "lang_token_stats": T.lang_token_stats,
    "pack_documents_salted_2048": T.pack_documents_salted_2048,
    # -- past the window ----------------------------------------------------
    # rows-only by design (xxhash64 hashing or engine-specific sketches —
    # not ANSI-SQL-reproducible; each xxhash64 entry has a hash-green md5
    # 'portable' twin in the window above).
    "approx_summary": R2.approx_summary,
    "dedup_minhash_pairs": T.dedup_minhash_pairs,
    "dedup_simhash_fingerprints": T.dedup_simhash_fingerprints,
    "dedup_clusters_minhash": T.dedup_clusters_minhash,
    # driver-green r4-r7 (oracles retained; the local gate re-checks every
    # one of these each round — see ORACLES_LOCAL_r08.txt)
    "tpch_q2_min_cost_supplier": H.tpch_q2_min_cost_supplier,
    "tpch_q3_shipping_priority": H.tpch_q3_shipping_priority,
    "tpch_q4_order_priority": H.tpch_q4_order_priority,
    "tpch_q5_local_supplier_volume": H.tpch_q5_local_supplier_volume,
    "tpch_q6_forecast_revenue": H.tpch_q6_forecast_revenue,
    "tpch_q7_nation_volume": H.tpch_q7_nation_volume,
    "tpch_q8_market_share": H.tpch_q8_market_share,
    "tpch_q9_profit_by_nation": H.tpch_q9_profit_by_nation,
    "tpch_q10_returned_items": H.tpch_q10_returned_items,
    "tpch_q11_important_stock": H.tpch_q11_important_stock,
    "tpch_q12_latency_priority": H.tpch_q12_latency_priority,
    "tpch_q13_customer_distribution": H.tpch_q13_customer_distribution,
    "tpch_q14_promo_effect": H.tpch_q14_promo_effect,
    "tpch_q15_top_supplier": H.tpch_q15_top_supplier,
    "tpch_q16_supplier_variety": H.tpch_q16_supplier_variety,
    "tpch_q17_small_qty_revenue": H.tpch_q17_small_qty_revenue,
    "tpch_q19_disjunctive_revenue": H.tpch_q19_disjunctive_revenue,
    "tpch_q22_dormant_customers": H.tpch_q22_dormant_customers,
    "graph_degree_histogram": GQ.graph_degree_histogram,
    "graph_triangles_per_node": GQ.graph_triangles_per_node,
    "bloom_join_urgent_revenue": AQ.bloom_join_urgent_revenue,
    "cohort_retention_weekly": FQ.cohort_retention_weekly,
    "session_conversion_rate": FQ.session_conversion_rate,
    "asof_forward_next_click": R.asof_forward_next_click,
    "null_safe_join_segments": R2.null_safe_join_segments,
    "salted_join_brand_revenue": R2.salted_join_brand_revenue,
    "customers_above_nation_avg": R2.customers_above_nation_avg,
    "outlier_events_by_type": AQ.outlier_events_by_type,
    "unpivot_lineitem_measures": AQ.unpivot_lineitem_measures,
    "percentile_window_customers": AQ.percentile_window_customers,
    "stats_aggregates_lineitem": R2.stats_aggregates_lineitem,
    "minmax_by_orders": R2.minmax_by_orders,
    "resample_interpolate_hourly": CQ.resample_interpolate_hourly,
    "top_terms_per_doc": T.top_terms_per_doc,
    "training_mix_counts": T.training_mix_counts,
    "dedup_keep_canonical": T.dedup_keep_canonical,
    "vocab_head": T.vocab_head,
    "chunk_documents_64": T.chunk_documents_64,
    "curation_pipeline_counts": T.curation_pipeline_counts,
    "epoch_shuffle_head": CQ.epoch_shuffle_head,
    "doc_length_histogram": CQ.doc_length_histogram,
    "fuzzy_part_name_pairs": CQ.fuzzy_part_name_pairs,
    "bigram_lm_quality_by_source": LQ.bigram_lm_quality_by_source,
    "semantic_near_dup_pairs": AQ.semantic_near_dup_pairs,
    "semantic_dedup_survivors": AQ.semantic_dedup_survivors,
    "semantic_prune_by_centroid": AQ.semantic_prune_by_centroid,
    "dedup_minhash_portable_pairs": T.dedup_minhash_portable_pairs,
    "kmeans_cluster_sizes": AQ.kmeans_cluster_sizes,
    "semdedup_cluster_summary": AQ.semdedup_cluster_summary,
    # BLAS pair kernel over the full corpus: rows-only by design (NumPy
    # pairwise summation is not provably bit-equal to a SQL fold);
    # equality vs the fold pinned in tests/test_dedup.py
    "semdedup_fast_summary": AQ.semdedup_fast_summary,
    # SemDeDup over the persisted IVF index — the corpus-scale form,
    # fully oracle-backed (r10 verdict ask #5)
    "semdedup_ivf_summary": AQ.semdedup_ivf_summary,
    # DSIR importance weighting (r11): hashed-ngram domain matching,
    # fully md5-portable — weights profile + greedy top-k selection
    "dsir_weights_by_source": CQ.dsir_weights_by_source,
    "dsir_selected_counts": CQ.dsir_selected_counts,
    "dsir_gumbel_counts": CQ.dsir_gumbel_counts,
    # Gopher quality rules (r11): exact-integer published ruleset
    "gopher_rules_by_source": T.gopher_rules_by_source,
    "gopher_line_rules_by_source": T.gopher_line_rules_by_source,
    # C4 cleaning rules (r12): the other canonical public web-curation
    # ruleset (Raffel et al. 2020 §2.2), planted multi-line fixture
    "c4_rules_by_source": T.c4_rules_by_source,
    # BPE train+encode: rows-only by design (iterative merge loop — no
    # tractable recursive CTE); equality vs a brute-force trainer over
    # the expanded corpus pinned in tests/test_encoding.py (r10 ADVICE:
    # was defined but unreachable)
    "bpe_tokens_by_source": T.bpe_tokens_by_source,
    "bpe_encoded_fixed_merges": T.bpe_encoded_fixed_merges,
    "bpe_train_portable_merges": T.bpe_train_portable_merges,
    "dedup_segments_rebuild": T.dedup_segments_rebuild,
    # Exact-substring dedup REMOVAL (r12, Lee et al. 2022): cut tokens
    # covered by cross-doc duplicated 8-grams; planted boilerplate fixture
    "dedup_span_removal_by_source": T.dedup_span_removal_by_source,
    "dedup_span_keepfirst_by_source": T.dedup_span_keepfirst_by_source,
    "pricing_summary": R.pricing_summary,
    "revenue_by_nation": R.revenue_by_nation,
    "bucketed_join_revenue": B.bucketed_join_revenue,
    "tpch_q18_large_volume_customers": H.tpch_q18_large_volume_customers,
    "tpch_q21_waiting_suppliers": H.tpch_q21_waiting_suppliers,
    "tpch_q20_excess_stock": H.tpch_q20_excess_stock,
    "fuzzy_decontaminate_counts": CQ.fuzzy_decontaminate_counts,
    "containment_decontaminate_counts": CQ.containment_decontaminate_counts,
    "budget_selection_by_source": CQ.budget_selection_by_source,
    "temperature_mix_counts": CQ.temperature_mix_counts,
    # cross-source quantile-normalization map (r12)
    "quantile_norm_price_map": CQ.quantile_norm_price_map,
    "repeated_spans_top": T.repeated_spans_top,
    "asof_tolerance_click": R.asof_tolerance_click,
    "winsorized_price_stats": R2.winsorized_price_stats,
    "funnel_view_click_purchase": FQ.funnel_view_click_purchase,
    "binned_range_join_bands": AQ.binned_range_join_bands,
    "bm25_search_topk": T.bm25_search_topk,
    "graph_triangle_count": GQ.graph_triangle_count,
    "lm_quality_by_source": LQ.lm_quality_by_source,
    "oov_rate_by_source": LQ.oov_rate_by_source,
    # PMI collocations (r12): token-association mining next to the
    # bigram LM (Church & Hanks 1990)
    "pmi_collocations_top": LQ.pmi_collocations_top,
    # trigram LM rung (r12): unigram -> bigram -> trigram ladder
    "trigram_lm_quality_by_source": LQ.trigram_lm_quality_by_source,
    # calibrated ppl filter (r12): the quantile-map APPLY side end-to-end
    "calibrated_ppl_filter_by_source": LQ.calibrated_ppl_filter_by_source,
    "topk_orders_per_customer": R.topk_orders_per_customer,
    "running_revenue_by_supplier": R.running_revenue_by_supplier,
    "sessionize_events": R.sessionize_events,
    "decontaminate_counts": CQ.decontaminate_counts,
    "bloom_decontaminate_counts": CQ.bloom_decontaminate_counts,
    "pii_pseudonymize_customers": CQ.pii_pseudonymize_customers,
    "data_quality_lineitem": R2.data_quality_lineitem,
    "hourly_event_rollup": R.hourly_event_rollup,
    # portable EWMA twin (r12): smoothing tier hash-verified
    "ewma_hourly_by_type": R.ewma_hourly_by_type,
    # r13: changepoint tier of the drift ladder (portable CUSUM fold)
    "cusum_hourly_by_type": R.cusum_hourly_by_type,
    # r13: Benford leading-digit conformity ruler
    "benford_order_prices": R2.benford_order_prices,
    # r13: Flesch readability rung of the quality ladder
    "readability_by_source": T.readability_by_source,
    # r13: near-dup-cluster-keyed split (eval-leakage guard)
    "leakage_safe_split_counts": T.leakage_safe_split_counts,
    # r13 tail addition (leads the r14 rotation queue): Zipf corpus-
    # health ruler — full oracle, 3-SF verified locally
    "zipf_by_source": T.zipf_by_source,
    "sentiment_classes": T.sentiment_classes,
    "sentiment_weights_head": T.sentiment_weights_head,
    "dedup_exact_summary": T.dedup_exact_summary,
    "dedup_clusters": T.dedup_clusters,
    "knn_brute_cosine": T.knn_brute_cosine,
    "embedding_near_dup": T.embedding_near_dup,
    "text_quality_by_source": T.text_quality_by_source,
    "repetition_stats": T.repetition_stats,
    "quality_gate_by_source": T.quality_gate_by_source,
    "lang_detect_counts": T.lang_detect_counts,
    "token_counts": T.token_counts,
    "doc_fingerprints": T.doc_fingerprints,
    "pack_documents_2048": T.pack_documents_2048,
    "resample_ffill_hourly": CQ.resample_ffill_hourly,
    "rolling_1h_event_stats": CQ.rolling_1h_event_stats,
    "hash_split_counts": AQ.hash_split_counts,
    "weighted_sample_by_length": CQ.weighted_sample_by_length,
    "stratified_exact_n_docs": R2.stratified_exact_n_docs,
    "running_revenue_chunked": R.running_revenue_chunked,
    "script_profile_by_source": T.script_profile_by_source,
    "dedup_normalized_summary": T.dedup_normalized_summary,
    "sessionize_events_chunked": R.sessionize_events_chunked,
    "hashed_embedding_profile": T.hashed_embedding_profile,
    "text_embedding_near_dup": T.text_embedding_near_dup,
    "text_semantic_dedup_survivors": T.text_semantic_dedup_survivors,
    "top_revenue_orders": R.top_revenue_orders,
    "equidepth_price_deciles": R2.equidepth_price_deciles,
    "char_entropy_by_source": T.char_entropy_by_source,
    "dedup_incremental": T.dedup_incremental,
    "dedup_incremental_minhash": T.dedup_incremental_minhash,
    "dedup_minhash_maintenance": T.dedup_minhash_maintenance,
    "dedup_cdc_rebuild": T.dedup_cdc_rebuild,
    "multi_resolution_rollup": T.multi_resolution_rollup,
    "semi_join_customers": R.semi_join_customers,
    "snapshot_diff_counts": R2.snapshot_diff_counts,
    "weekly_revenue_wow": R2.weekly_revenue_wow,
    "hof_funcs_documents": R2.hof_funcs_documents,
    "profile_orders_columns": R2.profile_orders_columns,
    "referential_integrity_audit": R2.referential_integrity_audit,
    "asof_purchase_click": R.asof_purchase_click,
    "event_gaps": R.event_gaps,
    "percentile_prices": R2.percentile_prices,
}

ORACLES: dict[str, str] = {
    "pricing_summary": R.ORACLE_PRICING_SUMMARY,
    "distinct_counts": R.ORACLE_DISTINCT_COUNTS,
    "rollup_revenue": R.ORACLE_ROLLUP_REVENUE,
    "cube_quantity": R.ORACLE_CUBE_QUANTITY,
    "grouping_sets_revenue": R.ORACLE_GROUPING_SETS_REVENUE,
    "pivot_status_qty": R.ORACLE_PIVOT_STATUS_QTY,
    "top_revenue_orders": R.ORACLE_TOP_REVENUE_ORDERS,
    "revenue_by_nation": R.ORACLE_REVENUE_BY_NATION,
    "bucketed_join_revenue": B.ORACLE_BUCKETED_JOIN_REVENUE,
    "semi_join_customers": R.ORACLE_SEMI_JOIN_CUSTOMERS,
    "anti_join_customers": R.ORACLE_ANTI_JOIN_CUSTOMERS,
    "outer_join_order_counts": R.ORACLE_OUTER_JOIN_ORDER_COUNTS,
    "full_outer_nation_counts": R.ORACLE_FULL_OUTER_NATION_COUNTS,
    "range_join_price_bands": R.ORACLE_RANGE_JOIN_PRICE_BANDS,
    "topk_orders_per_customer": R.ORACLE_TOPK_ORDERS_PER_CUSTOMER,
    "global_top_orders": R.ORACLE_GLOBAL_TOP_ORDERS,
    "running_revenue_by_supplier": R.ORACLE_RUNNING_REVENUE_BY_SUPPLIER,
    "event_gaps": R.ORACLE_EVENT_GAPS,
    "asof_purchase_click": R.ORACLE_ASOF_PURCHASE_CLICK,
    "sessionize_events": R.ORACLE_SESSIONIZE_EVENTS,
    "set_union_active_keys": R.ORACLE_SET_UNION_ACTIVE_KEYS,
    "set_intersect_custkeys": R.ORACLE_SET_INTERSECT_CUSTKEYS,
    "set_except_custkeys": R.ORACLE_SET_EXCEPT_CUSTKEYS,
    "string_funcs_part": R.ORACLE_STRING_FUNCS_PART,
    "date_funcs_orders": R.ORACLE_DATE_FUNCS_ORDERS,
    "json_extract_events": R.ORACLE_JSON_EXTRACT_EVENTS,
    "hourly_event_rollup": R.ORACLE_HOURLY_EVENT_ROLLUP,
    "ewma_hourly_by_type": R.ORACLE_EWMA_HOURLY_BY_TYPE,
    "cusum_hourly_by_type": R.ORACLE_CUSUM_HOURLY_BY_TYPE,
    "benford_order_prices": R2.ORACLE_BENFORD_ORDER_PRICES,
    "readability_by_source": T.ORACLE_READABILITY_BY_SOURCE,
    "leakage_safe_split_counts": T.ORACLE_LEAKAGE_SAFE_SPLIT_COUNTS,
    "zipf_by_source": T.ORACLE_ZIPF_BY_SOURCE,
    "sliding_window_events": R.ORACLE_SLIDING_WINDOW_EVENTS,
    "math_funcs_lineitem": R2.ORACLE_MATH_FUNCS_LINEITEM,
    "percentile_prices": R2.ORACLE_PERCENTILE_PRICES,
    "array_funcs_documents": R2.ORACLE_ARRAY_FUNCS_DOCUMENTS,
    "orders_with_many_items": R2.ORACLE_ORDERS_WITH_MANY_ITEMS,
    "orders_above_avg": R2.ORACLE_ORDERS_ABOVE_AVG,
    "intersect_all_quantities": R2.ORACLE_INTERSECT_ALL_QUANTITIES,
    "except_all_quantities": R2.ORACLE_EXCEPT_ALL_QUANTITIES,
    "union_by_name_accounts": R2.ORACLE_UNION_BY_NAME_ACCOUNTS,
    "null_conditionals_customer": R2.ORACLE_NULL_CONDITIONALS_CUSTOMER,
    "window_rank_stats": R2.ORACLE_WINDOW_RANK_STATS,
    "date_arithmetic_orders": R2.ORACLE_DATE_ARITHMETIC_ORDERS,
    "data_quality_lineitem": R2.ORACLE_DATA_QUALITY_LINEITEM,
    "map_funcs_events": R2.ORACLE_MAP_FUNCS_EVENTS,
    "regex_extract_part": R2.ORACLE_REGEX_EXTRACT_PART,
    # approx_summary: sketches differ across engines → rows-only
    "sentiment_classes": T.ORACLE_SENTIMENT_CLASSES,
    "sentiment_doc_scores": T.ORACLE_SENTIMENT_DOC_SCORES,
    "sentiment_weights_head": T.ORACLE_SENTIMENT_WEIGHTS_HEAD,
    "dedup_exact_summary": T.ORACLE_DEDUP_EXACT_SUMMARY,
    "dedup_exact_groups": T.ORACLE_DEDUP_EXACT_GROUPS,
    "dedup_sha_fingerprints": T.ORACLE_DEDUP_SHA_FINGERPRINTS,
    "dedup_jaccard_pairs": T.ORACLE_DEDUP_JACCARD_PAIRS,
    "dedup_minhash_portable_pairs": T.ORACLE_DEDUP_MINHASH_PORTABLE_PAIRS,
    "dedup_simhash_portable": T.ORACLE_DEDUP_SIMHASH_PORTABLE,
    "dedup_simhash_portable_pairs": T.ORACLE_DEDUP_SIMHASH_PORTABLE_PAIRS,
    "dedup_clusters_simhash_portable": T.ORACLE_DEDUP_CLUSTERS_SIMHASH_PORTABLE,
    "dedup_clusters_minhash_portable": T.ORACLE_DEDUP_CLUSTERS_MINHASH_PORTABLE,
    "dedup_cluster_source_profile": T.ORACLE_DEDUP_CLUSTER_SOURCE_PROFILE,
    "knn_ann_lsh": T.ORACLE_KNN_ANN_LSH,
    "knn_ann_lsh_high_recall": T.ORACLE_KNN_ANN_LSH_HIGH_RECALL,
    "knn_ivf": T.ORACLE_KNN_IVF,
    "knn_ivf_trained": T.ORACLE_KNN_IVF_TRAINED,
    "knn_ivf_rebalanced": T.ORACLE_KNN_IVF_TRAINED,
    "knn_pq_adc": T.ORACLE_KNN_PQ_ADC,
    "knn_ivfpq": T.ORACLE_KNN_IVFPQ,
    "knn_pq_indexed": T.ORACLE_KNN_PQ_INDEXED,
    "knn_ivfpq_indexed": T.ORACLE_KNN_IVFPQ_INDEXED,
    "bpe_encoded_fixed_merges": T.ORACLE_BPE_ENCODED_FIXED_MERGES,
    "bpe_train_portable_merges": T.ORACLE_BPE_TRAIN_PORTABLE_MERGES,
    "knn_pq_trained": T.ORACLE_KNN_PQ_TRAINED,
    "mmr_diversified_topk": T.ORACLE_MMR_DIVERSIFIED_TOPK,
    "knn_sq8": T.ORACLE_KNN_SQ8,
    "knn_rp_topk": T.ORACLE_KNN_RP_TOPK,
    "ann_recall_report": T.ORACLE_ANN_RECALL_REPORT,
    "ann_recall_planted": T.ORACLE_ANN_RECALL_PLANTED,
    "hard_negatives_topk": T.ORACLE_HARD_NEGATIVES_TOPK,
    "seeded_negatives_sample": T.ORACLE_SEEDED_NEGATIVES_SAMPLE,
    "quality_lr_weights": T.ORACLE_QUALITY_LR_WEIGHTS,
    "quality_lr_scores_by_source": T.ORACLE_QUALITY_LR_SCORES_BY_SOURCE,
    "pagerank_suppliers": GQ.ORACLE_PAGERANK_SUPPLIERS,
    "kcore_suppliers": GQ.ORACLE_KCORE_SUPPLIERS,
    "approx_distinct_portable": R2.ORACLE_APPROX_DISTINCT_PORTABLE,
    "cms_heavy_hitters": R2.ORACLE_CMS_HEAVY_HITTERS,
    "ks_drift_order_prices": R2.ORACLE_KS_DRIFT_ORDER_PRICES,
    "kmv_profile_prices": R2.ORACLE_KMV_PROFILE_PRICES,
    "psi_drift_order_prices": R2.ORACLE_PSI_DRIFT_ORDER_PRICES,
    # dedup_minhash_pairs / dedup_simhash_fingerprints: xxhash64 → rows-only
    "dedup_clusters": T.ORACLE_DEDUP_CLUSTERS,
    # dedup_clusters_minhash: xxhash64-seeded pairs → rows-only
    "dedup_incremental": T.ORACLE_DEDUP_INCREMENTAL,
    "dedup_incremental_minhash": T.ORACLE_DEDUP_INCREMENTAL_MINHASH,
    "dedup_minhash_maintenance": T.ORACLE_DEDUP_MINHASH_MAINTENANCE,
    "dedup_cdc_rebuild": T.ORACLE_DEDUP_CDC_REBUILD,
    "repetition_stats": T.ORACLE_REPETITION_STATS,
    "quality_gate_by_source": T.ORACLE_QUALITY_GATE_BY_SOURCE,
    "knn_brute_cosine": T.ORACLE_KNN_BRUTE_COSINE,
    "embedding_near_dup": T.ORACLE_EMBEDDING_NEAR_DUP,
    "embedding_norm_stats": T.ORACLE_EMBEDDING_NORM_STATS,
    "text_quality_by_source": T.ORACLE_TEXT_QUALITY_BY_SOURCE,
    "lang_token_stats": T.ORACLE_LANG_TOKEN_STATS,
    "lang_detect_counts": T.ORACLE_LANG_DETECT_COUNTS,
    "token_counts": T.ORACLE_TOKEN_COUNTS,
    "doc_fingerprints": T.ORACLE_DOC_FINGERPRINTS,
    "top_terms_per_doc": T.ORACLE_TOP_TERMS_PER_DOC,
    "training_mix_counts": T.ORACLE_TRAINING_MIX_COUNTS,
    "dedup_keep_canonical": T.ORACLE_DEDUP_KEEP_CANONICAL,
    "vocab_head": T.ORACLE_VOCAB_HEAD,
    "encoded_docs": T.ORACLE_ENCODED_DOCS,
    "chunk_documents_64": T.ORACLE_CHUNK_DOCUMENTS_64,
    "curation_pipeline_counts": T.ORACLE_CURATION_PIPELINE_COUNTS,
    "customers_above_nation_avg": R2.ORACLE_CUSTOMERS_ABOVE_NATION_AVG,
    "salted_join_brand_revenue": R2.ORACLE_SALTED_JOIN_BRAND_REVENUE,
    "pack_documents_2048": T.ORACLE_PACK_DOCUMENTS_2048,
    "pack_documents_salted_2048": T.ORACLE_PACK_DOCUMENTS_SALTED_2048,
    "multi_resolution_rollup": T.ORACLE_MULTI_RESOLUTION_ROLLUP,
    "decontaminate_counts": CQ.ORACLE_DECONTAMINATE_COUNTS,
    "bloom_decontaminate_counts": CQ.ORACLE_BLOOM_DECONTAMINATE_COUNTS,
    "pii_pseudonymize_customers": CQ.ORACLE_PII_PSEUDONYMIZE_CUSTOMERS,
    "epoch_shuffle_head": CQ.ORACLE_EPOCH_SHUFFLE_HEAD,
    "bigram_profile_top": CQ.ORACLE_BIGRAM_PROFILE_TOP,
    "doc_length_histogram": CQ.ORACLE_DOC_LENGTH_HISTOGRAM,
    "fuzzy_part_name_pairs": CQ.ORACLE_FUZZY_PART_NAME_PAIRS,
    "resample_ffill_hourly": CQ.ORACLE_RESAMPLE_FFILL_HOURLY,
    "rolling_1h_event_stats": CQ.ORACLE_ROLLING_1H_EVENT_STATS,
    "hash_split_counts": AQ.ORACLE_HASH_SPLIT_COUNTS,
    "outlier_events_by_type": AQ.ORACLE_OUTLIER_EVENTS_BY_TYPE,
    "unpivot_lineitem_measures": AQ.ORACLE_UNPIVOT_LINEITEM_MEASURES,
    "percentile_window_customers": AQ.ORACLE_PERCENTILE_WINDOW_CUSTOMERS,
    "semantic_near_dup_pairs": AQ.ORACLE_SEMANTIC_NEAR_DUP_PAIRS,
    "kmeans_cluster_sizes": AQ.ORACLE_KMEANS_CLUSTER_SIZES,
    "semdedup_cluster_summary": AQ.ORACLE_SEMDEDUP_CLUSTER_SUMMARY,
    "semdedup_ivf_summary": AQ.ORACLE_SEMDEDUP_IVF_SUMMARY,
    "dsir_weights_by_source": CQ.ORACLE_DSIR_WEIGHTS_BY_SOURCE,
    "dsir_selected_counts": CQ.ORACLE_DSIR_SELECTED_COUNTS,
    "dsir_gumbel_counts": CQ.ORACLE_DSIR_GUMBEL_COUNTS,
    "gopher_rules_by_source": T.ORACLE_GOPHER_RULES_BY_SOURCE,
    "gopher_line_rules_by_source": T.ORACLE_GOPHER_LINE_RULES_BY_SOURCE,
    "c4_rules_by_source": T.ORACLE_C4_RULES_BY_SOURCE,
    "dedup_segments_rebuild": T.ORACLE_DEDUP_SEGMENTS_REBUILD,
    "dedup_span_removal_by_source": T.ORACLE_DEDUP_SPAN_REMOVAL_BY_SOURCE,
    "dedup_span_keepfirst_by_source": T.ORACLE_DEDUP_SPAN_KEEPFIRST_BY_SOURCE,
    "semantic_dedup_survivors": AQ.ORACLE_SEMANTIC_DEDUP_SURVIVORS,
    "tpch_q3_shipping_priority": H.ORACLE_TPCH_Q3,
    "tpch_q4_order_priority": H.ORACLE_TPCH_Q4,
    "tpch_q7_nation_volume": H.ORACLE_TPCH_Q7,
    "tpch_q8_market_share": H.ORACLE_TPCH_Q8,
    "tpch_q9_profit_by_nation": H.ORACLE_TPCH_Q9,
    "tpch_q10_returned_items": H.ORACLE_TPCH_Q10,
    "tpch_q12_latency_priority": H.ORACLE_TPCH_Q12,
    "tpch_q14_promo_effect": H.ORACLE_TPCH_Q14,
    "tpch_q16_supplier_variety": H.ORACLE_TPCH_Q16,
    "tpch_q5_local_supplier_volume": H.ORACLE_TPCH_Q5,
    "tpch_q6_forecast_revenue": H.ORACLE_TPCH_Q6,
    "tpch_q13_customer_distribution": H.ORACLE_TPCH_Q13,
    "tpch_q15_top_supplier": H.ORACLE_TPCH_Q15,
    "tpch_q17_small_qty_revenue": H.ORACLE_TPCH_Q17,
    "tpch_q18_large_volume_customers": H.ORACLE_TPCH_Q18,
    "tpch_q19_disjunctive_revenue": H.ORACLE_TPCH_Q19,
    "tpch_q21_waiting_suppliers": H.ORACLE_TPCH_Q21,
    "tpch_q22_dormant_customers": H.ORACLE_TPCH_Q22,
    "tpch_q2_min_cost_supplier": H.ORACLE_TPCH_Q2,
    "tpch_q11_important_stock": H.ORACLE_TPCH_Q11,
    "tpch_q20_excess_stock": H.ORACLE_TPCH_Q20,
    "graph_degree_histogram": GQ.ORACLE_GRAPH_DEGREE_HISTOGRAM,
    "graph_triangle_count": GQ.ORACLE_GRAPH_TRIANGLE_COUNT,
    "graph_triangles_per_node": GQ.ORACLE_GRAPH_TRIANGLES_PER_NODE,
    "lm_quality_by_source": LQ.ORACLE_LM_QUALITY_BY_SOURCE,
    "pmi_collocations_top": LQ.ORACLE_PMI_COLLOCATIONS_TOP,
    "trigram_lm_quality_by_source": LQ.ORACLE_TRIGRAM_LM_QUALITY_BY_SOURCE,
    "calibrated_ppl_filter_by_source": LQ.ORACLE_CALIBRATED_PPL_FILTER_BY_SOURCE,
    "oov_rate_by_source": LQ.ORACLE_OOV_RATE_BY_SOURCE,
    "bloom_join_urgent_revenue": AQ.ORACLE_BLOOM_JOIN_URGENT_REVENUE,
    "funnel_view_click_purchase": FQ.ORACLE_FUNNEL_VIEW_CLICK_PURCHASE,
    "cohort_retention_weekly": FQ.ORACLE_COHORT_RETENTION_WEEKLY,
    "binned_range_join_bands": AQ.ORACLE_BINNED_RANGE_JOIN_BANDS,
    "weighted_sample_by_length": CQ.ORACLE_WEIGHTED_SAMPLE_BY_LENGTH,
    "fuzzy_decontaminate_counts": CQ.ORACLE_FUZZY_DECONTAMINATE_COUNTS,
    "containment_decontaminate_counts": CQ.ORACLE_CONTAINMENT_DECONTAMINATE_COUNTS,
    "budget_selection_by_source": CQ.ORACLE_BUDGET_SELECTION_BY_SOURCE,
    "temperature_mix_counts": CQ.ORACLE_TEMPERATURE_MIX_COUNTS,
    "quantile_norm_price_map": CQ.ORACLE_QUANTILE_NORM_PRICE_MAP,
    "char_entropy_by_source": T.ORACLE_CHAR_ENTROPY_BY_SOURCE,
    "repeated_spans_top": T.ORACLE_REPEATED_SPANS_TOP,
    "source_vocab_overlap_top": CQ.ORACLE_SOURCE_VOCAB_OVERLAP_TOP,
    "winsorized_price_stats": R2.ORACLE_WINSORIZED_PRICE_STATS,
    "asof_tolerance_click": R.ORACLE_ASOF_TOLERANCE_CLICK,
    "equidepth_price_deciles": R2.ORACLE_EQUIDEPTH_PRICE_DECILES,
    "bigram_lm_quality_by_source": LQ.ORACLE_BIGRAM_LM_QUALITY_BY_SOURCE,
    "chunk_documents_overlap_64": T.ORACLE_CHUNK_DOCUMENTS_OVERLAP_64,
    "stats_aggregates_lineitem": R2.ORACLE_STATS_AGGREGATES_LINEITEM,
    "minmax_by_orders": R2.ORACLE_MINMAX_BY_ORDERS,
    "stratified_exact_n_docs": R2.ORACLE_STRATIFIED_EXACT_N_DOCS,
    "profile_orders_columns": R2.ORACLE_PROFILE_ORDERS_COLUMNS,
    "referential_integrity_audit": R2.ORACLE_REFERENTIAL_INTEGRITY_AUDIT,
    "session_conversion_rate": FQ.ORACLE_SESSION_CONVERSION_RATE,
    "weekly_revenue_wow": R2.ORACLE_WEEKLY_REVENUE_WOW,
    "hof_funcs_documents": R2.ORACLE_HOF_FUNCS_DOCUMENTS,
    "snapshot_diff_counts": R2.ORACLE_SNAPSHOT_DIFF_COUNTS,
    "embedding_centroids_by_label": AQ.ORACLE_EMBEDDING_CENTROIDS_BY_LABEL,
    "asof_forward_next_click": R.ORACLE_ASOF_FORWARD_NEXT_CLICK,
    "asof_nearest_click": R.ORACLE_ASOF_NEAREST_CLICK,
    "null_safe_join_segments": R2.ORACLE_NULL_SAFE_JOIN_SEGMENTS,
    "semantic_prune_by_centroid": AQ.ORACLE_SEMANTIC_PRUNE_BY_CENTROID,
    "bm25_search_topk": T.ORACLE_BM25_SEARCH_TOPK,
    "resample_interpolate_hourly": CQ.ORACLE_RESAMPLE_INTERPOLATE_HOURLY,
    "script_profile_by_source": T.ORACLE_SCRIPT_PROFILE_BY_SOURCE,
    "dedup_normalized_summary": T.ORACLE_DEDUP_NORMALIZED_SUMMARY,
    "sessionize_events_chunked": R.ORACLE_SESSIONIZE_EVENTS_CHUNKED,
    "running_revenue_chunked": R.ORACLE_RUNNING_REVENUE_CHUNKED,
    "hashed_embedding_profile": T.ORACLE_HASHED_EMBEDDING_PROFILE,
    "text_embedding_near_dup": T.ORACLE_TEXT_EMBEDDING_NEAR_DUP,
    "text_semantic_dedup_survivors": T.ORACLE_TEXT_SEMANTIC_DEDUP_SURVIVORS,
}

# DRIVER_WINDOW: the 50 rows put first in QUERIES at import time, so the
# first 50 of ``__spark_entry__.queries()``: a caller that hash-checks
# only the leading 50 rows checks these. Rotation rule, each time the
# window is rotated:
# 1. rows never hash-checked there, then rows whose plan-producing code
#    changed since their newest such hash (a green on the old plan says
#    nothing about the new one);
# 2. then the stalest rows, by the round of their newest such hash,
#    alphabetically within one round's cohort;
# 3. every slot oracle-backed, except at most one rows-only refresh
#    (today semdedup_fast_summary, pinned by test_registry_contract).
# The cohort comments in the list name the round each block was stale at.
DRIVER_WINDOW: list[str] = [
    # r10 cohort (19)
    "semdedup_fast_summary",
    "sentiment_classes",
    "sentiment_weights_head",
    "session_conversion_rate",
    "sessionize_events",
    "sessionize_events_chunked",
    "stats_aggregates_lineitem",
    "stratified_exact_n_docs",
    "temperature_mix_counts",
    "text_embedding_near_dup",
    "text_quality_by_source",
    "text_semantic_dedup_survivors",
    "token_counts",
    "topk_orders_per_customer",
    "tpch_q18_large_volume_customers",
    "tpch_q20_excess_stock",
    "tpch_q21_waiting_suppliers",
    "weighted_sample_by_length",
    "winsorized_price_stats",
    # r11 cohort, alphabetically first 26 oracle-backed rows
    # (bpe_tokens_by_source is rows-only by design and stays in the tail)
    "anti_join_customers",
    "approx_distinct_portable",
    "array_funcs_documents",
    "asof_nearest_click",
    "bigram_profile_top",
    "chunk_documents_overlap_64",
    "cube_quantity",
    "date_arithmetic_orders",
    "date_funcs_orders",
    "dedup_jaccard_pairs",
    "distinct_counts",
    "dsir_gumbel_counts",
    "dsir_selected_counts",
    "dsir_weights_by_source",
    "embedding_centroids_by_label",
    "embedding_norm_stats",
    "encoded_docs",
    "gopher_rules_by_source",
    "knn_ivfpq",
    "knn_pq_adc",
    "knn_pq_trained",
    "knn_sq8",
    "mmr_diversified_topk",
    "pagerank_suppliers",
    "quality_lr_scores_by_source",
    "quality_lr_weights",
    # rule 1: plan-producing code changed since their newest hash (one
    # ANN body per stage: the IVF append runs the build's assignment, PQ
    # and IVF-PQ share one ADC tail, both LSH probes one probe)
    "knn_ann_lsh",
    "knn_ann_lsh_high_recall",
    "knn_ivf_rebalanced",
    "knn_ivfpq_indexed",
    "knn_pq_indexed",
]

_win = set(DRIVER_WINDOW)
# explicit raise, not assert: a module-level assert is stripped under
# `python -O`, and a malformed window would then silently corrupt the
# QUERIES ordering the driver's correctness gate depends on (r9 ADVICE)
if len(DRIVER_WINDOW) != 50 or len(_win) != 50 or not _win <= set(QUERIES):
    raise ValueError(
        "window/registry drift: DRIVER_WINDOW must be 50 distinct "
        f"registry keys (got {len(DRIVER_WINDOW)} entries, "
        f"{len(_win)} distinct, unknown={sorted(_win - set(QUERIES))})"
    )
QUERIES = {k: QUERIES[k] for k in DRIVER_WINDOW} | {
    k: v for k, v in QUERIES.items() if k not in _win
}
