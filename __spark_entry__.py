"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship query at sf0.001; `queries()` maps every
implemented SURVEY.md §2 operator (and the pipeline extensions) to a
callable; `oracle_sql()` gives the DuckDB twin for each SQL-expressible one.
Implementations live in `code_graph_backend_spark.registry` /
`registry_ext`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from code_graph_backend_spark import registry
from code_graph_backend_spark import registry_ext  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext2  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext3  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext4  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext5  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext6  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext7  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext8  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext9  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext10  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext11  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext12  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext13  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext14  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext15  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext16  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext17  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext18  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext19  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext20  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext21  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext22  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext23  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext24  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext25  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext26  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext27  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext28  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext29  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext30  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext31  # noqa: F401  (registers on import)
from code_graph_backend_spark import registry_ext32  # noqa: F401  (registers on import)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship is curation_pipeline_v3: the eight-gate FineWeb-
    generation DAG (near-dup canonicals -> repetition quality -> Gopher
    rules -> bigram-LM perplexity -> boilerplate -> span coverage ->
    decontamination -> greedy token-budget cut) composed as ONE Catalyst
    plan — the end-to-end corpus-curation path this engine exists for."""
    return registry.QUERIES["curation_pipeline_v3"](spark, "/root/testdata/sf0.001")


# The order in which queries() yields the registry. A plain list, kept by
# hand: grading reads only the head of queries(), so the queries most in
# need of fresh evidence come first. tests/test_rotation_staleness.py
# checks that it names every registered query exactly once.
_PRIORITY = [
    # expired, oldest green first (34)
    "m3_bulk_props", "m4_propagate_coverage", "j9_chain_successor",
    "j11_edge_endpoint_validation", "skew_salted_agg", "text_bpe_tokens",
    "text_char_entropy", "text_rolling_fingerprint", "text_tfidf_topterms",
    "value_histogram", "w_session_30m", "w_sliding_1h_30m",
    "w_tumbling_1h", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_simhash", "mm_media_features", "mm_frame_features",
    "text_token_stats", "text_quality_score", "text_lang_pred",
    "text_fingerprint", "text_repetition", "text_unigram_logprob",
    "pii_redact", "stream_click_attribution", "cohort_retention",
    "sample_weighted", "flagship_region_revenue",
    "j12_range_join_coverage", "a3_collect_parts_per_order",
    "f4_unwind_indexed", "a4_ordered_collect", "a5_a6_coverage_ratio",
    # changed: own symbol differs since green round (5)
    "curation_pipeline_v2", "curation_pipeline_v3", "curation_pipeline",
    "curation_gate_ablation", "ann_ivf_indexed_topk",
    # dep-impact: reachable symbol changed (195)
    "pack_sequences", "pack_sequences_sharded", "sample_temperature",
    "quality_percentile", "s2_cfamily_analyzer", "graph_closeness_approx",
    "p1_point_lookup_by_name", "j6_find_paths", "m7_oplog_replay",
    "graph_pagerank", "graph_label_propagation", "ann_pq_topk",
    "ann_ivf_topk", "ann_lsh_exact", "graph_hits", "a7_usage_count",
    "emb_similarity_histogram", "graph_kcore", "graph_wcc_bounded",
    "dedup_exact", "dedup_minhash_exact", "dedup_simhash_exact",
    "dedup_minhash_incremental", "dedup_minhash_clusters",
    "dedup_substring_spans", "bpe_train_merges", "bpe_apply_token_counts",
    "emb_kmeans_assign", "mm_wav_features", "mm_avi_frames",
    "boilerplate_stats", "corpus_vocab_stats", "trending_events",
    "ann_pq_exact", "bpe_pair_stats", "corpus_distinct_hll",
    "corpus_hll_merge", "emb_power_iteration", "emb_label_centroids",
    "stream_event_dedup", "corpus_length_deciles", "funnel_conversion",
    "events_rollup", "events_outliers", "corpus_length_regression",
    "corpus_lang_pivot", "corpus_train_val_split", "skew_salted_join",
    "events_transition_matrix", "graph_edge_embeddedness",
    "token_budget_select", "events_rfm", "events_lateness_profile",
    "quality_calibration_bins", "shard_zonemap_prune",
    "shard_zorder_prune", "graph_eccentricity_bounds",
    "dedup_semantic_clusters", "graph_modularity", "ann_cosine_topk",
    "dedup_embedding_cosine", "graph_assortativity", "graph_ppr",
    "graph_ktruss", "ann_ivf_exact", "emb_hard_negatives",
    "contamination_bloom", "corpus_heavy_hitters", "graph_scc_bounded",
    "dedup_containment", "shard_manifest", "quality_linear_score",
    "w_distinct_users_hll", "shard_manifest_incremental",
    "corpus_vocab_coverage", "graph_ffl_motifs", "mm_tga_features",
    "gopher_quality_gates", "corpus_mixture_plan", "bpe_fertility_by_lang",
    "text_bigram_logprob", "dedup_lsh_eval", "pack_boundary_stats",
    "dsir_importance_select", "corpus_quantile_summary", "chunk_documents",
    "token_ngram_novelty", "corpus_profile", "emb_kcenter_select",
    "events_user_ewma", "emb_int8_calibration", "chunk_dedup_stats",
    "corpus_lang_confusion", "vocab_zipf_spectrum",
    "graph_clustering_coeff", "graph_triangle_count",
    "graph_jaccard_neighbors", "events_retention_cohorts",
    "text_readability", "corpus_ccnet_buckets", "emb_matryoshka_overlap",
    "corpus_source_overlap", "dedup_semdedup", "er_fuzzy_name_pairs",
    "text_kn_bigram_logprob", "events_trigram_patterns",
    "text_rake_keywords", "events_outliers_mad", "events_changepoint",
    "mm_ppm_features", "corpus_cross_entropy_shift", "emb_norm_outliers",
    "source_template_overlap", "events_stickiness", "emb_centroid_drift",
    "graph_mst_boruvka", "events_autocorrelation",
    "corpus_simpson_diversity", "graph_butterfly_count", "graph_luby_mis",
    "corpus_pmi_collocations", "orders_basket_rules",
    "events_gini_engagement", "events_seasonality", "events_markov_mixing",
    "events_forecast_backtest", "orders_sla_division",
    "orders_ltv_triangle", "trade_flow_matrix", "market_segment_share",
    "customers_prospects", "part_hierarchy_rollup",
    "events_scd2_dimension", "dq_referential_checks",
    "orders_benford_firstdigit", "graph_topological_layers",
    "events_concurrency_profile", "orders_purchase_intervals",
    "graph_landmark_distances", "graph_core_decomposition",
    "graph_anf_sketch", "graph_resource_allocation", "m1_merge_upsert",
    "m2_merge_edges", "m5_cascade_delete", "m6_edge_prop_update",
    "m8_switch_commit_derived", "j3_callees", "j8_chain_payloads",
    "p5_null_predicate", "p6_dynamic_filters", "f2_f5_size_contains",
    "f3_path_functions", "x3_auto_complete", "dq_k_anonymity",
    "events_window_funnel", "events_slo_burn", "dedup_cluster_sizes",
    "supply_risk_single_source", "shard_hash_ring",
    "events_bot_regularity", "events_latency_percentiles",
    "emb_silhouette_proxy", "graph_rich_club", "corpus_ks_lengths",
    "j13_symbol_resolution", "graph_stress_centrality",
    "graph_random_walks", "walk_skipgram_pairs", "p7_fixed_projection",
    "p8_ext_ignore_filters", "o1_commit_list_ordering", "o4_topk_orders",
    "f6_string_parsing", "f7_json_props", "asof_prior_click",
    "contamination_ngram", "corpus_stats", "dedup_clusters",
    "sample_stratified", "ann_lsh_topk", "cypher_frontend_hop",
    "graph_sssp_bounded", "graph_degree_histogram", "a1_a2_graph_stats",
    "p2_point_lookup_by_id", "p3_composite_key_lookup",
    "p4_in_list_lookup", "j1_out_neighbors", "j2_in_neighbors",
    "j4_subgraph_sample", "j5_two_hop_pattern", "j7_reachable_closure",
    "j10_unreachable_parts", "x2_prefix_table",
]




def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs = registry.queries()
    ordered = {k: qs[k] for k in _PRIORITY if k in qs}
    ordered.update({k: v for k, v in qs.items() if k not in ordered})
    return ordered


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()


def oracle_twins() -> dict[str, str]:
    """Machine-readable waiver for the approximate-by-design queries
    (driver records rows-only, err == "no_oracle"): maps each such
    query to the registered EXACT query that replays the same machinery
    with the approximation disabled and is hash-graded. Also available
    as `.oracle_twin` on the callables returned by queries()."""
    return registry.oracle_twins()
