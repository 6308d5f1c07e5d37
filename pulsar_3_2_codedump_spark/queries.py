"""Query registry — the single source of truth the driver consumes.

Every implemented operator from SURVEY.md §2 registers here with
  - a Spark callable ``(spark, sf_dir) -> DataFrame`` (idiomatic DataFrame/SQL)
  - an equivalent ANSI-SQL oracle string runnable by DuckDB on the same
    parquet fixtures (or ``None`` for genuinely non-SQL-expressible ops —
    the driver then records a weaker rows-only check).

Conventions (to survive the driver's order-insensitive value-hash compare):
  - every computed column is aliased identically on both sides
  - floating aggregates are rounded identically on both sides
  - window orderings always include a unique tiebreaker column
  - timestamps in output are formatted to strings identically on both sides
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    section: str = ""  # SURVEY §2 item, e.g. "2.D1"
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, section: str = "", doc: str = ""):
    """Decorator: register a (spark_fn, oracle_sql) pair under ``name``."""

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name, fn, oracle, section, doc or (fn.__doc__ or ""))
        return fn

    return deco


@contextmanager
def scratch_root(spark: SparkSession) -> Iterator[str]:
    """A fresh temporary directory for the topics, checkpoints and views a
    query builds while it runs, with the ``pulsarlike`` source registered on
    ``spark``. The directory is removed on exit, also when the body raises,
    so a query returns what it read from it as a ``topic.lookup_frame`` of
    the collected rows, never as a lazy frame over its files."""
    from pulsar_3_2_codedump_spark.sources import register

    register(spark)
    root = tempfile.mkdtemp(prefix="pulsarlike_scratch_")
    try:
        yield root
    finally:
        shutil.rmtree(root, ignore_errors=True)


# The correctness harness verifies queries in registry order with a bounded
# budget (50 per round), so this list orders them.
#
# FRESHNESS RE-HASH POLICY (once every registered query has at least one
# green driver row): compose each round's window as
#   1. every query whose CODE CHANGED since its last green driver hash
#   2. every NEW registration (keep additions ≤ the spare slot count)
#   3. fill remaining slots with the queries whose last green driver hash
#      is OLDEST (round number ascending; ties in prior PRIORITY_ORDER
#      order) — i.e. rotate oldest-green-first so hashes never go more
#      than ~4 rounds stale against fixture regenerations.
# ``tools/rotate_window.py`` composes it. The window is ALWAYS the first 50
# entries of this list; the boundary comment below marks it. Never leave a
# changed query below the boundary.
PRIORITY_ORDER = [
    "hnsw_beam_search_recall",
    "nn_descent_graph_convergence",
    "nsw_long_link_search_recall",
    "streaming_ann_serving",
    "streaming_minhash_signature_ivm",
    "topic_storage_stats",
    "vocab_oov_rate",
    "length_bucketing",
    "bm25_topk",
    "repeated_passages",
    "funnel_conversion",
    "cohort_retention",
    "event_bigram_counts",
    "bpe_merge_step",
    "hashing_trick_features",
    "schema_evolution_decode",
    "streaming_tableview",
    "reservoir_sample_per_group",
    "importance_resampling",
    "ngram_novelty",
    "streaming_topk",
    "anomaly_zscore",
    "moving_range_frame_revenue",
    "unpivot_price_components",
    "streaming_static_enrich",
    "approx_percentile_sketch",
    "entry_filter_reschedule",
    "nack_redelivery_ladder",
    "topic_gc_candidates",
    "subscription_expiry_scan",
    "source_cap_sample",
    "expire_messages_by_time",
    "tiered_shadow_roundtrip",
    "kfold_assignment",
    "fuzzy_blocking_pairs",
    "theta_kll_sketch_battery",
    "encrypted_roundtrip",
    "streaming_encrypted_scan",
    "publish_rate_limit",
    "subscribe_rate_limit",
    "dispatch_rate_limit",
    "psi_drift",
    "skyline_pareto",
    "attribution_last_touch",
    "priority_sample_topk",
    "poisson_bootstrap_means",
    "zorder_data_skipping",
    "hll_explicit_distinct",
    "streaming_psi_monitor",
    "cusum_changepoint",
    # ---- rotation window boundary (50) ----
    "ann_ndcg_at_k",
    "ann_recall_at_k",
    "approx_distinct_sketch",
    "cosine_topk",
    "embedding_centroids",
    "embedding_cosine_neardup",
    "embedding_quantization",
    "filtered_vector_search",
    "hard_negative_mining",
    "ivf_ann_topk",
    "ivfadc_ann_topk",
    "ivfpq_residual_topk",
    "kmeans_lloyd_iterations",
    "knn_label_vote",
    "lsh_ann_topk",
    "lsh_bucket_stats",
    "opq_rotated_adc_topk",
    "pca_power_iteration",
    "pq_adc_ann_topk",
    "quantized_ann_recall",
    "semdedup_prune",
    "truncated_embedding_recall",
    "cross_corpus_overlap_spans",
    "minhash_lsh_dedup",
    "minhash_estimate_error",
    "replicated_cursor_sync_audit",
    "streaming_contamination_monitor",
    "peek_skip_messages",
    "cdc_chunk_dedup",
    "json_properties",
    "string_library",
    "date_extraction",
    "regexp_functions",
    "array_functions",
    "offset_pagination",
    "temperature_mixture",
    "backlog_quota_eviction",
    "priority_dispatch",
    "streaming_multi_topic_union",
    "ohlc_resample",
    "streaming_sequence_gap_monitor",
    "pivot_revenue_matrix",
    "event_trigram_paths",
    "scd2_intervals",
    "group_holdout_split",
    "winsorized_stats",
    "tfidf_top_terms",
    "zipf_slope",
    "rfm_scores",
    "event_graph_pagerank",
    "association_rules",
    "funnel_within_window",
    "connected_components_star",
    "triangle_count",
    "bloom_filter_semi_join",
    "token_budget_selection",
    "greedy_coverage_selection",
    "dedup_clusters",
    "dedup_keep_best",
    "ks_two_sample",
    "bootstrap_median_replicates",
    "bpe_train_merges",
    "bpe_apply_encode",
    "sorted_neighborhood_pairs",
    "phrase_search_postings",
    "mmr_rerank",
    "histogram_equi_depth",
    "trigram_backoff_perplexity",
    "column_profile",
    "lsh_dedup_recall",
    "exact_substring_dedup",
    "setsim_prefix_join",
    "source_overlap_matrix",
    "pmi_collocations",
    "chi2_terms",
    "score_calibration_bins",
    "robust_mad_outliers",
    "peak_concurrency_sweep",
    "watermark_late_data",
    "ngram_jaccard_pairs",
    "shingle_containment_pairs",
    "constraint_audit",
    "suffix_longest_match_doubling",
    "streaming_exactly_once_sink_commit",
    "streaming_left_outer_join",
    "streaming_full_outer_join",
    "chunked_messages_roundtrip",
    "streaming_chunk_reassembly",
    "token_balanced_shards",
    "count_min_heavy_hitters",
    "streaming_watermark_skew_rebalance",
    "outer_join_order_counts",
    "theta_join_acctbal",
    "range_join_price_bands",
    "setops_nations",
    "distinct_counts",
    "cube_quantity",
    "rollup_revenue",
    "grouping_sets_priority",
    "monthly_rollup",
    "conditional_pivot",
    "window_rank_parts",
    "window_lag_lead_orders",
    "window_running_revenue",
    "first_last_window",
    "rank_distributions",
    "topk_orders",
    "correlated_subquery_avg",
    "exists_in_subqueries",
    "forecast_revenue_change",
    "order_priority_check",
    "schema_decode_value",
    "protobuf_decode_value",
    "streaming_session_windows",
    "contamination_overlap",
    "gopher_quality_rules",
    "char_entropy",
    "perplexity_proxy",
    "streaming_dedup",
    "streaming_stream_stream_join",
    "winnowing_fingerprints",
    "cross_corpus_dedup",
    "pricing_summary",
    "quality_classifier_score",
    "streaming_late_side_topic",
    "shipping_priority",
    "local_supplier_volume",
    "returned_item_customers",
    "nation_volume_shipping",
    "nation_market_share",
    "product_profit",
    "priority_line_counts",
    "large_volume_customers",
    "sole_return_suppliers",
    "small_quantity_revenue",
    "exactly_once_replay_audit",
    "streaming_delayed_delivery",
    "streaming_count_windows",
    "stratified_sample",
    "mixture_weights",
    "repetition_ratio",
    "pii_scrub_stats",
    "corpus_curation_pipeline",
    "multimodal_frame_sample",
    "round_robin_routing",
    "avro_decode_value",
    "keyvalue_decode",
    "stats_summary",
    "exact_dedup",
    "text_quality_score",
    "tumbling_window_counts",
    "sliding_window_counts",
    "session_window_gaps",
    "count_window_tumbling",
    "simhash_fingerprint",
    "language_id",
    "doc_fingerprints",
    "top_terms",
    "document_chunking",
    "multimodal_features",
    "count_window_sliding",
    "salted_hot_key_agg",
    "anti_join_customers_without_orders",
    "semi_join_customers_with_orders",
    "segment_compaction_plan",
    "ppm_decode_pixel_stats",
    "duplicated_ngram_coverage",
    "dedup_span_removal",
    "streaming_token_drift_monitor",
    "asof_join_prior_view",
    "text_token_stats",
    "sequence_packing",
    "bpe_regex_tokens",
    "multimodal_metadata",
    "min_acctbal_supplier_per_part",
    "important_part_values",
    "promo_revenue_pct",
    "top_supplier_revenue",
    "supplier_part_variety",
    "disjunctive_predicate_revenue",
    "excess_volume_suppliers",
    "idle_wealthy_customers",
    "tableview_latest",
    "txn_visibility",
    "compaction_tombstones",
    "strategic_compaction",
    "compacted_read",
    "dedup_producer_sequence",
    "delayed_delivery_due",
    "ttl_expiry",
    "seek_by_timestamp",
    "last_message_id",
    "seek_reset_cursor",
    "entry_filter_pushdown",
    "dlq_routing",
    "replicator_loop_guard",
    "multi_topic_union",
    "routing_partition_counts",
    "key_shared_assignment",
    "key_shared_sticky_ranges",
    "batch_receive_policy",
    "ack_holes_redelivery",
    "marker_filtered_scan",
    "jdbc_roundtrip",
    "cms_join_size_estimate",
    "k_anonymity_audit",
    "dp_laplace_counts",
    "conversion_paths",
    "skew_diagnosis",
    "decayed_engagement_scores",
    "revenue_trend_ols",
    "time_weighted_avg",
    "hll_union_windows",
    "passjoin_edit_pairs",
    "hybrid_rrf_fusion",
    "bitmap_distinct_rollup",
    "streaming_hll_distinct",
    "attribution_position_based",
    "missing_hours_audit",
    "ab_test_z_scores",
    "phash_banded_neardup",
    "multimodal_resize_stats",
    "sequential_pattern_support",
    "consistent_hash_rebalance",
    "watermark_partition_lag",
    "streaming_cusum_alarm",
    "scalar_functions",
]


def load_all() -> dict[str, Query]:
    """Import every module that registers queries, then return the registry
    in verification-priority order (PRIORITY_ORDER first, rest appended in
    registration order)."""
    from pulsar_3_2_codedump_spark.operators import (  # noqa: F401
        advanced,
        compaction,
        dedup,
        graph,
        layout,
        relational,
        routing,
        runtime_filter,
        skew,
        timeops,
        tpch_extra,
        windows,
    )
    from pulsar_3_2_codedump_spark.functions import (  # noqa: F401
        avro_codec,
        crypto,
        dedup_ml,
        drift,
        multimodal,
        privacy,
        proto_codec,
        quality_audit,
        retrieval,
        sampling,
        similarity,
        text,
        tokenize_ml,
    )
    from pulsar_3_2_codedump_spark.operators import behavior  # noqa: F401
    from pulsar_3_2_codedump_spark import io  # noqa: F401  (jdbc_roundtrip)
    from pulsar_3_2_codedump_spark.operators import delivery  # noqa: F401
    from pulsar_3_2_codedump_spark.streaming import queries_streaming  # noqa: F401

    ordered = {n: REGISTRY[n] for n in PRIORITY_ORDER if n in REGISTRY}
    ordered.update({n: q for n, q in REGISTRY.items() if n not in ordered})
    return ordered
