"""Generate PLANS.md: physical-plan evidence for the headline queries.

For each bench query, records the optimizer properties that matter at
100 TB — whether filters reached the parquet scan, which join strategy
Catalyst picked, how many exchanges the plan needs, and the pruned read
schema. Run: python tools/plans_report.py
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from pulsar_3_2_codedump_spark.queries import load_all
from pulsar_3_2_codedump_spark.session import get_spark

SF = "/root/testdata/sf0.1"


def main() -> None:
    registry = load_all()
    spark = get_spark("plans_report")
    lines = [
        "# PLANS — physical-plan evidence for the headline queries (sf0.1)",
        "",
        "Generated by `tools/plans_report.py`. Columns: join strategy chosen by",
        "Catalyst, number of exchanges (shuffles/broadcasts), whether predicates",
        "were pushed into the parquet scan, and the pruned `ReadSchema` width of",
        "the widest scan vs the table's full width.",
        "",
        "EXCHANGE-COUNT CONVENTION: counts are distinct Exchange NODES in the",
        "INITIAL physical plan (`executedPlan().toString()` on the unexecuted",
        "DataFrame, one line per node). AQE may coalesce or re-plan some of",
        "these at runtime (AQEShuffleRead nodes only exist in the adaptive",
        "final plan, which forms during execution), so these counts are the",
        "static shuffle topology — an upper bound on what AQE actually runs.",
        "Earlier revisions counted `explain('formatted')` output, which",
        "lists every node twice (tree + details) — those numbers were 2×. Plan",
        "lineage truncated by an in-operator `localCheckpoint` (executed once",
        "inside the query callable — association_rules' basket build, the",
        "iterative algorithms' per-round checkpoints, rfm_scores' shared base)",
        "is not part of the emitted plan and is NOT counted; the one-time build",
        "counts are documented in the operator docstrings.",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan |",
        "|---|---|---|---|---|",
    ]
    def row(name: str) -> str:
        # release the PREVIOUS query's shared DISK_ONLY frames first
        # (ADVICE r13): a still-persisted byte-identical fragment would be
        # spliced into this query's plan as InMemoryTableScan by Spark's
        # CacheManager, making the reported scan/exchange counts depend on
        # report ordering instead of the query's own topology.
        from pulsar_3_2_codedump_spark.catalog import release_shared_frames

        release_shared_frames()
        df = registry[name].fn(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        s = buf.getvalue()
        joins = sorted(
            {m for m in re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)", s)}
        )
        # COUNTING CONVENTION (one number everywhere — see PLANS.md header):
        # distinct Exchange NODES in the INITIAL physical plan's
        # executedPlan().toString() (one line per node; the DataFrame is
        # unexecuted here, so with AQE this is the initial plan — an
        # AQEShuffleRead can only appear in the adaptive FINAL plan, which
        # forms during execution, hence it is deliberately NOT in the regex:
        # these counts are the static shuffle topology, an upper bound on
        # what AQE actually runs). explain("formatted") lists every node
        # twice (tree + details), so counting it doubles.
        # Lineage truncated by an in-operator localCheckpoint (executed once
        # inside the query callable) is NOT in the emitted plan and is NOT
        # counted; those one-time build counts live in operator docstrings.
        t = df._jdf.queryExecution().executedPlan().toString()
        n_ex = len(re.findall(r"\bExchange\b", t))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", s)
        pushed_any = any(p.strip() for p in pushed)
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", s)
        widths = sorted((len(x.split(",")) if x else 0) for x in schemas)
        return (
            f"| {name} | {', '.join(joins) or '—'} | {n_ex} | "
            f"{'yes' if pushed_any else '—'} | cols={widths} |"
        )

    for name in HEADLINE:
        lines.append(row(name))
    lines += [
        "",
        "## §2.M TPC-H query-shape completion (operators/tpch_extra.py)",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan |",
        "|---|---|---|---|---|",
    ]
    for name, q in registry.items():
        if q.fn.__module__.endswith("tpch_extra"):
            lines.append(row(name))
    lines += [
        "",
        "## New in r5 (markers, codecs, sampling, pipeline)",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan |",
        "|---|---|---|---|---|",
    ]
    for name in [
        "marker_filtered_scan", "protobuf_decode_value", "stratified_sample",
        "mixture_weights", "repetition_ratio", "pii_scrub_stats",
        "corpus_curation_pipeline", "multimodal_frame_sample",
        "embedding_quantization",
    ]:
        lines.append(row(name))
    lines += [
        "",
        "## New in r6 (quality battery, LM scoring, ANN recall, fingerprints)",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan |",
        "|---|---|---|---|---|",
    ]
    for name in [
        "gopher_quality_rules", "char_entropy", "perplexity_proxy",
        "ann_recall_at_k", "winnowing_fingerprints", "cross_corpus_dedup",
        "dedup_clusters", "contamination_overlap",
    ]:
        lines.append(row(name))
    lines += [
        "",
        "## New in r6, part 2 (retrieval, behavior analytics, tokenizer ops)",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan |",
        "|---|---|---|---|---|",
    ]
    for name in [
        "bm25_topk", "setsim_prefix_join", "repeated_passages",
        "funnel_conversion", "cohort_retention", "event_bigram_counts",
        "bpe_merge_step", "hashing_trick_features", "schema_evolution_decode",
        "reservoir_sample_per_group", "importance_resampling", "ngram_novelty",
        "rfm_scores", "anomaly_zscore", "sorted_neighborhood_pairs",
        "moving_range_frame_revenue", "unpivot_price_components",
    ]:
        lines.append(row(name))
    lines += [
        "",
        "## New in r6, part 3 (late-session: diagnostics, evals, sketches, SCD2)",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan |",
        "|---|---|---|---|---|",
    ]
    for name in [
        "group_holdout_split", "winsorized_stats", "tfidf_top_terms",
        "zipf_slope", "chi2_terms", "vocab_oov_rate",
        "shingle_containment_pairs", "knn_label_vote", "scd2_intervals",
        "topic_storage_stats", "count_min_heavy_hitters",
        "lsh_dedup_recall", "dedup_keep_best", "quantized_ann_recall",
        "event_trigram_paths", "pivot_revenue_matrix",
    ]:
        lines.append(row(name))
    lines += [
        "",
        "## New in r6, part 4 (second session: PQ, SemDeDup, span dedup, quotas)",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan |",
        "|---|---|---|---|---|",
    ]
    for name in [
        "quality_classifier_score", "duplicated_ngram_coverage",
        "dedup_span_removal", "pq_adc_ann_topk", "semdedup_prune",
        "temperature_mixture", "backlog_quota_eviction", "ivfadc_ann_topk",
        "priority_dispatch", "chunked_messages_roundtrip", "token_balanced_shards", "dispatch_rate_limit", "minhash_estimate_error", "ohlc_resample", "cdc_chunk_dedup",
    ]:
        lines.append(row(name))
    lines += [
        "",
        "## New in r7 (repaired scale-killer plans + crypto/rate-limit)",
        "",
        "The `global windows` column counts unpartitioned Window nodes in the",
        "EXECUTED plan (the single-partition scale-killer the r6 verdict",
        "flagged) — the invariant is 0 for every row below; windows over",
        "metadata-scale frames were replaced by triangular broadcast joins",
        "(operators/prefixops.py).",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan | global windows |",
        "|---|---|---|---|---|---|",
    ]

    def n_global_windows(name: str) -> int:
        df = registry[name].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n = 0
        for m in re.finditer(r"Window(GroupLimit)?\s+(\[.*)$", plan, re.M):
            groups = re.findall(
                r"\[[^\[\]]*(?:\[[^\]]*\][^\[\]]*)*\]", m.group(2)
            )
            if m.group(1):
                # WindowGroupLimit (partitioned top-k pushdown) prints
                # [partition], [order], fn, k — global only if the partition
                # group is empty
                if groups and groups[0] == "[]":
                    n += 1
            elif len(groups) < 3:
                # Window prints [exprs], [partition], [order] when fully
                # specified; [exprs], [order] when global-ordered; and
                # [exprs], [partition] for a partitioned ORDERLESS window
                # (e.g. count() over (partition by k)). Order groups carry
                # ASC/DESC markers — only count the ordered-global case
                # (or a bare [exprs], which is global and orderless).
                if len(groups) < 2 or re.search(r"ASC|DESC", groups[1]):
                    n += 1
        return n

    for name in [
        "watermark_late_data", "rfm_scores", "sorted_neighborhood_pairs",
        "cdc_chunk_dedup", "token_balanced_shards",
        "encrypted_roundtrip", "publish_rate_limit",
    ]:
        lines.append(row(name) + f" {n_global_windows(name)} |")
    lines += [
        "",
        "## New in r8 (EntryFilter RESCHEDULE, nack ladder, admin scans, sketch envelopes)",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan | global windows |",
        "|---|---|---|---|---|---|",
    ]
    for name in [
        "entry_filter_reschedule", "nack_redelivery_ladder",
        "topic_gc_candidates", "subscription_expiry_scan",
        "approx_distinct_sketch", "approx_percentile_sketch",
        "theta_kll_sketch_battery",
        "source_cap_sample", "token_budget_selection",
        "expire_messages_by_time", "bpe_train_merges",
        "event_graph_pagerank",
    ]:
        lines.append(row(name) + f" {n_global_windows(name)} |")
    lines += [
        "",
        "## New in r8, late session (iterative algorithms, graph, drift, runtime filter)",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan | global windows |",
        "|---|---|---|---|---|---|",
    ]
    for name in [
        "kmeans_lloyd_iterations", "pca_power_iteration", "bpe_apply_encode",
        "constraint_audit", "kfold_assignment", "greedy_coverage_selection",
        "fuzzy_blocking_pairs",
        "connected_components_star", "triangle_count",
        "bloom_filter_semi_join", "psi_drift", "ks_two_sample",
        "score_calibration_bins", "skyline_pareto", "attribution_last_touch",
        "priority_sample_topk", "histogram_equi_depth", "association_rules",
        "poisson_bootstrap_means", "zorder_data_skipping",
        "hll_explicit_distinct", "funnel_within_window", "cusum_changepoint",
        "phrase_search_postings", "cms_join_size_estimate",
        "k_anonymity_audit", "dp_laplace_counts",
        "conversion_paths", "skew_diagnosis",
        "decayed_engagement_scores", "column_profile",
        "ann_ndcg_at_k", "bootstrap_median_replicates", "revenue_trend_ols",
        "hard_negative_mining",
    ]:
        lines.append(row(name) + f" {n_global_windows(name)} |")
    lines += [
        "",
        "## New in r8, session 2 (TWAP/MAD/PMI, PassJoin, RRF, mergeable sketches, sweep-line)",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan | global windows |",
        "|---|---|---|---|---|---|",
    ]
    for name in [
        "time_weighted_avg", "robust_mad_outliers", "pmi_collocations",
        "source_overlap_matrix", "truncated_embedding_recall",
        "segment_compaction_plan", "hll_union_windows",
        "passjoin_edit_pairs", "hybrid_rrf_fusion",
        "bitmap_distinct_rollup", "filtered_vector_search",
        "attribution_position_based", "peak_concurrency_sweep",
        "missing_hours_audit", "ab_test_z_scores",
        "phash_banded_neardup", "multimodal_resize_stats",
        "sequential_pattern_support", "consistent_hash_rebalance",
        "watermark_partition_lag",
    ]:
        lines.append(row(name) + f" {n_global_windows(name)} |")
    lines += [
        "",
        "## New in r9 (real PPM decode path)",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan | global windows |",
        "|---|---|---|---|---|---|",
    ]
    for name in ["ppm_decode_pixel_stats"]:
        lines.append(row(name) + f" {n_global_windows(name)} |")
    lines += [
        "",
        "## New in r10 (OPQ rotation, exact-substring dedup)",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan | global windows |",
        "|---|---|---|---|---|---|",
    ]
    for name in ["opq_rotated_adc_topk", "exact_substring_dedup"]:
        lines.append(row(name) + f" {n_global_windows(name)} |")
    lines += [
        "",
        "## New in r11 (MMR re-rank, trigram backoff LM, exactly-once audit)",
        "",
        "exactly_once_replay_audit's emitted plan is a LocalTableScan of the",
        "4-row audit result (the topic publish/replay/read pipeline executes",
        "inside the callable against a temp topic and is torn down after);",
        "its scale posture is documented in SCALE.md, not readable here.",
        "mmr_rerank's row is likewise lineage-truncated: pool/sims/per-step",
        "picks are localCheckpointed (greedy_coverage discipline), so the",
        "emitted plan is just the union of checkpointed step outputs — the",
        "per-step topology (anti-join + bounded max-agg + per-query argmax",
        "window) is in the operator docstring and SCALE.md.",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan | global windows |",
        "|---|---|---|---|---|---|",
    ]
    for name in [
        "mmr_rerank", "trigram_backoff_perplexity", "exactly_once_replay_audit",
    ]:
        lines.append(row(name) + f" {n_global_windows(name)} |")
    lines += [
        "",
        "## New in r12 (cross-corpus overlap spans, IVF-PQ residual quantizer)",
        "",
        "streaming_watermark_skew_rebalance (the third r12 addition) replays a",
        "real topic inside its callable like the other streaming monitors, so",
        "its emitted plan is the final versioned-view read — state topology",
        "(#producers x 2 rows per generation) is in the operator docstring and",
        "COVERAGE.md. ivfpq_residual_topk materializes its two shared frames",
        "once (the 16-row IVF centroid frame via a control-plane collect, the",
        "residual assignment via localCheckpoint — the persist-before-reuse",
        "discipline), so the visible plan is the ADC probe join over the",
        "checkpointed residuals; its 2 'global windows' are the pq_codebook",
        "seed-ID row_numbers over post-limit(PQ_K) frames, printed through the",
        "codebook cache's lineage (bounded by construction — the documented",
        "seed-ranking exception, served from cache at runtime).",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan | global windows |",
        "|---|---|---|---|---|---|",
    ]
    for name in ["cross_corpus_overlap_spans", "ivfpq_residual_topk"]:
        lines.append(row(name) + f" {n_global_windows(name)} |")
    lines += [
        "",
        "## New in r13 (suffix-match binary lifting, HNSW beam search)",
        "",
        "streaming_exactly_once_sink_commit (the third r13 addition) drives a",
        "real crash-and-restart streaming pipeline inside its callable; its",
        "emitted plan is the final per-partition audit aggregate over the",
        "committed output topic — the sink/replay topology is in the operator",
        "docstring. suffix_longest_match_doubling's per-level hit sets and",
        "hnsw_beam_search_recall's per-hop beams are loop-carried checkpoints",
        "(bounded, geometrically shrinking / #queries x EF), so the visible",
        "plan is the final assembly over the materialized frames; the one-time",
        "build counts are in the operator docstrings.",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan | global windows |",
        "|---|---|---|---|---|---|",
    ]
    for name in ["suffix_longest_match_doubling", "hnsw_beam_search_recall"]:
        lines.append(row(name) + f" {n_global_windows(name)} |")
    lines += [
        "",
        "## New in r14 (NN-descent build, contamination monitor, cursor-sync audit)",
        "",
        "hnsw_beam_search_recall's edge build is NN-descent from r14 (rank-band",
        "seed via a 3-bucket equi-join + 2 refinement rounds, each round a",
        "loop-carried checkpoint) — its row above reflects the new build.",
        "nn_descent_graph_convergence unions the three per-round checkpointed",
        "edge frames into one aggregate, so the visible plan is the final",
        "group-by; the per-round join topology is in the operator docstring.",
        "streaming_contamination_monitor replays a real topic inside its",
        "callable (plan = the collected per-generation scores);",
        "replicated_cursor_sync_audit drives two real topic clusters plus both",
        "cursor translations at build time (plan = a LocalTableScan of the",
        "3-row audit result) — both documented in COVERAGE.md.",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan | global windows |",
        "|---|---|---|---|---|---|",
    ]
    for name in ["nn_descent_graph_convergence"]:
        lines.append(row(name) + f" {n_global_windows(name)} |")
    lines += [
        "",
        "## New in r15 (NSW long-link search, streaming ANN serving, MinHash IVM)",
        "",
        "nsw_long_link_search_recall merges a deterministic md5-ring long-link",
        "edge set (per-bucket ROW_NUMBER window + equi-join on (bucket, wrapped",
        "rank) — never a global sort) into the NN-descent walk graph; the",
        "merged edge frame and each hop's beam are loop-carried checkpoints",
        "(bounded: n x (M + LL_K) id pairs / #queries x EF), so the visible",
        "plan is the final recall assembly over materialized frames — the ring",
        "build topology is in the operator docstring and SCALE.md r15, with a",
        "measured 1M-vector series (SCALE.md r15). The two",
        "streaming additions replay real topics inside their callables like",
        "the other streaming monitors: streaming_ann_serving's emitted plan is",
        "the final top-5-per-query read over both checkpointed generations",
        "(each micro-batch runs the IVF probe plan against the persisted",
        "cell-assigned index with a per-batch broadcast of the bounded",
        "arriving-query frame); streaming_minhash_signature_ivm's is the",
        "latest-version signature view (per-batch signatures of only the",
        "arrived docs, merged through the idempotent versioned view).",
        "",
        "| query | joins | exchanges | pushed filters | pruned scan | global windows |",
        "|---|---|---|---|---|---|",
    ]
    for name in ["nsw_long_link_search_recall"]:
        lines.append(row(name) + f" {n_global_windows(name)} |")
    lines += [
        "",
        "Reading notes:",
        "- Dimension joins are all `BroadcastHashJoin` — the fact side never shuffles for them.",
        "- `ReadSchema` widths show column pruning: scans read only referenced columns",
        "  (events has 6 columns, lineitem 11 — pruned scans read fewer).",
        "- Exchange counts follow the header convention (distinct Exchange nodes in",
        "  the initial plan); per-key operators need exactly one shuffle on the key.",
        "- Envelope-based spine queries (tableview/compaction/dedup/key-shared/delayed)",
        "  read the persisted in-memory envelope log (`envelope.cached_envelope` — the",
        "  stand-in for at-rest topic segments). Their `explain` output includes the",
        "  one-time envelope BUILD lineage (routing window + exchanges), which executes",
        "  once per session, not per query; steady-state execution starts at the",
        "  InMemoryTableScan. Against real topic segments the scan is parquet with",
        "  full pushdown (see `topic.read_topic`).",
        "- Scalar-subquery thresholds (Q11/Q15/Q20/Q22 shapes) appear as single-row",
        "  `BroadcastNestedLoopJoin` — a broadcast of one aggregate row, not a",
        "  quadratic join.",
        "- `important_part_values` and `mixture_weights` show `pushed filters: —`",
        "  because that is the CORRECT plan, verified per the r7 verdict: both are",
        "  full-corpus aggregates compared against a one-row aggregate threshold",
        "  (the scalar-subquery broadcast above). Neither side carries a selective",
        "  source predicate — the only filter is post-aggregation (`raw_value >",
        "  cutoff` / share-vs-uniform weighting), which no engine can push into a",
        "  scan that must first see every row to compute the aggregate.",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
