"""Registry-wide redundant-scan audit (r12; r13: discipline-aware + pytest gate).

Counts FileScan nodes per table in each registered query's INITIAL
physical plan and flags queries whose plan scans the SAME FACT TABLE
(orders / lineitem / events / documents / embeddings) >= THRESHOLD times
with NO materialization discipline. This is the static form of the waste
class fixed in r12: a frame consumed by several plan branches is
re-planned — and re-SCANNED — per reference, invisible to ReuseExchange
whenever the shared subtree has no Exchange root (TakeOrdered, plain
filtered scans, chained per-stage aggregates).

Discipline detection (ADVICE r12/r13 — the audit must SEE the fix it
prescribes, and see WHAT it covers): every materialize-once site
(catalog.ckpt_unless_plan_only, catalog.persist_shared_corpus_frame, the
minhash signature cache, similarity._ivf_cells' control-plane collect)
records — under SPARK_GRAFT_PLAN_ONLY only — which FACT TABLES the
materialized frame's own subtree reads (df.inputFiles(), resolved without
running a job) into catalog.PLAN_ONLY_MATERIALIZED_TABLES. A multi-scanned
table is excused ONLY when some materialization covered that table:
ADVICE r13 showed the previous per-query boolean let a query checkpoint
one tiny control-plane frame while re-scanning a DIFFERENT fact table
>= threshold times undetected. The identity mode still deliberately
leaves the raw (multi-scan) lineage in the audited plan so the flip
audit can judge the build subtree — attribution, not plan shape, is what
changed. Plans showing a marker (InMemoryTableScan/ExistingRDD) with NO
recorded coverage and NO counter tick keep the legacy any-table pass
(a checkpoint executed inside the callable before env gating).

Triage policy (a hit is a CANDIDATE, not automatically a bug):
  - REAL when the branches re-read the SAME rows/projection — fix with
    catalog.ckpt_unless_plan_only (bounded/loop-carried frames) or
    catalog.persist_shared_corpus_frame (corpus-sized frames), or a
    one-scan rewrite when the branches are per-column/per-variant
    aggregates over one scan (column_profile's stack() form).
  - BENIGN when the branches carry DISJOINT pushed filters (per-event-
    type legs read disjoint row sets; N branch scans ~ one full scan),
    or when the repeated scans are the documented measurement forms
    (recall/nDCG queries re-derive the brute-force truth side by
    design). These are enumerated with reasons in BENIGN_MULTISCAN; the
    pytest gate (tests/test_scan_audit.py) fails on any hit OUTSIDE it.
  - Dims are excluded from the flag entirely (broadcast-cheap repeats).

Run: python tools/scan_audit.py [sf_dir] [threshold]
Plan-only: sets SPARK_GRAFT_PLAN_ONLY + ESD_NO_PROBE like the flip
audit, and skips streaming_/construction-executing queries.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACTS = ("orders", "lineitem", "events", "documents", "embeddings")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
) + FACTS

# Queries allowed to keep a >=4x same-fact-scan plan, with the triage
# class and reason. The pytest gate (tests/test_scan_audit.py) fails on
# any hit not listed here — the r12 class recurred six times before the
# audit existed; a tool you must remember to run is not a gate (VERDICT
# r12 item 5). Three classes:
#   measurement    — the query COMPARES derivations (truth vs approx,
#                    layout A vs B); the repeated scans ARE the subject.
#   disjoint       — branch scans carry disjoint pushed filters (per-step
#                    event types, first/second stream halves, doc-parity
#                    corpora); N legs read ~ one full table between them,
#                    and materializing the union would drop the pushdown.
#   accepted-real  — genuine re-reads of a shared (usually 2-column,
#                    filter-pushed) projection; persist_shared_corpus_frame
#                    is the named fix if the query's cost ever regresses,
#                    accepted as-is because each scan is a cheap pruned
#                    read and the rewrite would churn a green hash.
BENIGN_MULTISCAN: dict[str, str] = {
    "ann_recall_at_k": "measurement: brute-force truth side re-derived "
    "against the approximate side by design",
    "ann_ndcg_at_k": "measurement: brute-force truth side re-derived by design",
    "quantized_ann_recall": "measurement: full-precision truth vs quantized legs",
    "truncated_embedding_recall": "measurement: full-dim truth vs truncated legs",
    "filtered_vector_search": "measurement: unfiltered truth, filtered leg, "
    "and per-query candidate counts each re-derive from the corpus by design",
    "hybrid_rrf_fusion": "measurement/multi-modal: lexical pool, vector pool "
    "and fused truth each scan their modality by design; ALSO measured "
    "(r13): the shared doc-word set is Exchange-rooted (distinct), so "
    "ReuseExchange serves all three consumers from one shuffle at runtime "
    "— a DISK_ONLY persist REGRESSED the query 6.1-10.0 s vs its "
    "3.4-3.9 s band by replacing that free reuse with a disk round trip",
    "source_overlap_matrix": "accepted-real, measured (r16): the distinct "
    "(source, word) vocabulary is Exchange-rooted, so ReuseExchange serves "
    "the size agg and both join sides from ONE shuffle at runtime (the "
    "static plan prints 4 scans; the executed plan runs one) — the prior "
    "DISK_ONLY persist REGRESSED the query 2.92 s vs 1.58 s at sf0.1 by "
    "replacing that free reuse with a disk round trip (OPTIMIZATION_r16.md, "
    "the same trade hybrid_rrf_fusion measured in r13)",
    "count_min_heavy_hitters": "measurement: sketch estimate leg vs exact "
    "truth leg — the comparison is the query",
    "zorder_data_skipping": "measurement: lexicographic vs Z-order layout "
    "legs each laid out + footer-audited — the A/B is the query",
    "funnel_conversion": "disjoint: per-step event_type pushed-filter legs",
    "psi_drift": "disjoint: first/second epoch-half pushed ts-range legs",
    "attribution_position_based": "disjoint-ish: purchase leg vs touch-"
    "journey legs under different pushed event filters and roles",
}


def max_job_id(spark) -> int:
    """Highest job id the app status store has seen (-1 if none)."""
    jl = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((jl.apply(i).jobId() for i in range(jl.size())), default=-1)


def exec_jobs_after(spark, min_id: int) -> list[str]:
    """Names of EXECUTION jobs with id > min_id. Excludes Spark's own
    per-read parquet footer-schema metadata reads ('parquet at ...'),
    which fire for a bare spark.read.parquet even with no action."""
    jl = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return [
        jl.apply(i).name()
        for i in range(jl.size())
        if jl.apply(i).jobId() > min_id
        and not jl.apply(i).name().startswith("parquet at")
    ]


def audit(spark, registry, sf: str, threshold: int = 4, jobs_out: dict | None = None):
    from tools.broadcast_audit import CONSTRUCTION_EXECUTES

    from pulsar_3_2_codedump_spark import catalog

    os.environ["SPARK_GRAFT_PLAN_ONLY"] = "1"
    os.environ["SPARK_GRAFT_ESD_NO_PROBE"] = "1"
    # Drop CacheManager registrations from earlier constructions in this
    # session: a persisted frame's CACHED physical plan (compiled under
    # whatever conf was active when it was first built) would otherwise be
    # spliced verbatim into the plans this sweep inspects, making counts
    # depend on session history (r13: the source of cross-session
    # scan-count drift).
    spark.catalog.clearCache()
    hits = []
    try:
        for name, q in sorted(registry.items()):
            if name.startswith("streaming_") or name in CONSTRUCTION_EXECUTES:
                continue
            catalog.PLAN_ONLY_MATERIALIZED_TABLES.clear()
            loss_mark = catalog.PLAN_ONLY_COVERAGE_LOSSES
            mark = max_job_id(spark) if jobs_out is not None else -1
            try:
                df = q.fn(spark, sf)
                plan = df._jdf.queryExecution().executedPlan().toString()
            except Exception:  # noqa: BLE001 — audit sweep, skip broken builds
                continue
            if jobs_out is not None:
                ran = exec_jobs_after(spark, mark)
                if ran:
                    jobs_out[name] = ran
            # Discipline is attributed PER TABLE (ADVICE r13): a
            # materialization only excuses multi-scans of the tables its
            # own subtree reads — a checkpoint of a control-plane frame no
            # longer masks an unrelated fact table scanned >= threshold
            # times. Plan markers without a recorded table set (e.g. a
            # localCheckpoint executed inside the callable before the
            # sweep's env var gating, leaving only Scan ExistingRDD) fall
            # back to the old any-table behavior.
            covered = set(catalog.PLAN_ONLY_MATERIALIZED_TABLES)
            # ADVICE r14: the legacy any-table pass is valid whenever a plan
            # marker exists AND no table coverage was recorded — regardless
            # of whether the ckpt counter ticked. A query with a genuine
            # pre-gating checkpoint that ALSO routes one control-plane frame
            # through ckpt_unless_plan_only (where inputFiles() yields no
            # fact tables) must not lose the legacy excuse.
            # ADVICE r15: the legacy excuse is WITHHELD when attribution was
            # lost via the inputFiles() exception path during THIS query's
            # construction — an un-attributed materialization must not pass
            # a >=threshold fact scan on a marker alone.
            coverage_lost = catalog.PLAN_ONLY_COVERAGE_LOSSES > loss_mark
            legacy_marker = (
                ("InMemoryTableScan" in plan or "ExistingRDD" in plan)
                and not covered
                and not coverage_lost
            )
            tabs: dict[str, int] = {}
            for s in re.findall(r"FileScan parquet[^\n]*", plan):
                m = re.search(rf"({'|'.join(TABLES)})\.parquet", s)
                t = m.group(1) if m else "?"
                tabs[t] = tabs.get(t, 0) + 1
            flagged = {
                t: v
                for t, v in tabs.items()
                if t in FACTS and v >= threshold and t not in covered
            }
            if flagged and not legacy_marker:
                worst = max(flagged.values())
                hits.append((worst, name, tabs))
    finally:
        os.environ.pop("SPARK_GRAFT_PLAN_ONLY", None)
        os.environ.pop("SPARK_GRAFT_ESD_NO_PROBE", None)
    return sorted(hits, reverse=True)


def unclassified_hits(spark, registry, sf: str, threshold: int = 4):
    """Hits outside BENIGN_MULTISCAN — what the pytest gate fails on."""
    return [h for h in audit(spark, registry, sf, threshold) if h[1] not in BENIGN_MULTISCAN]


def main() -> None:
    from pulsar_3_2_codedump_spark.queries import load_all
    from pulsar_3_2_codedump_spark.session import get_spark

    positional = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = positional[0] if positional else "/root/testdata/sf0.001"
    threshold = int(positional[1]) if len(positional) > 1 else 4
    spark = get_spark("scan_audit")
    for worst, name, tabs in audit(spark, load_all(), sf, threshold):
        tag = "BENIGN" if name in BENIGN_MULTISCAN else "UNCLASSIFIED"
        print(worst, name, tabs, tag)


if __name__ == "__main__":
    main()
