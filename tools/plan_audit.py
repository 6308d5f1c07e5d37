"""Audit the physical plans the registered batch queries actually run.

One sweep builds every batch query the product way: each query callable
runs as the driver runs it, localCheckpoints, census probes and
control-plane collects included. For each query the sweep collects every
plan it runs: the final DataFrame's physical plan, plus the plan of each
SQL execution its construction started, read back from the SQL status
store (the checkpointed subtrees of iterative and loop-carried builds
show up here). Two checks run over them:

- **Broadcast flip.** The sweep runs with the broadcast threshold floored
  (``autoBroadcastJoinThreshold=-1``, the condition where every
  corpus-derived estimate exceeds any threshold), so only explicit
  ``F.broadcast()``/hint sites still broadcast. ``audit_plan_rich`` judges
  each surviving fact-backed build in every collected plan; a build that
  is Limit-bounded, one-row, a capped query set or keyed on bounded
  domains is fine at any scale. What remains must be a documented
  measurement form in ``EXPLICIT_MEASUREMENT_BROADCASTS``
  (tests/test_broadcast_audit.py).
- **Redundant scans.** ``scan_counts`` counts FileScan nodes per table in
  the final plan, each distinct cached (``InMemoryRelation``) subtree once
  — a persisted frame prints its cached plan under every reference. A
  plan scanning one FACT table >= 4 times re-plans a shared frame per
  branch, invisible to ReuseExchange whenever the shared subtree has no
  Exchange root. Fix with ``localCheckpoint`` (bounded / loop-carried
  frames), ``catalog.persist_shared_corpus_frame`` (corpus-sized frames)
  or a one-scan rewrite, or triage in ``BENIGN_MULTISCAN`` with a class
  and a reason (tests/test_scan_audit.py).

Streaming queries (``streaming_*``) are skipped: their plans are per
micro-batch, and their batch cores are audited through their batch twins.

Run: python tools/plan_audit.py [sf_dir]
Prints both reports and the names of any queries that fail to build.
"""

from __future__ import annotations

import os
import re
import sys
from typing import NamedTuple

FACTS = ("documents", "embeddings", "events", "lineitem", "orders")
TABLES = ("region", "nation", "customer", "supplier", "part") + FACTS
SCAN_THRESHOLD = 4

_SWEEP_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    # plans in the status store print as indented trees with node details
    # inline (the default "formatted" mode splits them out)
    "spark.sql.ui.explainMode": "extended",
}


class Report(NamedTuple):
    flips: dict  # query -> [(fact_tables, unbounded_keys, build_root)]
    scans: list  # (worst fact-table scan count, query, {table: scans})
    failed: dict  # query -> error


def sweep(spark, registry, sf: str) -> Report:
    """Build every batch query in ``registry`` over ``sf`` and audit the
    plans it runs (module doc). Session confs are restored afterwards."""
    from pulsar_3_2_codedump_spark.catalog import release_shared_frames

    prev = {k: spark.conf.get(k) for k in _SWEEP_CONFS}
    for k, v in _SWEEP_CONFS.items():
        spark.conf.set(k, v)
    # a frame cached by an earlier build was planned under the normal
    # threshold; spliced into a plan here, its broadcasts would read as
    # surviving the floor
    spark.catalog.clearCache()
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    flips, scans, failed = {}, [], {}
    try:
        bus.waitUntilEmpty()
        mark = _last_execution_id(store)
        for name, q in sorted(registry.items()):
            if name.startswith("streaming_"):
                continue
            try:
                plan = q.fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
            except Exception as e:  # noqa: BLE001 — reported, the sweep goes on
                failed[name] = f"{type(e).__name__}: {str(e)[:200]}"
                plan = None
            bus.waitUntilEmpty()
            built, mark = _executions_after(store, mark)
            release_shared_frames()
            if plan is None:
                continue
            hits = []
            for p in [plan, *built]:
                hits += [h for h in audit_plan_rich(p, query=name) if h not in hits]
            if hits:
                flips[name] = hits
            tabs = scan_counts(plan)
            worst = max((v for t, v in tabs.items() if t in FACTS), default=0)
            if worst >= SCAN_THRESHOLD:
                scans.append((worst, name, tabs))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    return Report(flips, sorted(scans, reverse=True), failed)


def _last_execution_id(store) -> int:
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def _executions_after(store, mark: int) -> tuple[list[str], int]:
    """Physical plans of the SQL executions with id > ``mark``, and the
    newest id seen. Reads the store newest-first, a page at a time."""
    plans, newest, end = [], mark, store.executionsCount()
    while end > 0:
        start = max(0, end - 64)
        page = store.executionsList(start, end - start)
        for i in reversed(range(page.size())):
            e = page.apply(i)
            if e.executionId() <= mark:
                return plans, newest
            newest = max(newest, e.executionId())
            text = e.physicalPlanDescription()
            plans.append(text.split("== Physical Plan ==\n", 1)[-1])
        end = start
    return plans, newest


_FILESCAN = re.compile(rf"FileScan parquet.*?\b({'|'.join(TABLES)})\.parquet")


def scan_counts(plan: str) -> dict[str, int]:
    """FileScan nodes per table in ``plan``; each distinct cached plan (the
    subtree under an InMemoryRelation) is counted once, however many
    references print it. The relation's own line is left out of the
    comparison: each reference re-aliases its output columns. Of an
    executed adaptive plan only the final plan counts."""
    lines = plan.splitlines()
    seen: set[tuple] = set()
    counts: dict[str, int] = {}

    def walk(lo: int, hi: int) -> None:
        i = lo
        while i < hi:
            if "InMemoryRelation" in lines[i]:
                sub = subtree(lines, i)
                d = _depth(lines[i])
                shape = tuple((_depth(ln) - d, ln.lstrip(" :+|-")) for ln in sub[1:])
                if shape not in seen:
                    seen.add(shape)
                    walk(i + 1, i + len(sub))
                i += len(sub)
                continue
            if "== Initial Plan ==" in lines[i]:
                # an executed adaptive plan prints its final plan, then the
                # initial one it replaced (at the marker's text depth):
                # count the final plan only
                d, i = _depth(lines[i]), i + 1
                while i < hi and _depth(lines[i]) >= d:
                    i += 1
                continue
            m = _FILESCAN.search(lines[i])
            if m:
                counts[m.group(1)] = counts.get(m.group(1), 0) + 1
            i += 1

    walk(0, len(lines))
    return counts


def _depth(s: str) -> int:
    m = re.match(r"^[\s:+|-]*", s)
    return len(m.group(0))


def subtree(lines, i):
    """Lines of the subtree rooted at lines[i] (tree-prefix indentation)."""
    d = _depth(lines[i])
    out = [lines[i]]
    for j in range(i + 1, len(lines)):
        if lines[j].strip() == "":
            break
        if _depth(lines[j]) <= d:
            break
        out.append(lines[j])
    return out


def _children(lines, i, end):
    """Indices of the IMMEDIATE children of lines[i] within lines[i+1:end]:
    the lines at the minimum tree depth below the node (a join prints its
    branches at one depth; deeper lines belong to those branches)."""
    below = [j for j in range(i + 1, end) if lines[j].strip()]
    if not below:
        return []
    child_d = min(_depth(lines[j]) for j in below)
    return [j for j in below if _depth(lines[j]) == child_d]


# Queries whose plan keeps a fact-backed BroadcastExchange even when the
# broadcast threshold is floored (-1), i.e. an EXPLICIT F.broadcast() of a
# fact-derived frame. Every entry is a documented measurement form: the
# broadcast side is a strided/filtered query set or a trained model whose
# size is a stated fraction of the corpus, and the query doc names the
# bucketed/partitioned variant as the scale path. Anything NOT in this
# list that still broadcasts under a floored threshold is a genuine
# class-(b) violation — tests/test_broadcast_audit.py enforces that
# (found there r11: six TPC-H shapes explicitly broadcasting ORDERS and
# a lineitem-derived per-part aggregate — all de-hinted to estimate-
# driven joins that flip to shuffle past the threshold).
_QUERY_SET = (
    "broadcasts the STRIDED QUERY SET (vec_id % stride) — corpus/stride "
    "rows by construction; the LSH/IVF/PQ-bucketed queries are the "
    "serving-scale path, this form exists to measure them"
)
EXPLICIT_MEASUREMENT_BROADCASTS: dict[str, str] = {
    "ann_ndcg_at_k": _QUERY_SET,
    "ann_recall_at_k": _QUERY_SET,
    "cosine_topk": _QUERY_SET,
    "filtered_vector_search": _QUERY_SET + "; plus a #queries-rows "
    "per-query candidate-count frame",
    "hard_negative_mining": _QUERY_SET,
    "hybrid_rrf_fusion": _QUERY_SET + "; lexical pools are per-query "
    "top-k bounded via partitioned windows (doc_id-keyed aggs sit above "
    "a WindowGroupLimit)",
    "ivfadc_ann_topk": "broadcasts per-query ADC lookup tables — "
    "#queries x M x 256 floats, bounded by the strided query set",
    "ivfpq_residual_topk": "broadcasts per-(query, probed-cell) residual "
    "ADC lookup tables — #queries x nprobe rows, bounded by the strided "
    "query set (the residual form of ivfadc_ann_topk's LUT broadcast)",
    "hnsw_beam_search_recall": _QUERY_SET + "; beam re-scoring joins the "
    "bounded (#queries x EF x (M+1)) frontier against the query set",
    "nsw_long_link_search_recall": _QUERY_SET + "; beam re-scoring joins "
    "the bounded (#queries x EF x (M+LL_K+1)) frontier against the query "
    "set; the entry/beam trajectory stats are #queries-row aggregates of "
    "the capped beam frames",
    "knn_label_vote": _QUERY_SET,
    "lsh_ann_topk": _QUERY_SET,
    "mmr_rerank": _QUERY_SET + "; the re-ranked pool is top-"
    "MMR_POOL bounded, so the MMR steps add O(pool^2 K) per query",
    "quantized_ann_recall": _QUERY_SET,
    "truncated_embedding_recall": _QUERY_SET,
    "pmi_collocations": "broadcasts the unigram count model — "
    "vocab-bounded (Heaps-law sublinear); the query doc names dropping "
    "the explicit broadcast under an uncapped vocab",
    "cross_corpus_dedup": "broadcasts the REFERENCE corpus fingerprint "
    "set — decontamination/eval sets are metadata-scale by design "
    "relative to the training corpus",
}


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
    "hnsw_beam_search_recall": "measurement: the brute-force truth leg "
    "scans the capped query set and the corpus; the approximate leg "
    "rescores the checkpointed beam against the corpus and the query set, "
    "plus the runtime bloom-filter subquery Spark injects over the query "
    "set (5 embeddings scans, 2 of them full-corpus)",
    "nsw_long_link_search_recall": "measurement: the same truth and "
    "approximate legs as hnsw_beam_search_recall over the long-link walk "
    "graph (5 embeddings scans, 2 of them full-corpus)",
    "ivfadc_ann_topk": "accepted-real: two full-corpus passes computing "
    "different things (cell-assignment argmin, PQ encode), two filtered "
    "reads of the capped query set (cell probes, ADC LUTs) and the cached "
    "codebook's training plan (two md5-ranked seed samples and one Lloyd "
    "partials pass, run once by its control-plane collect at construction) "
    "— 7 embeddings scans; persist_shared_corpus_frame over (vec_id, "
    "embedding) is the named fix if the query's cost regresses",
    "funnel_conversion": "disjoint: per-step event_type pushed-filter legs",
    "psi_drift": "disjoint: first/second epoch-half pushed ts-range legs",
    "attribution_position_based": "disjoint-ish: purchase leg vs touch-"
    "journey legs under different pushed event filters and roles",
}


# Key domains that stay METADATA-SCALE at any corpus size: enumerable
# attributes (language, source, event type, partition, producer, label),
# calendar units, fixed fold/band/shard counts. A broadcast whose
# build's size-determining aggregate groups ONLY by these is bounded by
# the domain, not the corpus. Everything else (words, shingles, ngrams,
# doc/user/item ids) grows with the data. ADVICE r11: the generic names
# that a corpus-proportional key could plausibly wear (bucket, grp,
# window, rn, single letters) are REMOVED from the global set — e.g. an
# ESD-style 'bucket' is a substr(suffix) key that grows with the corpus;
# a query whose genuinely-bounded key happens to use such a name
# qualifies it per-query in QUERY_BOUNDED_KEYS instead.
BOUNDED_KEYS = {
    "lang", "source", "source_a", "source_b", "event_type", "type_a",
    "type_b", "partition", "producer_name", "producer", "label",
    "neighbor_label", "fold", "band", "shard", "__b", "__rb",
    "__db", "day", "hour", "week", "month", "event_day",
    "gen", "tier", "w_start", "w_end", "code", "sub",
    "cell", "cid", "centroid_id", "step", "rank",
    "replicate", "__r",  # fixed resample/sketch-row counts
    "l_returnflag", "l_linestatus", "l_shipmode", "o_orderpriority",
    "o_orderstatus", "n_name", "r_name", "c_mktsegment", "p_brand",
    "p_type", "p_size", "p_container", "subscription", "consumer",
    "state", "alarm", "reason", "marker_type", "schema_version",
}

# Per-query qualification of generic key names (ADVICE r11: match on
# (query, key) pairs rather than growing the global set). Each entry
# states why THAT query's use of the name is domain-bounded.
QUERY_BOUNDED_KEYS: dict[str, set[str]] = {
    # CMS table: i = sketch depth row (CMS_DEPTH), bucket = counter index
    # (fixed width) — the sketch is CMS_DEPTH x width cells at any corpus
    "count_min_heavy_hitters": {"bucket", "i"},
    # prefixops range-bucket partials: bucket = md5 % SHARD_BUCKETS /
    # fixed range-bucket count — the partial frame is #buckets rows
    "token_balanced_shards": {"bucket"},
    "watermark_late_data": {"bucket"},
    # cached PQ codebook lineage: m = subspace (PQ_M=16), code_id =
    # codeword (PQ_K=16) — the trained codebook is PQ_M x PQ_K rows
    "ivfadc_ann_topk": {"m", "code_id"},
    "ivfpq_residual_topk": {"m", "code_id"},
    # per-replicate prefix partials: bucket = range_bucket(32) — the
    # partials frame is B x 32 rows ('replicate' is globally bounded)
    "bootstrap_median_replicates": {"bucket"},
    # basket items are p_brand values renamed: the frequent-item /
    # antecedent / consequent frames are aggregates keyed on the bounded
    # brand domain (~25 values at any corpus size). Visible to the r13
    # flip audit because the basket table's DISK_ONLY persist (lineage
    # kept) lets the classifier see the lineitem-derived build the old
    # executed localCheckpoint used to hide behind Scan ExistingRDD.
    "association_rules": {"item"},
    # bloom word table: word = bit-position DIV 32, positions < BLOOM_M_BITS
    # — the filter is m/32 rows at any corpus size (judged in the plan of
    # the table's localCheckpoint execution)
    "bloom_filter_semi_join": {"word"},
    # entry-strata targets: DISTINCT of (cell_id, target rank) where ranks
    # are the HNSW_ENTRIES per-cell strata — <= PQIVF_CELLS x HNSW_ENTRIES
    # rows by construction (cellstats explode), never corpus-proportional
    "hnsw_beam_search_recall": {"cell_id", "rnk"},
    # same entry-strata targets device as hnsw_beam_search_recall, plus the
    # #queries-row trajectory-stat frames keyed on the capped query set
    "nsw_long_link_search_recall": {"cell_id", "rnk", "query_id"},
}

_LIMIT_NODE = re.compile(
    r"\b(GlobalLimit|LocalLimit|CollectLimit|TakeOrderedAndProject"
    r"|WindowGroupLimit)\b"
)
_AGG_NODE = re.compile(
    r"(HashAggregate|ObjectHashAggregate|SortAggregate)\(keys=\[(?P<keys>[^\]]*)\]"
)


def _key_names(keys: str):
    return set(re.findall(r"(\w+)#\d+", keys)) or (
        {keys.strip()} if keys.strip() else set()
    )


# The ANN broadcast-queries contract (VERDICT r13 item 4, enforced in
# similarity._query_pred): a frame filtered by BOTH the stride modulus and
# the arithmetic id cap holds at most ANN_MAX_QUERIES rows at ANY corpus
# size — the one bounded-build form that is a Filter, not a Limit or a
# domain-keyed aggregate. Constants imported so the rule tracks the code.
def _capped_query_set(ln: str) -> bool:
    from pulsar_3_2_codedump_spark.functions.similarity import (
        QUERY_ID_CAP,
        QUERY_STRIDE,
    )

    return f"% {QUERY_STRIDE}) = 0" in ln and f" < {QUERY_ID_CAP}" in ln


def _classify(lines, i, end, bounded_keys):
    """(bounded, unbounded_keys) of the build subtree rooted at lines[i],
    judged RECURSIVELY per branch (ADVICE r11: a Limit in one child of a
    join must not mark a fact-proportional sibling bounded — each branch
    classifies on its own spine and a multi-child node takes the worst
    case):

    - Limit / TakeOrderedAndProject / WindowGroupLimit → bounded; stop.
    - aggregate with keys=[] → one-row build (distinct-expansion plans
      put keyed PARTIALS below a global agg — judging the rootmost node
      of the spine keeps them from false-flagging); stop.
    - aggregate whose key names are all domain-bounded → metadata-scale
      at any corpus size; stop. With corpus-capable keys the aggregate
      is still bounded when its INPUT is (output rows <= input rows, so
      an agg keyed by doc_id over a WindowGroupLimit-bounded pool stays
      bounded) — recurse, and flag the agg's keys only if a branch
      below is itself unbounded.
    - leaf → unbounded iff it scans a fact relation.
    - any other node → bounded iff ALL its children are bounded."""
    ln = lines[i]
    if _LIMIT_NODE.search(ln):
        return True, set()
    if _capped_query_set(ln):
        return True, set()  # ANN query set: <= ANN_MAX_QUERIES by contract
    m = _AGG_NODE.search(ln)
    if m:
        keys = _key_names(m.group("keys"))
        unb = {k for k in keys if k not in bounded_keys}
        if not unb:
            return True, set()
        kids = _children(lines, i, end)
        if kids:
            sub_end = kids[1:] + [end]
            if all(
                _classify(lines, j, e, bounded_keys)[0]
                for j, e in zip(kids, sub_end)
            ):
                return True, set()
        return False, unb
    kids = _children(lines, i, end)
    if not kids:
        fact = [t for t in FACTS if re.search(rf"\b{t}\b", ln)]
        return (not fact), ({"<fact-scan>"} if fact else set())
    sub_end = kids[1:] + [end]
    results = [
        _classify(lines, j, e, bounded_keys) for j, e in zip(kids, sub_end)
    ]
    unb = set().union(*(u for _, u in results))
    return all(b for b, _ in results), unb


def audit_plan_rich(plan: str, query: str | None = None):
    """Like audit_plan but classifies each fact-backed broadcast by the
    SIZE-DETERMINING nodes of its build tree via _classify (branch-aware:
    see its doc — a Limit only bounds the branch it sits on). A bounded
    build (limit-class spine, one-row aggregate, or aggregates over
    domain-bounded keys on every branch) is excluded; anything else is a
    genuine class-(b) flag: a corpus-derived build riding size estimates
    that flip past the broadcast threshold as the data grows.
    Returns (fact_tables, sorted_unbounded_keys, root_line) per flag."""
    lines = plan.splitlines()
    bounded_keys = BOUNDED_KEYS | QUERY_BOUNDED_KEYS.get(query or "", set())
    hits = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        sub = subtree(lines, i)
        text = "\n".join(sub)
        fact = [t for t in FACTS if re.search(rf"\b{t}\b", text)]
        if not fact:
            continue
        end = i + len(sub)
        kids = _children(lines, i, end)
        if not kids:
            hits.append((fact, ["<no-aggregate>"], ""))
            continue
        sub_end = kids[1:] + [end]
        results = [
            _classify(lines, j, e, bounded_keys)
            for j, e in zip(kids, sub_end)
        ]
        if all(b for b, _ in results):
            continue
        unbounded = sorted(set().union(*(u for _, u in results)))
        root = sub[1].strip() if len(sub) > 1 else ""
        hits.append((fact, unbounded or ["<no-aggregate>"], root[:90]))
    return hits


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from __spark_entry__ import SF_SMOKE
    from pulsar_3_2_codedump_spark.queries import load_all
    from pulsar_3_2_codedump_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else SF_SMOKE
    report = sweep(get_spark("plan_audit"), load_all(), sf)
    print("# fact-backed broadcasts surviving a floored threshold")
    for name, hits in sorted(report.flips.items()):
        tag = "allowlisted" if name in EXPLICIT_MEASUREMENT_BROADCASTS else "UNLISTED"
        for h in hits:
            print(f"FLIP {tag} {name}: {h}")
    print(f"\n# plans scanning one fact table >= {SCAN_THRESHOLD} times")
    for worst, name, tabs in report.scans:
        tag = "triaged" if name in BENIGN_MULTISCAN else "UNTRIAGED"
        print(f"SCAN {tag} {worst} {name}: {tabs}")
    print("\n# queries that failed to build")
    for name, err in sorted(report.failed.items()):
        print(f"FAILED {name}: {err}")


if __name__ == "__main__":
    main()
