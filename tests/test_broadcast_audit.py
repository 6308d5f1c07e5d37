"""The plan audit's broadcast check guards the 100x posture (no
data-proportional frame may ride a statically-planned BroadcastExchange —
the r10 50M-smoke crash class), so its plan parsing and classification
rules get pinned here on canned plan strings (no Spark needed), and the
registry gate reads the product-mode sweep of every batch query."""

from types import SimpleNamespace

from tests.conftest import SF_DIR
from tools.plan_audit import audit_plan_rich, subtree

FACT_BUILD = """AdaptiveSparkPlan isFinalPlan=false
+- SortMergeJoin [ng#1], [ng#2], Inner
   :- Sort [ng#1 ASC NULLS FIRST], false, 0
   :  +- Exchange hashpartitioning(ng#1, 32)
   :     +- FileScan parquet [doc_id#0,ng#1] ... documents.parquet
   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, string, true]),false)
      +- HashAggregate(keys=[ng#2], functions=[count(distinct doc_id#3L)])
         +- Exchange hashpartitioning(ng#2, 32)
            +- FileScan parquet [doc_id#3L,ng#2] ... documents.parquet
"""

LIMIT_BUILD = FACT_BUILD.replace(
    "+- HashAggregate(keys=[ng#2], functions=[count(distinct doc_id#3L)])",
    "+- GlobalLimit 100\n         +- HashAggregate(keys=[ng#2], functions=[count(distinct doc_id#3L)])",
)

SCALAR_BUILD = FACT_BUILD.replace(
    "HashAggregate(keys=[ng#2], functions=[count(distinct doc_id#3L)])",
    "HashAggregate(keys=[], functions=[sum(v#9L)])",
)

DIM_BUILD = FACT_BUILD.replace("documents.parquet", "nation.parquet").replace(
    "documents", "nation"
)


def test_fact_backed_keyed_aggregate_build_is_flagged():
    rich = audit_plan_rich(FACT_BUILD)
    assert len(rich) == 1
    fact, keys, _root = rich[0]
    assert fact == ["documents"] and keys == ["ng"]


COLLECT_LIMIT_BUILD = FACT_BUILD.replace(
    "+- HashAggregate(keys=[ng#2], functions=[count(distinct doc_id#3L)])",
    "+- CollectLimit 100\n         +- HashAggregate(keys=[ng#2], functions=[count(distinct doc_id#3L)])",
)

# fact-name SUFFIX in an identifier (e.g. a derived column preorders#12)
# must not trip the fact matcher — requires a LEFT word boundary too
SUFFIX_NAME_BUILD = FACT_BUILD.replace("documents", "predocuments")


def test_limit_scalar_and_dim_builds_are_not_flagged():
    assert audit_plan_rich(LIMIT_BUILD) == []          # bounded by construction
    assert audit_plan_rich(SCALAR_BUILD) == []         # one-row threshold
    assert audit_plan_rich(DIM_BUILD) == []            # dimension scan, not a fact
    assert audit_plan_rich(COLLECT_LIMIT_BUILD) == []  # CollectLimit is Limit-bounded
    assert audit_plan_rich(SUFFIX_NAME_BUILD) == []    # identifier merely ends in a fact name


def test_flip_audit_only_allowlisted_fact_broadcasts_survive(plan_audit):
    """The class-(b) pin (VERDICT r10 item 3): every fact-backed broadcast
    in the registry must be ESTIMATE-DRIVEN — the sweep builds the whole
    registry with the broadcast threshold floored (-1, the 100TB condition
    where every corpus-derived frame's estimate exceeds any threshold), and
    the only builds still broadcasting, in the final plans or in the
    executions their construction ran, are the explicit, documented
    measurement forms in EXPLICIT_MEASUREMENT_BROADCASTS. Catches any
    future explicit F.broadcast()/hint('BROADCAST') of a data-proportional
    frame — this test found six TPC-H shapes broadcasting ORDERS when first
    written."""
    from tools.plan_audit import EXPLICIT_MEASUREMENT_BROADCASTS

    assert not plan_audit.failed, f"queries failed to build: {plan_audit.failed}"
    rogue = set(plan_audit.flips) - set(EXPLICIT_MEASUREMENT_BROADCASTS)
    assert not rogue, (
        f"fact-backed broadcasts survive a floored threshold outside the "
        f"documented allowlist: { {n: plan_audit.flips[n] for n in sorted(rogue)} }"
    )
    # every allowlist entry must carry a non-empty documented reason
    for name, reason in EXPLICIT_MEASUREMENT_BROADCASTS.items():
        assert reason and len(reason) > 20, name


# ADVICE r11 item 1: a join-rooted BUILD whose first branch is
# Limit-bounded but whose sibling branch is a raw fact scan — the old
# print-order classifier took the first Limit as size-determining and
# passed the whole build; the branch-aware classifier must flag it.
JOIN_BUILD_LIMIT_FIRST_BRANCH = """AdaptiveSparkPlan isFinalPlan=false
+- SortMergeJoin [ng#1], [ng#2], Inner
   :- Sort [ng#1 ASC NULLS FIRST], false, 0
   :  +- Exchange hashpartitioning(ng#1, 32)
   :     +- FileScan parquet [doc_id#0,ng#1] ... documents.parquet
   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, string, true]),false)
      +- BroadcastHashJoin [w#5], [w#6], Inner, BuildLeft
         :- GlobalLimit 100
         :  +- Sort [cnt#7L DESC NULLS LAST], true, 0
         :     +- HashAggregate(keys=[w#5], functions=[count(1)])
         :        +- FileScan parquet [w#5] ... documents.parquet
         +- Project [ng#2, w#6]
            +- FileScan parquet [ng#2,w#6] ... documents.parquet
"""

# same shape, but the sibling branch is bounded too (a one-row agg):
JOIN_BUILD_BOTH_BOUNDED = JOIN_BUILD_LIMIT_FIRST_BRANCH.replace(
    """         +- Project [ng#2, w#6]
            +- FileScan parquet [ng#2,w#6] ... documents.parquet""",
    """         +- HashAggregate(keys=[], functions=[sum(v#9L)])
            +- FileScan parquet [v#9L] ... documents.parquet""",
)

# ADVICE r11 item 2: a fact aggregate keyed by a GENERIC name ('bucket' —
# e.g. an ESD substr(suffix) key that grows with the corpus) must not
# slip through the global bounded-key set; a query that genuinely uses
# the name for a domain-bounded key qualifies it in QUERY_BOUNDED_KEYS.
GENERIC_KEY_BUILD = FACT_BUILD.replace(
    "HashAggregate(keys=[ng#2]", "HashAggregate(keys=[bucket#2]"
)


def test_join_build_classifies_each_branch():
    rich = audit_plan_rich(JOIN_BUILD_LIMIT_FIRST_BRANCH)
    assert len(rich) == 1, rich
    fact, keys, _root = rich[0]
    assert fact == ["documents"] and "<fact-scan>" in keys
    assert audit_plan_rich(JOIN_BUILD_BOTH_BOUNDED) == []


def test_generic_key_names_are_not_globally_bounded():
    rich = audit_plan_rich(GENERIC_KEY_BUILD)
    assert len(rich) == 1 and rich[0][1] == ["bucket"]
    # per-query qualification path: the same plan under a query that
    # declares its 'bucket' domain-bounded passes
    from tools.plan_audit import QUERY_BOUNDED_KEYS

    QUERY_BOUNDED_KEYS["__canned__"] = {"bucket"}
    try:
        assert audit_plan_rich(GENERIC_KEY_BUILD, query="__canned__") == []
    finally:
        del QUERY_BOUNDED_KEYS["__canned__"]


def test_subtree_stops_at_sibling_depth():
    lines = FACT_BUILD.splitlines()
    i = next(n for n, ln in enumerate(lines) if "BroadcastExchange" in ln)
    sub = "\n".join(subtree(lines, i))
    assert "HashAggregate" in sub
    # the probe side (shallower/equal depth) is not part of the build subtree
    assert "SortMergeJoin" not in sub and "Sort [ng#1" not in sub


def test_broadcast_inside_checkpointed_subtree_is_flagged(spark):
    """A fact-backed explicit broadcast that only a construction-time
    execution runs (here: inside a localCheckpoint, so the final plan shows
    a bare Scan ExistingRDD) is still judged by the sweep."""
    from pyspark.sql import functions as F

    from pulsar_3_2_codedump_spark.catalog import load
    from tools.plan_audit import sweep

    def fn(s, sf):
        ev = load(s, sf, "events")
        per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        cut = ev.join(F.broadcast(per_user), "user_id").localCheckpoint()
        return cut.groupBy("event_type").count()

    report = sweep(spark, {"probe": SimpleNamespace(fn=fn)}, SF_DIR)
    assert not report.failed, report.failed
    hits = report.flips.get("probe")
    assert hits and all(h[:2] == (["events"], ["user_id"]) for h in hits), hits


def test_capped_query_set_filter_is_bounded():
    """The ANN broadcast-queries contract is visible to the classifier: a
    build whose spine filters on BOTH the stride modulus and the id cap is
    bounded (<= ANN_MAX_QUERIES rows at any corpus size); either predicate
    alone is not."""
    from pulsar_3_2_codedump_spark.functions.similarity import (
        QUERY_ID_CAP,
        QUERY_STRIDE,
    )

    capped = f"""AdaptiveSparkPlan isFinalPlan=false
+- SortMergeJoin [ng#1], [ng#2], Inner
   :- Sort [ng#1 ASC NULLS FIRST], false, 0
   :  +- Exchange hashpartitioning(ng#1, 32)
   :     +- FileScan parquet [doc_id#0,ng#1] ... documents.parquet
   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)
      +- Project [vec_id#3L AS query_id#9L]
         +- Filter (((vec_id#3L % {QUERY_STRIDE}) = 0) AND (vec_id#3L < {QUERY_ID_CAP}))
            +- FileScan parquet [vec_id#3L] ... embeddings.parquet
"""
    assert audit_plan_rich(capped) == []
    stride_only = capped.replace(f" AND (vec_id#3L < {QUERY_ID_CAP})", "")
    assert len(audit_plan_rich(stride_only)) == 1
