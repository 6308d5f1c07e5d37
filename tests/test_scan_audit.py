"""Registry-wide redundant-scan gate (VERDICT r12 item 5).

The r12 waste class — a shared frame re-planned (and re-SCANNED) per plan
branch whenever its subtree has no Exchange root for ReuseExchange to
dedupe — recurred six times before the scan audit existed. A tool you
must remember to run is not a gate, so this test reads the audit of the
WHOLE registry's product plans (tools/plan_audit.py) and fails on any
final plan that scans one fact table >= 4 times and is not triaged in
BENIGN_MULTISCAN with a stated class and reason.
"""

from types import SimpleNamespace

from tests.conftest import SF_DIR


def test_registry_has_no_unclassified_multiscan_plans(plan_audit):
    from tools.plan_audit import BENIGN_MULTISCAN

    rogue = [h for h in plan_audit.scans if h[1] not in BENIGN_MULTISCAN]
    assert not rogue, (
        "untriaged >=4x same-fact-scan plans (fix with localCheckpoint / "
        "persist_shared_corpus_frame / a one-scan rewrite, or triage in "
        f"BENIGN_MULTISCAN): {rogue}"
    )
    # allowlist hygiene: entries carry a non-trivial documented reason
    for name, reason in BENIGN_MULTISCAN.items():
        assert reason and len(reason) > 20, name


def test_checkpoint_and_cached_subtree_scan_once(spark):
    """A fact frame unioned 4x is flagged; the same frame after
    localCheckpoint() is not, and neither is a persisted copy, whose
    cached plan prints under every reference but is counted once."""
    from pulsar_3_2_codedump_spark.catalog import load, persist_shared_corpus_frame
    from tools.plan_audit import sweep

    def union4(frame):
        def fn(s, sf):
            ev = frame(load(s, sf, "events").select("event_id", "user_id"))
            return ev.unionByName(ev).unionByName(ev).unionByName(ev).groupBy(
                "user_id"
            ).count()

        return SimpleNamespace(fn=fn)

    registry = {
        "raw": union4(lambda ev: ev),
        "checkpointed": union4(lambda ev: ev.localCheckpoint()),
        "persisted": union4(persist_shared_corpus_frame),
    }
    report = sweep(spark, registry, SF_DIR)
    assert not report.failed, report.failed
    assert [(h[1], h[2]["events"]) for h in report.scans] == [("raw", 4)]


# A persisted, already-executed aggregate referenced twice (Spark 4.1
# output, scan lines shortened): each reference prints the cached plan
# under re-aliased output columns, and the executed adaptive plan prints
# its final plan and then the initial one.
_CACHED_TWICE = """AdaptiveSparkPlan isFinalPlan=false
+- Union
   :- InMemoryTableScan [user_id#2L, count#6L]
   :     +- InMemoryRelation [user_id#2L, count#6L], StorageLevel(disk, memory, deserialized, 1 replicas)
   :           +- AdaptiveSparkPlan isFinalPlan=true
                  +- == Final Plan ==
                     ResultQueryStage 1
                     +- *(2) HashAggregate(keys=[user_id#2L], functions=[count(1)], output=[user_id#2L, count#6L])
                        +- ShuffleQueryStage 0
                           +- Exchange hashpartitioning(user_id#2L, 1), ENSURE_REQUIREMENTS, [plan_id=46]
                              +- *(1) HashAggregate(keys=[user_id#2L], functions=[partial_count(1)], output=[user_id#2L, count#16L])
                                 +- *(1) ColumnarToRow
                                    +- FileScan parquet [user_id#2L] Batched: true, Location: InMemoryFileIndex(1 paths)[file:/data/events.parquet]
                  +- == Initial Plan ==
                     HashAggregate(keys=[user_id#2L], functions=[count(1)], output=[user_id#2L, count#6L])
                     +- Exchange hashpartitioning(user_id#2L, 1), ENSURE_REQUIREMENTS, [plan_id=11]
                        +- HashAggregate(keys=[user_id#2L], functions=[partial_count(1)], output=[user_id#2L, count#16L])
                           +- FileScan parquet [user_id#2L] Batched: true, Location: InMemoryFileIndex(1 paths)[file:/data/events.parquet]
   +- InMemoryTableScan [user_id#85L, count#89L]
         +- InMemoryRelation [user_id#85L, count#89L], StorageLevel(disk, memory, deserialized, 1 replicas)
               +- AdaptiveSparkPlan isFinalPlan=true
                  +- == Final Plan ==
                     ResultQueryStage 1
                     +- *(2) HashAggregate(keys=[user_id#2L], functions=[count(1)], output=[user_id#2L, count#6L])
                        +- ShuffleQueryStage 0
                           +- Exchange hashpartitioning(user_id#2L, 1), ENSURE_REQUIREMENTS, [plan_id=46]
                              +- *(1) HashAggregate(keys=[user_id#2L], functions=[partial_count(1)], output=[user_id#2L, count#16L])
                                 +- *(1) ColumnarToRow
                                    +- FileScan parquet [user_id#2L] Batched: true, Location: InMemoryFileIndex(1 paths)[file:/data/events.parquet]
                  +- == Initial Plan ==
                     HashAggregate(keys=[user_id#2L], functions=[count(1)], output=[user_id#2L, count#6L])
                     +- Exchange hashpartitioning(user_id#2L, 1), ENSURE_REQUIREMENTS, [plan_id=11]
                        +- HashAggregate(keys=[user_id#2L], functions=[partial_count(1)], output=[user_id#2L, count#16L])
                           +- FileScan parquet [user_id#2L] Batched: true, Location: InMemoryFileIndex(1 paths)[file:/data/events.parquet]
"""


def test_scan_counts_read_one_cached_plan_once_and_its_final_half():
    from tools.plan_audit import scan_counts

    assert scan_counts(_CACHED_TWICE) == {"events": 1}
