"""Python-worker tasks the log's own plumbing plans: the driver-side lookup
frames (``topic.lookup_frame``), the registered queries that return them
from a ``queries.scratch_root``, and the ``pulsarlike`` readers' shared task
planner (``plan_tasks``)."""

import os
import time

import pytest
from pyspark.sql import functions as F

from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.envelope import ENVELOPE_SCHEMA, MARKER_TXN_COMMIT, wrap_events
from pulsar_3_2_codedump_spark.sources import pulsarlike as PL
from tests.conftest import SF_DIR


def _env(spark, limit):
    return (
        wrap_events(load(spark, SF_DIR, "events"))
        .filter(F.col("sequence_id") < limit)
        .drop("partition", "offset")
    )


def _python_rdds(df) -> list[str]:
    """Where ``df`` would run a ``PythonRDD``: in the lineage of its main
    RDD, or in the RDD behind any leaf of its plan. A broadcast's build side
    runs as its own job, outside the main lineage, so the leaves are checked
    one by one."""
    qe = df._jdf.queryExecution()
    found = []
    if "PythonRDD" in qe.toRdd().toDebugString():
        found.append("main lineage")
    leaves = qe.optimizedPlan().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD" and "PythonRDD" in leaf.rdd().toDebugString():
            found.append(leaf.toString())
    return found


def test_lookup_frames_run_no_python_worker(spark, tmp_root):
    # the check itself: a frame from a Python list runs a PythonRDD
    assert _python_rdds(spark.createDataFrame([(0, 1)], "partition int, __lo long"))

    lookup = T.lookup_frame(spark, [(0, 5), (1, 7)], "partition int, __lo long")
    assert not _python_rdds(lookup)
    assert sorted(map(tuple, lookup.collect())) == [(0, 5), (1, 7)]
    empty = T.lookup_frame(spark, [], ENVELOPE_SCHEMA)
    assert not _python_rdds(empty)
    assert empty.schema == ENVELOPE_SCHEMA and empty.count() == 0

    tp = T.create_topic(tmp_root, "bounded", n_partitions=2)
    T.append(spark, _env(spark, 100), tp)
    ends = T.end_offsets(T.read_manifest(tp))
    df = T.read_topic(spark, tp, start_offsets={0: 3, 1: 4}, end={0: ends[0] - 2, 1: ends[1] - 1})
    assert not _python_rdds(df)
    assert df.count() == sum(ends.values()) - (3 + 4) - (2 + 1)


def test_bounded_read_plans_no_join(spark, tmp_root):
    # the per-partition bounds are map literals: no broadcast, no join, and
    # a partition with no bound is not filtered
    tp = T.create_topic(tmp_root, "bounded", n_partitions=2)
    T.append(spark, _env(spark, 100), tp)
    ends = T.end_offsets(T.read_manifest(tp))
    start, end = {0: 3, 1: 4}, {0: ends[0] - 2}
    df = T.read_topic(spark, tp, start_offsets=start, end=end)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan and "Join" not in plan, plan
    got = sorted((r["partition"], r["offset"]) for r in df.select("partition", "offset").collect())
    assert got == [(p, o) for p in (0, 1) for o in range(start[p], end.get(p, ends[p]))]


def test_marker_frames_run_no_python_worker(spark):
    marker = T._txn_marker(spark, "t1", MARKER_TXN_COMMIT)
    assert not _python_rdds(marker)
    row = marker.collect()[0]
    assert (row["key"], row["value"], row["properties"], row["marker_type"]) == (
        "__txn:t1", None, {"txn_id": "t1"}, MARKER_TXN_COMMIT
    )
    assert row["publish_time"] is not None


def test_lookup_frame_reads_collected_timestamps_as_create_data_frame(spark):
    # collect() returns naive datetimes in the process's local time zone;
    # a lookup frame of those rows must hold the same instants
    src = spark.sql(
        "SELECT timestamp'2024-01-01 12:00:00' AS t, date'2024-01-02' AS d, "
        "map('a', timestamp'2024-01-01 12:00:00') AS m"
    )
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        rows = src.collect()
        want = spark.createDataFrame(rows, src.schema).collect()
        got = T.lookup_frame(spark, rows, src.schema).collect()
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert got == want == rows


def test_query_results_run_no_python_worker(spark):
    from pulsar_3_2_codedump_spark.queries import load_all

    registry = load_all()
    for name in (
        "streaming_count_windows",
        "exactly_once_replay_audit",
        "range_join_price_bands",
    ):
        df = registry[name].fn(spark, SF_DIR)
        assert not _python_rdds(df), name
        assert df.count() > 0, name


def test_scratch_root_is_removed_when_the_body_raises(spark):
    from pulsar_3_2_codedump_spark.queries import scratch_root

    with pytest.raises(RuntimeError, match="boom"):
        with scratch_root(spark) as root:
            T.create_topic(root, "t", n_partitions=1)
            assert os.path.isdir(root)
            raise RuntimeError("boom")
    assert not os.path.exists(root)


def _multi_partition_topic(spark, tmp_root, n_appends=3):
    tp = T.create_topic(tmp_root, "plan", n_partitions=8)
    for i in range(n_appends):
        T.append(
            spark,
            _env(spark, 600).filter(
                (F.col("sequence_id") >= 200 * i) & (F.col("sequence_id") < 200 * (i + 1))
            ),
            tp,
        )
    return tp


def _ends(tp):
    return {str(p): e for p, e in T.end_offsets(T.read_manifest(tp)).items()}


def _read_all(reader, tasks) -> list[tuple[int, int]]:
    out = []
    for task in tasks:
        for b in reader.read(task):
            out += zip(b.column("partition").to_pylist(), b.column("offset").to_pylist())
    return out


def test_small_micro_batch_plans_one_task(spark, tmp_root):
    tp = _multi_partition_topic(spark, tmp_root, n_appends=1)
    ends = _ends(tp)
    reader = PL.PulsarLikeStreamReader({"path": tp})
    tasks = reader.partitions({p: 0 for p in ends}, ends)
    assert len(tasks) == 1
    ranges = tasks[0].ranges
    assert [(r.partition, r.lo, r.hi) for r in ranges] == [
        (p, 0, e) for p, e in sorted(ends.items(), key=lambda kv: int(kv[0])) if e
    ]
    assert len(_read_all(reader, tasks)) == 200


def test_ranges_split_at_max_rows_per_task(spark, tmp_root):
    # one partition, three segments of 30 rows
    tp = T.create_topic(tmp_root, "split", n_partitions=1)
    data = _env(spark, 90).withColumn("partition", F.lit(0))
    for i in range(3):
        T.append(
            spark,
            data.filter((F.col("sequence_id") >= 30 * i) & (F.col("sequence_id") < 30 * (i + 1))),
            tp,
            dedup=False,
        )
    reader = PL.PulsarLikeStreamReader({"path": tp, "maxrowspertask": "60"})
    tasks = reader.partitions({"0": 10}, {"0": 90})
    assert [(t.lo, t.hi) for t in tasks] == [(10, 60), (60, 90)]
    # a segment larger than the budget stays whole: tasks only cut at segment
    # boundaries
    reader = PL.PulsarLikeStreamReader({"path": tp, "maxrowspertask": "20"})
    tasks = reader.partitions({"0": 0}, {"0": 90})
    assert [(t.lo, t.hi) for t in tasks] == [(0, 30), (30, 60), (60, 90)]


def test_ranges_at_pack_size_keep_their_own_task(spark, tmp_root, monkeypatch):
    tp = _multi_partition_topic(spark, tmp_root, n_appends=1)
    ends = _ends(tp)
    big = max(ends, key=ends.get)
    monkeypatch.setattr(PL, "PACK_ROWS", ends[big])
    tasks = PL.plan_tasks(T.read_manifest(tp), {p: (0, e) for p, e in ends.items()}, 10**9)
    alone = [t for t in tasks if isinstance(t, PL.RangePartition) and t.partition == big]
    assert [(t.lo, t.hi) for t in alone] == [(0, ends[big])]
    for t in tasks:
        rows = sum(r.hi - r.lo for r in (t.ranges if isinstance(t, PL.PackedPartition) else [t]))
        assert rows <= ends[big]


def test_packed_plan_reads_the_same_rows_and_hides_markers(spark, tmp_root):
    tp = _multi_partition_topic(spark, tmp_root)
    T.append(
        spark, _env(spark, 8).withColumn("marker_type", F.lit(MARKER_TXN_COMMIT)), tp, dedup=False
    )
    T.append(spark, _env(spark, 700).filter(F.col("sequence_id") >= 600), tp)
    ends = _ends(tp)
    start = {p: min(e, 7) for p, e in ends.items()}
    reader = PL.PulsarLikeStreamReader({"path": tp})
    packed = reader.partitions(start, ends)
    assert len(packed) == 1 and isinstance(packed[0], PL.PackedPartition)
    per_range = [PL.RangePartition(p, start[p], e) for p, e in ends.items() if e > start[p]]
    got = _read_all(reader, packed)
    assert len(got) == len(set(got))
    assert sorted(got) == sorted(_read_all(reader, per_range))
    expected = {
        (r["partition"], r["offset"])
        for r in T.read_topic(spark, tp).select("partition", "offset").collect()
        if r["offset"] >= start[str(r["partition"])]
    }
    assert set(got) == expected
    # the markers hold log positions that no consumer read returns
    assert len(expected) < sum(e - start[p] for p, e in ends.items())


def test_replayed_micro_batch_plans_the_same_tasks(spark, tmp_root):
    tp = _multi_partition_topic(spark, tmp_root)
    ends = _ends(tp)
    start = {p: e // 3 for p, e in ends.items()}
    reader = PL.PulsarLikeStreamReader({"path": tp, "maxrowspertask": "120"})
    first = reader.partitions(start, ends)
    # later appends land past the batch's end and leave its plan alone
    T.append(spark, _env(spark, 800).filter(F.col("sequence_id") >= 600), tp)
    replay = PL.PulsarLikeStreamReader({"path": tp, "maxrowspertask": "120"})
    assert replay.partitions(start, ends) == first
    assert len(first) > 1
