"""One write path for a topic: ``topic.append``, the ``pulsarlike`` stream
sink and the batch writer all commit through ``topic._commit_segments``,
and every segment they leave is a directory of parquet files that store
``offset``. Faults are injected at the commit point: a commit that dies
after moving its segments but before the manifest replace must leave no
visible rows, and its retry must land each row exactly once. ``append``
itself is one plan with one action, its dedup holds against the producer
marks, and two processes appending at once leave a dense log."""

import datetime as dt
import os
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row

from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.sources import pulsarlike as PL

_BASE = dt.datetime(2024, 5, 1)
_SCHEMA = (
    "key string, value binary, properties map<string,string>, "
    "event_time timestamp, publish_time timestamp, producer_name string, "
    "sequence_id long, deliver_at timestamp, marker_type int, replicated_from string"
)
_NAMES = [c.split()[0] for c in _SCHEMA.split(", ")]


def _tuples(lo, hi, producer):
    return [
        (str(i % 7), f"v{i}".encode(), None, _BASE + dt.timedelta(seconds=i),
         _BASE + dt.timedelta(seconds=i), producer, i, None, None, None)
        for i in range(lo, hi)
    ]


def _frame(spark, lo, hi, producer="p"):
    return spark.createDataFrame(_tuples(lo, hi, producer), _SCHEMA)


def _rows(lo, hi, producer="p"):
    """What Spark hands the sink's write(): one Row per message."""
    return iter(Row(**dict(zip(_NAMES, t))) for t in _tuples(lo, hi, producer))


def _check_log(spark, tp, n):
    """``n`` rows, each (producer, sequence) once, at dense offsets."""
    rows = T.read_topic(spark, tp).select(
        "partition", "offset", "producer_name", "sequence_id"
    ).collect()
    assert len(rows) == n
    assert len({(r.producer_name, r.sequence_id) for r in rows}) == n
    ends = T.end_offsets(T.read_manifest(tp))
    assert sum(ends.values()) == n
    assert {(r.partition, r.offset) for r in rows} == {
        (p, o) for p, e in ends.items() for o in range(e)
    }


def _fail_manifest_replace_once(monkeypatch):
    real = T._write_manifest_atomic
    calls = []

    def flaky(topic_path, manifest):
        calls.append(topic_path)
        if len(calls) == 1:
            raise OSError("injected crash before the manifest replace")
        real(topic_path, manifest)

    monkeypatch.setattr(T, "_write_manifest_atomic", flaky)


def _unlisted_segments(tp):
    """``seg-*`` entries on disk, in either tier, that the manifest does not
    list."""
    m = T.read_manifest(tp)
    out = []
    for p, segs in m["segments"].items():
        listed = {T._seg_path(tp, p, s) for s in segs}
        dirs = [os.path.join(tp, f"partition={p}")]
        if m.get("offload_base"):
            dirs.append(os.path.join(m["offload_base"], f"partition={p}"))
        out += [
            os.path.join(d, f)
            for d in dirs
            if os.path.isdir(d)
            for f in os.listdir(d)
            if f.startswith("seg-") and os.path.join(d, f) not in listed
        ]
    return out


def test_append_retry_after_crash_before_manifest_replace(spark, tmp_root, monkeypatch):
    tp = T.create_topic(tmp_root, "t", n_partitions=2)
    T.append(spark, _frame(spark, 0, 20), tp, batch_token="b0")
    batch = _frame(spark, 20, 50)
    _fail_manifest_replace_once(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        T.append(spark, batch, tp, batch_token="b1")
    assert T.read_topic(spark, tp).count() == 20  # nothing of b1 is visible
    T.append(spark, batch, tp, batch_token="b1")  # the retry
    T.append(spark, batch, tp, batch_token="b1")  # a replay of it: no-op
    _check_log(spark, tp, 50)


def test_sink_retry_after_crash_before_manifest_replace(spark, tmp_root, monkeypatch):
    tp = T.create_topic(tmp_root, "s", n_partitions=2)
    writer = PL.PulsarLikeStreamWriter({"path": tp}, None)
    writer.commit([writer.write(_rows(0, 20))], 0)
    _fail_manifest_replace_once(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        writer.commit([writer.write(_rows(20, 50))], 1)
    assert T.read_topic(spark, tp).count() == 20  # nothing of batch 1 is visible
    # Spark re-runs the failed batch's tasks and commits the same batchId
    writer.commit([writer.write(_rows(20, 50))], 1)
    writer.commit([writer.write(_rows(20, 50))], 1)  # a replay of it: no-op
    _check_log(spark, tp, 50)
    assert os.listdir(os.path.join(tp, "_stream_staging")) == []


def test_sink_topic_leaves_no_unlisted_segments(spark, tmp_root):
    """Merge, retention trim and offload delete the segments they drop, for
    segments the sink wrote too."""
    tp = T.create_topic(tmp_root, "leak", n_partitions=2)
    writer = PL.PulsarLikeStreamWriter({"path": tp}, None)
    for b in range(3):
        writer.commit([writer.write(_rows(10 * b, 10 * b + 10))], b)
    assert T.merge_small_segments(spark, tp) == 4  # 3 segments -> 1, per partition
    assert _unlisted_segments(tp) == []

    merged_ends = T.end_offsets(T.read_manifest(tp))
    for b in range(3, 6):
        writer.commit([writer.write(_rows(10 * b, 10 * b + 10))], b)
    assert T.trim_retention(spark, tp, merged_ends) == 2
    assert _unlisted_segments(tp) == []

    ends = T.end_offsets(T.read_manifest(tp))
    assert T.offload_segments(tp, os.path.join(tmp_root, "tier"), ends) == 6
    assert _unlisted_segments(tp) == []
    assert T.read_topic(spark, tp).count() == 30


def test_sink_replay_tokens_stay_bounded(spark, tmp_root):
    """Each micro-batch commits the token ``stream:<sinkId>:<batchId>`` into
    the same bounded list as ``append``'s batch tokens."""
    tp = T.create_topic(tmp_root, "many", n_partitions=1)
    writer = PL.PulsarLikeStreamWriter({"path": tp, "sinkid": "q"}, None)
    n = 520
    for b in range(n):
        writer.commit([writer.write(_rows(b, b + 1))], b)
    m = T.read_manifest(tp)
    assert "committed_stream_batches" not in m
    toks = m["committed_batch_tokens"]
    assert len(toks) == 512 and toks[-1] == f"stream:q:{n - 1}"
    writer.commit([writer.write(_rows(n - 1, n))], n - 1)  # replay: no-op
    assert T.end_offsets(T.read_manifest(tp)) == {0: n}
    _check_log(spark, tp, n)


def test_two_sinks_on_one_topic_keep_their_own_replay_tokens(spark, tmp_root):
    """Two stream copies into one topic, each with its own checkpoint and
    no ``sinkId``: both land all their rows, and a replayed batch of one of
    them (its checkpoint commit lost) is a no-op."""
    dst = T.create_topic(tmp_root, "dst", n_partitions=2)
    copies = {}
    for name, n in (("a", 100), ("b", 50)):
        src = T.create_topic(tmp_root, name, n_partitions=2)
        T.append(spark, _frame(spark, 0, n, name), src)
        copies[name] = (src, os.path.join(tmp_root, f"ck_{name}"))

    def copy(name):
        src, ck = copies[name]
        q = (
            spark.readStream.format("pulsarlike").option("path", src).load()
            .writeStream.format("pulsarlike").option("path", dst)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)

    copy("a")
    copy("b")
    _check_log(spark, dst, 150)
    commits = os.path.join(copies["b"][1], "commits")
    for f in os.listdir(commits):
        os.remove(os.path.join(commits, f))
    copy("b")  # re-runs batch 0 from the offset log
    _check_log(spark, dst, 150)


def test_checkpoint_writer_id_ignores_the_spelling(tmp_root, monkeypatch):
    """One checkpoint under any spelling names one writer, so a batch
    replayed after a restart under another spelling is still a replay."""
    monkeypatch.chdir(tmp_root)
    ck = os.path.join(tmp_root, "ck")
    spellings = (ck, ck + "/", "ck", "./ck/", "file:" + ck, "file://" + ck)
    assert len({T.checkpoint_writer_id(s) for s in spellings}) == 1
    assert T.checkpoint_writer_id(ck) != T.checkpoint_writer_id(ck + "2")


def test_every_writer_leaves_one_segment_shape(spark, tmp_root):
    src = T.create_topic(tmp_root, "src", n_partitions=2)
    T.append(spark, _frame(spark, 100, 160, "s"), src)
    tp = T.create_topic(tmp_root, "all", n_partitions=3)

    T.append(spark, _frame(spark, 0, 40, "a"), tp)
    q = (
        spark.readStream.format("pulsarlike").option("path", src).load()
        .writeStream.format("pulsarlike").option("path", tp)
        .option("checkpointLocation", os.path.join(tmp_root, "ck_sink"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    _frame(spark, 200, 230, "w").write.format("pulsarlike").option("path", tp).mode("append").save()
    T.append(spark, _frame(spark, 40, 50, "a"), tp)

    def assert_one_shape():
        m = T.read_manifest(tp)
        for p, segs in m["segments"].items():
            for s in segs:
                path = T._seg_path(tp, p, s)
                assert os.path.isdir(path)
                assert "offset" in pq.read_table(path).column_names

    assert_one_shape()
    assert T.merge_small_segments(spark, tp) > 0
    assert_one_shape()
    _check_log(spark, tp, 140)

    def positions(df):
        return {(r.partition, r.offset) for r in df.select("partition", "offset").collect()}

    name = f"one_shape_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("pulsarlike").option("path", tp).load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", os.path.join(tmp_root, "ck_mem"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    via_topic = positions(T.read_topic(spark, tp))
    assert len(via_topic) == 140
    assert positions(spark.read.format("pulsarlike").option("path", tp).load()) == via_topic
    assert positions(spark.table(name)) == via_topic


def test_trim_retention_crash_before_manifest_replace(spark, tmp_root, monkeypatch):
    """Trim commits the shorter segment list before it deletes a segment:
    a failed commit leaves every listed segment readable."""
    tp = T.create_topic(tmp_root, "trim", n_partitions=1)
    for b in range(3):
        T.append(spark, _frame(spark, 10 * b, 10 * b + 10), tp)
    _fail_manifest_replace_once(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        T.trim_retention(spark, tp, {0: 20})
    _check_log(spark, tp, 30)  # every listed segment is still there
    assert T.trim_retention(spark, tp, {0: 20}) == 2
    assert T.read_topic(spark, tp).count() == 10
    assert _unlisted_segments(tp) == []


def test_compact_topic_crash_before_manifest_replace(spark, tmp_root, monkeypatch):
    """A compaction whose commit fails leaves the previous snapshot and
    horizon in place: the compacted view is the one before the call."""
    tp = T.create_topic(tmp_root, "compact", n_partitions=2)
    T.append(spark, _frame(spark, 0, 30), tp)
    T.compact_topic(spark, tp)
    T.append(spark, _frame(spark, 30, 50), tp)

    def view():
        rows = T.read_topic_compacted(spark, tp).select("partition", "offset", "key").collect()
        assert len({(r.partition, r.offset) for r in rows}) == len(rows)
        return sorted(rows)

    before = view()
    _fail_manifest_replace_once(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        T.compact_topic(spark, tp)
    assert view() == before
    snaps = [f for f in os.listdir(tp) if f.startswith("compacted")]
    assert snaps == [T.read_manifest(tp)["compacted_path"]]  # no orphan snapshot

    T.compact_topic(spark, tp)
    after = view()
    assert len(after) == 7  # one row per key, every key ≤ the new horizon
    assert [f for f in os.listdir(tp) if f.startswith("compacted")] == [
        T.read_manifest(tp)["compacted_path"]
    ]


def _null_pt_frame(spark, lo, hi, producer="p"):
    return spark.createDataFrame(
        [(k, v, pr, None, None, prod, seq, dl, mt, rf)
         for k, v, pr, _, _, prod, seq, dl, mt, rf in _tuples(lo, hi, producer)],
        _SCHEMA,
    )


def test_append_runs_one_plan_without_persist(spark, tmp_root, monkeypatch):
    """With producer marks on the topic, an append is one plan with one
    action: the dedup shuffle, the numbering shuffle and the write, no
    cached relation and no stats jobs."""
    from pyspark.sql.readwriter import DataFrameWriter

    tp = T.create_topic(tmp_root, "plan", n_partitions=3)
    T.append(spark, _frame(spark, 0, 40, "a"), tp)
    T.append(spark, _frame(spark, 0, 40, "b"), tp)
    assert set(T.read_manifest(tp)["producer_seq"]) == {"a", "b"}

    plans = []
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().optimizedPlan().toString())
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    batch = _frame(spark, 30, 80, "a").unionByName(_frame(spark, 35, 60, "b"))
    sc = spark.sparkContext
    group = f"append-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "topic.append")
    try:
        T.append(spark, batch, tp)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    assert len(plans) == 1 and "InMemoryRelation" not in plans[0]
    rows = T.read_topic(spark, tp).select("producer_name", "sequence_id").collect()
    assert sorted((r.producer_name, r.sequence_id) for r in rows) == sorted(
        [("a", i) for i in range(80)] + [("b", i) for i in range(60)]
    )


def test_append_with_null_publish_times(spark, tmp_root):
    """Segments of rows that all lack a publish time carry no time bounds,
    and a timestamp seek over the topic still lands on real offsets."""
    tp = T.create_topic(tmp_root, "nullpt", n_partitions=2)
    T.append(spark, _frame(spark, 0, 40), tp)
    T.append(spark, _null_pt_frame(spark, 40, 70), tp)
    m = T.read_manifest(tp)
    first, second = (
        [s for segs in m["segments"].values() for s in segs if (s["start"] == 0) == is_first]
        for is_first in (True, False)
    )
    assert first and all("min_pt" in s and "max_pt" in s for s in first)
    assert second and all("min_pt" not in s and "max_pt" not in s for s in second)
    _check_log(spark, tp, 70)

    ends = T.end_offsets(m)
    pts = T.read_topic(spark, tp).select("partition", "offset", "publish_time").collect()
    for ts in (_BASE + dt.timedelta(seconds=20), _BASE + dt.timedelta(days=1)):
        start = PL.PulsarLikeStreamReader(
            {"path": tp, "startingoffsets": f"timestamp:{ts.isoformat()}+00:00"}
        ).initialOffset()
        for p, e in ends.items():
            want = min(
                (r.offset for r in pts
                 if r.partition == p and r.publish_time is not None and r.publish_time >= ts),
                default=e,
            )
            assert start[str(p)] == want


def test_append_resend_lands_only_new_sequence_ids(spark, tmp_root):
    """A resend that overlaps the producer mark lands only the sequence ids
    above it; rows with no producer name pass dedup and set no mark."""
    tp = T.create_topic(tmp_root, "resend", n_partitions=2)
    T.append(spark, _frame(spark, 0, 50), tp)
    T.append(spark, _frame(spark, 30, 90).unionByName(_frame(spark, 0, 5, None)), tp)
    rows = T.read_topic(spark, tp).select("producer_name", "sequence_id").collect()
    assert sorted((r.producer_name or "", r.sequence_id) for r in rows) == sorted(
        [("p", i) for i in range(90)] + [("", i) for i in range(5)]
    )
    assert T.read_manifest(tp)["producer_seq"] == {"p": 89}
    _check_log(spark, tp, 95)


_CHILD = r"""
import ast, datetime as dt, sys
from pulsar_3_2_codedump_spark.session import get_spark
from pulsar_3_2_codedump_spark import topic as T

tp, ready = sys.argv[1], sys.argv[2]
spark = get_spark("concurrent-append")
schema, batches = sys.argv[3], ast.literal_eval(sys.argv[4])
base = dt.datetime(2024, 5, 1)
frames = [
    spark.createDataFrame(
        [(str(i % 7), b"v", None, base, base + dt.timedelta(seconds=i), prod, i, None, None, None)
         for prod, lo, hi in batch for i in range(lo, hi)],
        schema,
    )
    for batch in batches
]
open(ready, "w").close()
for f in frames:
    T.append(spark, f, tp, dedup=True)
spark.stop()
"""


def _batches(producers, n=4, size=40, resend=10):
    """Each batch resends the last ``resend`` ids of the one before."""
    return [
        [(prod, max(0, k * size - resend), (k + 1) * size) for prod in producers]
        for k in range(n)
    ]


def test_two_processes_append_concurrently(spark, tmp_root):
    """Two drivers, each with its own Spark session, append overlapping
    resends to one topic at the same time; the writer lock serialises the
    commits."""
    import subprocess
    import sys
    import time

    tp = T.create_topic(tmp_root, "shared", n_partitions=3)
    ready = os.path.join(tmp_root, "child.ready")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child_batches = _batches(["c0", "c1"])
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_CPUS="2",
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
    )
    child = subprocess.Popen(
        [sys.executable, "-c", _CHILD, tp, ready, _SCHEMA, repr(child_batches)],
        cwd=root, env=env, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
    )
    try:
        own_batches = _batches(["m0", "m1"])
        frames = [
            spark.createDataFrame(
                [t for prod, lo, hi in batch for t in _tuples(lo, hi, prod)], _SCHEMA
            )
            for batch in own_batches
        ]
        deadline = time.monotonic() + 300
        while not os.path.exists(ready):
            assert child.poll() is None, child.stderr.read()[-3000:]
            assert time.monotonic() < deadline, "child session did not start"
            time.sleep(0.2)
        for f in frames:
            T.append(spark, f, tp, dedup=True)
        _, err = child.communicate(timeout=300)
        assert child.returncode == 0, err[-3000:]
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()

    sent = {
        (prod, i)
        for batch in child_batches + own_batches
        for prod, lo, hi in batch
        for i in range(lo, hi)
    }
    _check_log(spark, tp, len(sent))
    rows = T.read_topic(spark, tp).select("producer_name", "sequence_id").collect()
    assert {(r.producer_name, r.sequence_id) for r in rows} == sent
    assert T.read_manifest(tp)["producer_seq"] == {
        prod: max(i for q, i in sent if q == prod) for prod in ("c0", "c1", "m0", "m1")
    }
