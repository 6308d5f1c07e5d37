"""One write path for a topic: ``topic.append``, the ``pulsarlike`` stream
sink and the batch writer all commit through ``topic._commit_segments``,
and every segment they leave is a directory of parquet files that store
``offset``. Faults are injected at the commit point: a commit that dies
after moving its segments but before the manifest replace must leave no
visible rows, and its retry must land each row exactly once."""

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
