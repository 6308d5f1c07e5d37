"""One write path for a topic: ``topic.append`` (and through it every
``foreachBatch`` stream writer and ``txn_commit``) commits through
``topic._commit_segments``, and every segment a writer or a merge leaves is
a directory of parquet files that store ``offset``. Faults are injected at
the commit point, raised in-process or by killing a writer process that
stages its rows with pyarrow alone: a commit that dies after moving its
segments but before the manifest replace must leave no visible rows, and
its retry must land each row exactly once. ``append`` itself is one plan
with one action, its dedup holds against the producer marks, and two
processes appending at once leave a dense log."""

import datetime as dt
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.envelope import ENVELOPE_SCHEMA
from pulsar_3_2_codedump_spark.sources import pulsarlike as PL
from pulsar_3_2_codedump_spark.streaming.replicator import _token, replicate
from tests.conftest import drain

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


# the rows a stage writes: the envelope minus offset (stamped at commit) and
# partition (the segment's directory)
_STAGE_SCHEMA = to_arrow_schema(
    StructType([f for f in ENVELOPE_SCHEMA.fields if f.name not in ("offset", "partition")])
)


def _stage(lo, hi, n_partitions, producer="p"):
    """A ``_commit_segments`` stage built with pyarrow alone, no Spark: row
    ``i`` goes to partition ``i % n_partitions``, each partition's rows in
    order at dense offsets from its end. It sets no producer marks."""
    rows = [dict(zip(_NAMES, t)) for t in _tuples(lo, hi, producer)]

    def stage(manifest, ends, stage_dir):
        parts = {}
        for p in range(n_partitions):
            tbl = pa.Table.from_pylist(rows[p::n_partitions], schema=_STAGE_SCHEMA)
            if not tbl.num_rows:
                continue
            offsets = np.arange(ends[p], ends[p] + tbl.num_rows, dtype=np.int64)
            os.makedirs(os.path.join(stage_dir, f"partition={p}"))
            pq.write_table(
                tbl.append_column("offset", pa.array(offsets)),
                os.path.join(stage_dir, f"partition={p}", "part-00000.parquet"),
            )
            pt = pc.min_max(tbl.column("publish_time").cast(pa.timestamp("us")))
            parts[p] = (tbl.num_rows, pt["min"].value, pt["max"].value)
        return parts, {}

    return stage


def _commit(tp, lo, hi, token=None):
    """Commit rows ``lo..hi`` under the writer lock, staged by ``_stage``."""
    n = T.read_manifest(tp)["n_partitions"]
    with T._topic_write_lock(tp):
        return T._commit_segments(tp, _stage(lo, hi, n), token)


def _check_log(spark, tp, n):
    """``n`` rows, markers included, each (producer, sequence) once, at
    dense offsets."""
    rows = T.read_topic(spark, tp, read_markers=True).select(
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


# A writer process that commits one batch (pyarrow-staged, no Spark
# session) and dies by os._exit at the named point of _commit_segments.
_KILL_CHILD = r"""
import os, shutil, sys
from tests.test_write_path import _commit

tp, lo, hi, batch, point = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]), sys.argv[5]
if point == "before_replace":  # the manifest's tmp file is written
    os.replace = lambda *a, **k: os._exit(17)
elif point == "before_cleanup":  # the manifest is replaced
    rmtree = shutil.rmtree
    def die_at_staging(path, *a, **k):
        if os.path.basename(path).startswith("_staging_"):
            os._exit(17)
        rmtree(path, *a, **k)
    shutil.rmtree = die_at_staging
_commit(tp, lo, hi, f"k:{batch}")
"""


def _commit_in_child(tp, lo, hi, batch, point="none"):
    """Run the writer process; it must exit 0, or 17 when it has a kill
    point."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
    )
    done = subprocess.run(
        [sys.executable, "-c", _KILL_CHILD, tp, str(lo), str(hi), str(batch), point],
        cwd=root, env=env, capture_output=True, text=True, timeout=120,
    )
    assert done.returncode == (0 if point == "none" else 17), done.stderr[-3000:]


@pytest.mark.parametrize("point", ["before_replace", "before_cleanup"])
def test_commit_killed_then_retried_lands_once(spark, tmp_root, point):
    """A writer killed inside the commit (not a raised fault: no finally
    block runs) before or after the manifest replace; the retry of its
    batch leaves a dense log with each row once, and no manifest entry
    points at the killed attempt's segments."""
    tp = T.create_topic(tmp_root, "k", n_partitions=2)
    _commit_in_child(tp, 0, 20, 0)
    _commit_in_child(tp, 20, 50, 1, point)
    committed = point == "before_cleanup"
    assert T.read_topic(spark, tp).count() == (50 if committed else 20)
    orphans = set(_unlisted_segments(tp))
    assert bool(orphans) != committed  # the killed attempt's moved segments
    left = os.listdir(tp)
    assert any(f.startswith("_staging_") for f in left)  # never cleaned
    # killed inside the manifest write: its temp file is there, unreplaced
    assert any(f.startswith(T.MANIFEST + ".tmp.") for f in left) != committed
    _commit_in_child(tp, 20, 50, 1)  # the retry
    _commit_in_child(tp, 20, 50, 1)  # a replay of it: no-op
    _check_log(spark, tp, 50)
    assert set(_unlisted_segments(tp)) == orphans  # retry made no new ones
    m = T.read_manifest(tp)
    listed = {T._seg_path(tp, p, s) for p, segs in m["segments"].items() for s in segs}
    assert all(os.path.isdir(path) for path in listed)
    assert not listed & orphans


def test_sink_topic_leaves_no_unlisted_segments(spark, tmp_root):
    """Merge, retention trim and offload delete the segments they drop."""
    tp = T.create_topic(tmp_root, "leak", n_partitions=2)
    for b in range(3):
        _commit(tp, 10 * b, 10 * b + 10, f"b{b}")
    assert T.merge_small_segments(spark, tp) == 4  # 3 segments -> 1, per partition
    assert _unlisted_segments(tp) == []

    merged_ends = T.end_offsets(T.read_manifest(tp))
    for b in range(3, 6):
        _commit(tp, 10 * b, 10 * b + 10, f"b{b}")
    assert T.trim_retention(spark, tp, merged_ends) == 2
    assert _unlisted_segments(tp) == []

    ends = T.end_offsets(T.read_manifest(tp))
    assert T.offload_segments(tp, os.path.join(tmp_root, "tier"), ends) == 6
    assert _unlisted_segments(tp) == []
    assert T.read_topic(spark, tp).count() == 30


def test_sink_replay_tokens_stay_bounded(spark, tmp_root):
    """A stream writer's micro-batch tokens go into one bounded list: the
    commit keeps the last 512."""
    tp = T.create_topic(tmp_root, "many", n_partitions=1)
    n = 520
    for b in range(n):
        _commit(tp, b, b + 1, f"q:{b}")
    m = T.read_manifest(tp)
    assert "committed_stream_batches" not in m
    toks = m["committed_batch_tokens"]
    assert len(toks) == 512 and toks[-1] == f"q:{n - 1}"
    _commit(tp, n - 1, n, f"q:{n - 1}")  # replay: no-op
    assert T.end_offsets(T.read_manifest(tp)) == {0: n}
    _check_log(spark, tp, n)


def test_two_sinks_on_one_topic_keep_their_own_replay_tokens(spark, tmp_root):
    """Two stream copies (``replicate``) into one topic, each with its own
    checkpoint: both land all their rows under tokens of their own, and a
    replayed batch of one of them (its checkpoint commit lost) is a
    no-op."""
    dst = T.create_topic(tmp_root, "dst", n_partitions=2)
    copies = {}
    for name, n in (("a", 100), ("b", 50)):
        src = T.create_topic(tmp_root, name, n_partitions=2)
        T.append(spark, _frame(spark, 0, n, name), src)
        copies[name] = (src, os.path.join(tmp_root, f"ck_{name}"))

    def copy(name):
        src, ck = copies[name]
        replicate(spark, src, dst, "c1", ck).awaitTermination(180)

    copy("a")
    copy("b")
    _check_log(spark, dst, 150)
    toks = T.read_manifest(dst)["committed_batch_tokens"]
    assert toks == [_token(copies[name][1], "repl", 0) for name in ("a", "b")]
    commits = os.path.join(copies["b"][1], "commits")
    for f in os.listdir(commits):
        os.remove(os.path.join(commits, f))
    copy("b")  # re-runs batch 0 from the offset log
    _check_log(spark, dst, 150)
    assert T.read_manifest(dst)["committed_batch_tokens"] == toks


def test_checkpoint_writer_id_ignores_the_spelling(tmp_root, monkeypatch):
    """One checkpoint under any spelling names one writer, so a batch
    replayed after a restart under another spelling is still a replay."""
    monkeypatch.chdir(tmp_root)
    ck = os.path.join(tmp_root, "ck")
    spellings = (ck, ck + "/", "ck", "./ck/", "file:" + ck, "file://" + ck)
    assert len({T.checkpoint_writer_id(s) for s in spellings}) == 1
    assert T.checkpoint_writer_id(ck) != T.checkpoint_writer_id(ck + "2")


def test_every_writer_leaves_one_segment_shape(spark, tmp_root):
    """``append``, a stream copy, a transaction's commit and a merge all
    leave segments of one shape, which the batch read and the stream source
    read alike."""
    src = T.create_topic(tmp_root, "src", n_partitions=2)
    T.append(spark, _frame(spark, 100, 160, "s"), src)
    tp = T.create_topic(tmp_root, "all", n_partitions=3)

    T.append(spark, _frame(spark, 0, 40, "a"), tp)
    replicate(spark, src, tp, "c1", os.path.join(tmp_root, "ck_copy")).awaitTermination(180)
    txn = T.txn_begin(tp)
    T.txn_append(spark, _frame(spark, 200, 230, "w"), tp, txn)
    T.txn_commit(spark, tp, txn)  # 30 rows and one commit marker
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
    _check_log(spark, tp, 141)

    def positions(df):
        return {(r.partition, r.offset) for r in df.select("partition", "offset").collect()}

    via_topic = positions(T.read_topic(spark, tp))
    assert len(via_topic) == 140
    assert positions(drain(spark, tp)) == via_topic
    assert positions(drain(spark, tp, readMarkers="true")) == positions(
        T.read_topic(spark, tp, read_markers=True)
    )


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
