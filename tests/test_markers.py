"""§2.C3 marker filtering + the indexed seek-by-timestamp read path.

Reference: PulsarApi.proto:148 (MessageMetadata.marker_type),
PulsarMarkers.proto (MarkerType enum), and
AbstractBaseDispatcher.filterEntriesForConsumer — markers are log entries
(they occupy positions) but are never dispatched to consumers.
Seek: PersistentMessageFinder.java:57 / OpFindNewest.java — a timestamp seek
binary-searches ledger METADATA and opens only the boundary ledger.
"""

import datetime as dt

from pyspark.sql import functions as F

from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.envelope import (
    MARKER_REPL_SNAPSHOT,
    MARKER_TXN_COMMIT,
    wrap_events,
)
from pulsar_3_2_codedump_spark.sources import pulsarlike as PL
from tests.conftest import SF_DIR, drain


def _env(spark, limit=120):
    return (
        wrap_events(load(spark, SF_DIR, "events"))
        .filter(F.col("sequence_id") < limit)
        .drop("partition", "offset")
    )


def _topic_with_markers(spark, tmp_root, n_markers=6):
    tp = T.create_topic(tmp_root, "marked", n_partitions=2)
    data = _env(spark)
    T.append(spark, data, tp, dedup=False)
    markers = (
        data.limit(n_markers)
        .withColumn("marker_type", F.lit(MARKER_TXN_COMMIT))
        .withColumn("producer_name", F.lit("__txn_marker"))
    )
    T.append(spark, markers, tp, dedup=False)
    return tp, data.count(), n_markers


def test_read_topic_hides_markers(spark, tmp_root):
    tp, n_data, n_markers = _topic_with_markers(spark, tmp_root)
    assert T.read_topic(spark, tp).count() == n_data
    assert T.read_topic(spark, tp).filter(F.col("marker_type").isNotNull()).count() == 0
    # broker-internal view sees both; markers still occupy log positions
    full = T.read_topic(spark, tp, read_markers=True)
    assert full.count() == n_data + n_markers
    assert full.filter(F.col("marker_type") == MARKER_TXN_COMMIT).count() == n_markers


def test_pulsarlike_reader_hides_markers(spark, tmp_root):
    """The stream source hides markers unless ``readMarkers=true``."""
    tp, n_data, n_markers = _topic_with_markers(spark, tmp_root)
    df = drain(spark, tp)
    assert df.count() == n_data
    assert df.filter(F.col("marker_type").isNotNull()).count() == 0
    internal = drain(spark, tp, readMarkers="true")
    assert internal.count() == n_data + n_markers
    assert internal.filter(F.col("marker_type") == MARKER_TXN_COMMIT).count() == n_markers


def test_compaction_drops_markers(spark, tmp_root):
    tp, n_data, _ = _topic_with_markers(spark, tmp_root)
    T.compact_topic(spark, tp)
    snap = T.read_topic_compacted(spark, tp)
    assert snap.filter(F.col("marker_type").isNotNull()).count() == 0


def test_seek_by_timestamp_opens_only_boundary_segment(spark, tmp_root, monkeypatch):
    """The manifest min_pt/max_pt index must prune: a seek into a
    multi-segment partition opens exactly ONE data file (the boundary
    segment); a seek before all data opens ZERO."""
    tp = T.create_topic(tmp_root, "seek", n_partitions=1)
    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    # three appends → three segments with disjoint publish-time ranges
    for day in range(3):
        rows = [
            (str(i), base + dt.timedelta(days=day, minutes=i), f"p-{day}", i)
            for i in range(10)
        ]
        df = spark.createDataFrame(
            rows, "key string, publish_time timestamp, producer_name string, sequence_id long"
        ).withColumn("event_time", F.col("publish_time")).withColumn(
            "partition", F.lit(0)
        )
        T.append(spark, df, tp, dedup=False)
    manifest = T.read_manifest(tp)
    segs = manifest["segments"]["0"]
    assert len(segs) == 3 and all("min_pt" in s for s in segs)

    opened = []
    real_read = PL.pq.read_table

    def counting_read(path, *a, **kw):
        opened.append(path)
        return real_read(path, *a, **kw)

    monkeypatch.setattr(PL.pq, "read_table", counting_read)

    # target inside day-1's range → only the day-1 segment is opened
    ts_us = int((base + dt.timedelta(days=1, minutes=5)).timestamp() * 1e6)
    off = PL._seek_offset_for_timestamp(tp, "0", segs, ts_us)
    assert off == 15  # 10 rows of day 0 + 5 of day 1
    assert len(opened) == 1

    # target before everything → offset 0 with zero files opened
    opened.clear()
    ts_us = int((base - dt.timedelta(days=1)).timestamp() * 1e6)
    assert PL._seek_offset_for_timestamp(tp, "0", segs, ts_us) == 0
    assert opened == []

    # target after everything → end offset, zero files opened
    opened.clear()
    ts_us = int((base + dt.timedelta(days=9)).timestamp() * 1e6)
    assert PL._seek_offset_for_timestamp(tp, "0", segs, ts_us) == 30
    assert opened == []


def test_stream_reader_seek_uses_index(spark, tmp_root):
    """startingOffsets=timestamp:<iso> through the streaming source resolves
    per-partition offsets from the manifest index."""
    tp = T.create_topic(tmp_root, "seek2", n_partitions=1)
    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    rows = [(str(i), base + dt.timedelta(minutes=i), "p", i) for i in range(20)]
    df = spark.createDataFrame(
        rows, "key string, publish_time timestamp, producer_name string, sequence_id long"
    ).withColumn("event_time", F.col("publish_time")).withColumn("partition", F.lit(0))
    T.append(spark, df, tp, dedup=False)
    reader = PL.PulsarLikeStreamReader(
        {"path": tp, "startingoffsets": "timestamp:2024-03-01T00:07:00+00:00"}
    )
    assert reader.initialOffset() == {"0": 7}


def test_marker_injection_visible_only_with_flag(spark, tmp_root):
    tp = T.create_topic(tmp_root, "m2", n_partitions=1)
    data = _env(spark, 40).withColumn("partition", F.lit(0))
    T.append(spark, data, tp, dedup=False)
    snap_marker = (
        data.limit(1)
        .withColumn("marker_type", F.lit(MARKER_REPL_SNAPSHOT))
        .withColumn("producer_name", F.lit("__repl_snapshot"))
    )
    T.append(spark, snap_marker, tp, dedup=False)
    n = data.count()
    assert T.read_topic(spark, tp).count() == n
    ends = T.end_offsets(T.read_manifest(tp))
    assert ends[0] == n + 1  # the marker holds a log position


def test_repl_snapshot_cursor_translation(spark, tmp_root):
    """§2.L2 marker-based cursor sync (PulsarMarkers.proto:44-68,
    ReplicatedSubscriptionsController): the NEWEST snapshot at-or-before the
    markDeletePosition supplies the destination positions; snapshots are
    invisible to normal consumers."""
    from pulsar_3_2_codedump_spark import subscriptions as S

    src = T.create_topic(tmp_root, "src-cluster", n_partitions=2)
    dst = T.create_topic(tmp_root, "dst-cluster", n_partitions=2)
    batch1 = _env(spark, 40)
    T.append(spark, batch1, src, dedup=False)
    T.append(spark, batch1, dst, dedup=False)
    snap1 = S.write_repl_snapshot(spark, src, dst, "s1")

    batch2 = (
        wrap_events(load(spark, SF_DIR, "events"))
        .filter((F.col("sequence_id") >= 40) & (F.col("sequence_id") < 80))
        .drop("partition", "offset")
    )
    T.append(spark, batch2, src, dedup=False)
    T.append(spark, batch2, dst, dedup=False)
    snap2 = S.write_repl_snapshot(spark, src, dst, "s2")

    src_full_ends = {str(p): e for p, e in T.end_offsets(T.read_manifest(src)).items()}

    # cursor at snap1's positions → translates to snap1's dst map
    assert S.translate_cursor_by_snapshot(spark, src, snap1["src"]) == {
        p: int(e) for p, e in snap1["dst"].items()
    }
    # cursor at the full end → newest qualifying snapshot (snap2)
    assert S.translate_cursor_by_snapshot(spark, src, src_full_ends) == {
        p: int(e) for p, e in snap2["dst"].items()
    }
    # cursor before any snapshot → None (start at earliest, reference fallback)
    assert S.translate_cursor_by_snapshot(spark, src, {"0": 0, "1": 0}) is None
    # markers stay invisible to consumers, visible to the internal reader
    assert T.read_topic(spark, src).filter(F.col("marker_type").isNotNull()).count() == 0
    assert (
        T.read_topic(spark, src, read_markers=True)
        .filter(F.col("marker_type").isNotNull()).count() == 2
    )


def test_replicated_cursor_sync_audit_measures_coarse_gap(spark):
    """The registered L2 audit must exercise the real mechanism: the coarse
    translation picks snapshot s1 (s2's recorded positions exceed the
    cursor), so per dst partition snapshot_resume <= n_acked_exact with a
    strictly positive total redelivery gap (the events between s1 and the
    true cursor), and the exact path covers exactly the acked identities."""
    from pulsar_3_2_codedump_spark.operators.delivery import (
        REPL_SYNC_CUT,
        REPL_SYNC_GEN1,
        replicated_cursor_sync_audit,
    )

    rows = {r["partition"]: r for r in replicated_cursor_sync_audit(spark, SF_DIR).collect()}
    assert set(rows) == {0, 1, 2}
    ev = load(spark, SF_DIR, "events")
    by_part = {
        p: (
            ev.filter((F.col("event_id") < REPL_SYNC_CUT) & (F.col("user_id") % 3 == p)).count(),
            ev.filter((F.col("event_id") < REPL_SYNC_GEN1) & (F.col("user_id") % 3 == p)).count(),
        )
        for p in range(3)
    }
    for p, r in rows.items():
        exact, snap = by_part[p]
        assert (r["n_acked_exact"], r["snapshot_resume"]) == (exact, snap)
        assert r["redelivered"] == exact - snap >= 0
    assert sum(r["redelivered"] for r in rows.values()) > 0
