"""Tiered-storage offload (§2.A11 — `pulsar-admin topics offload`,
ManagedLedgerImpl offload path) and shadow topics (PIP-180,
PersistentTopic.java:332-335, ShadowManagedLedgerImpl)."""

import os

import pytest
from pyspark.sql import functions as F

from pulsar_3_2_codedump_spark import subscriptions as S, topic as TP
from pulsar_3_2_codedump_spark.sources.pulsarlike import PulsarLikeStreamReader
from tests.conftest import drain


def _envelope_rows(spark, lo, hi):
    rows = [
        (str(i), f"payload-{i}".encode(), {}, None, None, "producer-0", i, None, None, None)
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows,
        "key string, value binary, properties map<string,string>, "
        "event_time timestamp, publish_time timestamp, producer_name string, "
        "sequence_id long, deliver_at timestamp, marker_type int, "
        "replicated_from string",
    )


def _collect_keys(df):
    return {r["key"] for r in df.collect()}


def test_offload_reads_stay_transparent_and_are_idempotent(spark, tmp_path):
    tp = TP.create_topic(str(tmp_path / "topics"), "cold", n_partitions=2)
    TP.append(spark, _envelope_rows(spark, 0, 40), tp)    # segment 1
    TP.append(spark, _envelope_rows(spark, 40, 60), tp)   # segment 2
    before = _collect_keys(TP.read_topic(spark, tp))
    assert before == {str(i) for i in range(60)}

    # offload every segment wholly below offset 15 per partition (the first
    # append wrote ~20 rows per partition → exactly the older segments)
    off_root = str(tmp_path / "tier")
    ends_after_first = {0: 15, 1: 15}
    n = TP.offload_segments(tp, off_root, ends_after_first)
    assert n == 0  # first segments span past 15 — nothing fully below

    ends = TP.end_offsets(TP.read_manifest(tp))
    n = TP.offload_segments(tp, off_root, {p: e for p, e in ends.items()})
    assert n > 0
    # idempotent: a second pass offloads nothing
    assert TP.offload_segments(tp, off_root, {p: e for p, e in ends.items()}) == 0

    manifest = TP.read_manifest(tp)
    offloaded = [
        s for segs in manifest["segments"].values() for s in segs if s.get("offload_path")
    ]
    assert len(offloaded) == n
    for s in offloaded:
        assert os.path.exists(s["offload_path"])          # tiered copy live
    # local copies are gone
    for p, segs in manifest["segments"].items():
        for s in segs:
            if s.get("offload_path"):
                assert not os.path.exists(
                    os.path.join(tp, f"partition={p}", s["path"])
                )

    # the batch read and the stream source both resolve the tiered
    # location transparently
    assert _collect_keys(TP.read_topic(spark, tp)) == before
    assert _collect_keys(drain(spark, tp)) == before

    # appends continue normally after offload (new local segments)
    TP.append(spark, _envelope_rows(spark, 60, 70), tp)
    assert _collect_keys(TP.read_topic(spark, tp)) == {str(i) for i in range(70)}

    # stats count tiered bytes; retention trims from the tiered base
    stats = TP.topic_stats(tp)
    assert all(v["storage_bytes"] > 0 for v in stats["partitions"].values()) \
        if "partitions" in stats else True
    new_ends = TP.end_offsets(TP.read_manifest(tp))
    dropped = TP.trim_retention(spark, tp, {p: e for p, e in new_ends.items()})
    assert dropped > 0
    for s in offloaded:
        assert not os.path.exists(s["offload_path"])      # tiered copy trimmed


def test_merge_small_segments_leaves_offloaded_tier_untouched(spark, tmp_path):
    tp = TP.create_topic(str(tmp_path / "topics"), "merge", n_partitions=1)
    for lo in range(0, 30, 10):
        TP.append(spark, _envelope_rows(spark, lo, lo + 10), tp)
    ends = TP.end_offsets(TP.read_manifest(tp))
    # offload only the FIRST segment
    first_end = TP.read_manifest(tp)["segments"]["0"][0]
    TP.offload_segments(
        tp, str(tmp_path / "tier"), {0: first_end["start"] + first_end["count"]}
    )
    before = _collect_keys(TP.read_topic(spark, tp))
    eliminated = TP.merge_small_segments(spark, tp, target_rows=10_000)
    manifest = TP.read_manifest(tp)
    segs = manifest["segments"]["0"]
    # the offloaded segment survived as-is; the local ones merged
    assert any(s.get("offload_path") for s in segs)
    assert eliminated >= 1
    assert _collect_keys(TP.read_topic(spark, tp)) == before
    assert TP.end_offsets(manifest) == ends


def test_shadow_topic_follows_source_and_rejects_produce(spark, tmp_path):
    root = str(tmp_path / "topics")
    src = TP.create_topic(root, "src", n_partitions=2)
    TP.append(spark, _envelope_rows(spark, 0, 20), src)
    shadow = TP.create_shadow_topic(root, "src-shadow", src)

    # reads through the shadow see the source's ledgers
    assert _collect_keys(TP.read_topic(spark, shadow)) == {str(i) for i in range(20)}

    # ...and FOLLOW source growth (every scan re-reads the source manifest)
    TP.append(spark, _envelope_rows(spark, 20, 30), src)
    assert _collect_keys(TP.read_topic(spark, shadow)) == {str(i) for i in range(30)}

    # the stream source reads shadows too (its own checkpoints = its own
    # subscriptions; only the data path re-points)
    assert _collect_keys(drain(spark, shadow)) == {str(i) for i in range(30)}

    # produce is rejected
    with pytest.raises(TP.ShadowTopicError):
        TP.append(spark, _envelope_rows(spark, 90, 91), shadow)
    # offload owns no ledgers either
    with pytest.raises(TP.ShadowTopicError):
        TP.offload_segments(shadow, str(tmp_path / "tier"), {0: 10})

    # the source is untouched by all of the above
    assert _collect_keys(TP.read_topic(spark, src)) == {str(i) for i in range(30)}


def test_exclusive_producer_cannot_publish_to_shadow(spark, tmp_path):
    # the shadow check sits in the one commit function, so an exclusive
    # grant on a shadow does not open a second way in
    root = str(tmp_path / "topics")
    src = TP.create_topic(root, "src", n_partitions=2)
    shadow = TP.create_shadow_topic(root, "src-shadow", src)
    grant = TP.acquire_exclusive_producer(shadow, "p1")
    with pytest.raises(TP.ShadowTopicError):
        TP.append_exclusive(spark, _envelope_rows(spark, 0, 5), shadow, grant)
    assert TP.end_offsets(TP.read_manifest(src)) == {0: 0, 1: 0}


def test_shadow_compacted_read_is_the_sources(spark, tmp_path):
    """A compacted read through a shadow reads its source's snapshot and
    horizon, not the raw log."""
    root = str(tmp_path / "topics")
    src = TP.create_topic(root, "src", n_partitions=2)
    TP.append(spark, _envelope_rows(spark, 0, 40).withColumn(
        "key", (F.col("sequence_id") % 5).cast("string")), src)
    TP.compact_topic(spark, src)
    TP.append(spark, _envelope_rows(spark, 40, 43), src)  # tail past the horizon
    shadow = TP.create_shadow_topic(root, "src-shadow", src)

    def rows(tp):
        return sorted(
            TP.read_topic_compacted(spark, tp).select("partition", "offset", "key").collect()
        )

    assert len(rows(src)) == 5 + 3
    assert rows(shadow) == rows(src)


def test_shadow_subscription_cursor_stays_with_the_shadow(spark, tmp_path):
    """A named subscription on a shadow keeps its cursor under the shadow:
    the source's subscriptions are untouched, and the shadow's stats list
    it with its backlog."""
    root = str(tmp_path / "topics")
    src = TP.create_topic(root, "src", n_partitions=2)
    TP.append(spark, _envelope_rows(spark, 0, 20), src)
    shadow = TP.create_shadow_topic(root, "src-shadow", src)

    reader = PulsarLikeStreamReader({"path": shadow, "subscription": "s"})
    end = reader.latestOffset()
    reader.commit({p: e - 2 for p, e in end.items()})
    assert os.path.isfile(S.subscription_cursor_path(shadow, "s"))
    assert S.acked_positions(src) == {}
    stats = TP.topic_stats(shadow)
    assert stats["name"] == "src-shadow"
    assert stats["subscriptions"]["s"]["backlog"] == 2 * len(end)
