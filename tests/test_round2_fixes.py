"""Round-2 regression tests for the r1 ADVICE findings:

1. stream-copy segments read through read_topic / merge_small_segments /
   compact_topic without NULL offsets or row loss,
2. offsets never regress after a full retention trim,
3. DLQ/retry appends survive producer-seq dedup across redelivery rounds.
"""

from pyspark.sql import functions as F

from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.envelope import wrap_events
from pulsar_3_2_codedump_spark.streaming.replicator import replicate
from tests.conftest import SF_DIR, drain


def _make_topic(spark, root, name="events", parts=4, limit=None):
    tp = T.create_topic(root, name, n_partitions=parts)
    env = wrap_events(load(spark, SF_DIR, "events")).drop("partition", "offset")
    if limit is not None:
        env = env.filter(F.col("sequence_id") < limit)
    T.append(spark, env, tp)
    return tp


def test_stream_sink_segments_survive_read_merge_compact(spark, tmp_root):
    """r1 ADVICE high (topic.py): stream-copy segments must read with dense,
    non-NULL offsets, and merge_small_segments must not silently drop their
    rows."""
    src = _make_topic(spark, tmp_root, "src", limit=500)
    dst = T.create_topic(tmp_root, "copy", n_partitions=4)
    # two copies of a growing source → ≥2 segments per partition
    replicate(spark, src, dst, "c1", tmp_root + "/ck1").awaitTermination(180)
    env = wrap_events(load(spark, SF_DIR, "events")).drop("partition", "offset")
    T.append(spark, env.filter(F.col("sequence_id") >= 500), src)
    replicate(spark, src, dst, "c1", tmp_root + "/ck1").awaitTermination(180)

    df = T.read_topic(spark, dst)
    assert df.count() == 1000
    assert df.filter(F.col("offset").isNull()).count() == 0
    for r in df.groupBy("partition").agg(
        F.max("offset").alias("hi"), F.count("*").alias("n")
    ).collect():
        assert r["hi"] == r["n"] - 1  # dense, stamped from segment base

    # the exact r1 data-loss path: merge small stream-copy segments
    eliminated = T.merge_small_segments(spark, dst, target_rows=10_000)
    assert eliminated >= 4  # ≥2 segments per partition were coalesced
    after = T.read_topic(spark, dst)
    assert after.count() == 1000  # no rows lost in the rewrite
    assert after.filter(F.col("offset").isNull()).count() == 0
    # the merged segments are also readable through the pulsarlike source
    assert drain(spark, dst).count() == 1000

    # compaction over stream-copy segments: latest-per-key is well-defined
    T.compact_topic(spark, dst)
    n_keys = T.read_topic(spark, dst).select("key").distinct().count()
    assert T.read_topic_compacted(spark, dst).count() == n_keys


def test_offsets_never_regress_after_full_trim(spark, tmp_root):
    """r1 ADVICE medium (topic.py end_offsets): trimming EVERY segment of a
    partition must not reset the high-water mark — appends continue past it
    (the reference never regresses positions after internalTrimLedgers)."""
    tp = T.create_topic(tmp_root, "trim", n_partitions=2)
    env = wrap_events(load(spark, SF_DIR, "events")).drop("partition", "offset")
    ends1 = T.append(spark, env.filter(F.col("sequence_id") < 500), tp)
    # retention trims ALL live segments
    T.trim_retention(spark, tp, {p: 10**12 for p in ends1})
    manifest = T.read_manifest(tp)
    assert all(len(s) == 0 for s in manifest["segments"].values())
    assert T.end_offsets(manifest) == ends1  # high-water mark survives

    ends2 = T.append(spark, env.filter(F.col("sequence_id") >= 500), tp)
    df = T.read_topic(spark, tp)
    for r in df.groupBy("partition").agg(F.min("offset").alias("lo")).collect():
        assert r["lo"] == ends1[r["partition"]]  # no offset reuse
    for p in ends1:
        assert ends2[p] > ends1[p]


def test_redelivery_chain_survives_dedup_to_dlq(spark, tmp_root):
    """r1 ADVICE medium (replicator.py): retried rows keep their original
    (producer_name, sequence_id); with dedup the second redelivery round was
    silently dropped and messages never reached the DLQ."""
    from pulsar_3_2_codedump_spark.streaming.replicator import process_with_dlq

    src = _make_topic(spark, tmp_root, "jobs", parts=2, limit=40)
    out = T.create_topic(tmp_root, "out", n_partitions=2)
    dlq = T.create_topic(tmp_root, "jobs-DLQ", n_partitions=2)
    retry = T.create_topic(tmp_root, "jobs-RETRY", n_partitions=2)
    always_fail = F.lit(True)

    # round 1: src → retry (rc=1)
    q = process_with_dlq(
        spark, src, out, dlq, retry,
        process=lambda df: df, is_failure=always_fail,
        max_redeliver=3, checkpoint=tmp_root + "/ck_r1",
    )
    q.awaitTermination(180)
    assert T.read_topic(spark, retry).count() == 40

    # round 2: reconsume retry → retry again (rc=2). Producer marks are
    # already set from round 1 — with dedup these appends vanished.
    q = process_with_dlq(
        spark, retry, out, dlq, retry,
        process=lambda df: df, is_failure=always_fail,
        max_redeliver=3, checkpoint=tmp_root + "/ck_r2",
    )
    q.awaitTermination(180)
    r = T.read_topic(spark, retry)
    assert r.count() == 80  # rc=1 copies + rc=2 copies
    assert r.filter(F.col("properties")["redelivery_count"] == "2").count() == 40

    # round 3: rc=2 rows exceed maxRedeliverCount → DLQ (rc=1 rows re-retry)
    q = process_with_dlq(
        spark, retry, out, dlq, retry,
        process=lambda df: df, is_failure=always_fail,
        max_redeliver=3, checkpoint=tmp_root + "/ck_r3",
    )
    q.awaitTermination(180)
    assert T.read_topic(spark, dlq).count() == 40  # messages dead-letter, not vanish
