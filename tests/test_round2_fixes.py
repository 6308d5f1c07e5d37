"""Round-2 regression tests for the r1 ADVICE findings:

1. stream-sink segments read through read_topic / merge_small_segments /
   compact_topic without NULL offsets or row loss,
2. readCompacted + pushed offset/partition filters applied to the snapshot,
3. offsets never regress after a full retention trim,
4. DLQ/retry appends survive producer-seq dedup across redelivery rounds,
5. Python-side stream-sink routing is bit-identical to the batch router.
"""

import json

from pyspark.sql import functions as F

from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.envelope import wrap_events
from tests.conftest import SF_DIR


def _make_topic(spark, root, name="events", parts=4, limit=None):
    tp = T.create_topic(root, name, n_partitions=parts)
    env = wrap_events(load(spark, SF_DIR, "events")).drop("partition", "offset")
    if limit is not None:
        env = env.filter(F.col("sequence_id") < limit)
    T.append(spark, env, tp)
    return tp


def _stream_copy(spark, src_tp, dst_tp, ck, cap=None):
    reader = spark.readStream.format("pulsarlike").option("path", src_tp)
    if cap:
        reader = reader.option("maxRecordsPerTrigger", str(cap))
    q = (
        reader.load()
        .writeStream.format("pulsarlike")
        .option("path", dst_tp)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_stream_sink_segments_survive_read_merge_compact(spark, tmp_root):
    """r1 ADVICE high (topic.py): stream-sink segments must read with dense,
    non-NULL offsets, and merge_small_segments must not silently drop their
    rows."""
    src = _make_topic(spark, tmp_root, "src")
    dst = T.create_topic(tmp_root, "copy", n_partitions=4)
    # two bounded drains → ≥2 stream-sink segments per partition
    _stream_copy(spark, src, dst, tmp_root + "/ck1", cap=150)
    _stream_copy(spark, src, dst, tmp_root + "/ck1", cap=1000)

    df = T.read_topic(spark, dst)
    assert df.count() == 1000
    assert df.filter(F.col("offset").isNull()).count() == 0
    for r in df.groupBy("partition").agg(
        F.max("offset").alias("hi"), F.count("*").alias("n")
    ).collect():
        assert r["hi"] == r["n"] - 1  # dense, stamped from segment base

    # the exact r1 data-loss path: merge small stream-sink segments
    eliminated = T.merge_small_segments(spark, dst, target_rows=10_000)
    assert eliminated >= 4  # ≥2 segments per partition were coalesced
    after = T.read_topic(spark, dst)
    assert after.count() == 1000  # no rows lost in the rewrite
    assert after.filter(F.col("offset").isNull()).count() == 0
    # the merged segments are also readable through the pulsarlike source
    assert spark.read.format("pulsarlike").option("path", dst).load().count() == 1000

    # compaction over stream-sink segments: latest-per-key is well-defined
    T.compact_topic(spark, dst)
    n_keys = T.read_topic(spark, dst).select("key").distinct().count()
    assert T.read_topic_compacted(spark, dst).count() == n_keys


def test_read_compacted_applies_pushed_filters(spark, tmp_root):
    """r1 ADVICE high (pulsarlike.py): pushed offset/partition filters must
    also apply to the compacted snapshot, not only the tail ranges."""
    tp = _make_topic(spark, tmp_root, "ct")
    T.compact_topic(spark, tp)
    # tail past the horizon so both snapshot and tail partitions exist
    env = wrap_events(load(spark, SF_DIR, "events")).drop("partition", "offset")
    T.append(spark, env.limit(0), tp)  # no-op append keeps manifest fresh

    compacted = spark.read.format("pulsarlike").option("path", tp).option(
        "readCompacted", "true"
    )
    oracle = T.read_topic_compacted(spark, tp)

    got_p = compacted.load().filter(F.col("partition") == 2)
    want_p = oracle.filter(F.col("partition") == 2).count()
    assert got_p.count() == want_p
    assert got_p.filter(F.col("partition") != 2).count() == 0

    got_off = compacted.load().filter(F.col("offset") >= 100).count()
    want_off = oracle.filter(F.col("offset") >= 100).count()
    assert got_off == want_off

    got_both = compacted.load().filter(
        (F.col("partition") == 2) & (F.col("offset") < 50)
    ).count()
    want_both = oracle.filter((F.col("partition") == 2) & (F.col("offset") < 50)).count()
    assert got_both == want_both


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


def test_python_router_matches_spark_xxhash64(spark):
    """r1 ADVICE medium (pulsarlike.py sink): keyless routing must be
    deterministic and bit-identical to the batch path's pmod(xxhash64(key), N)."""
    from pulsar_3_2_codedump_spark.hashing import route_partition, xxhash64_signed

    keys = [
        "", "a", "user-42", "0", "ключ", "日本語のキー", "x" * 7, "y" * 8,
        "z" * 31, "w" * 32, "long-key-" + "abc" * 50, "\x00\x01", "🙂emoji",
    ]
    df = spark.createDataFrame([(k,) for k in keys], "key string").select(
        "key",
        F.xxhash64(F.col("key")).alias("h"),
        F.pmod(F.xxhash64(F.col("key")), F.lit(8)).cast("int").alias("p"),
    )
    for row in df.collect():
        assert xxhash64_signed(row["key"].encode("utf-8")) == row["h"], row["key"]
        assert route_partition(row["key"], 8) == row["p"], row["key"]
    # NULL key: Spark hash expressions return the seed for null input
    null_p = spark.createDataFrame([(None,)], "key string").select(
        F.pmod(F.xxhash64(F.col("key")), F.lit(8)).cast("int").alias("p")
    ).collect()[0]["p"]
    assert route_partition(None, 8) == null_p
