"""Exactly-once side outputs under micro-batch replay (VERDICT r2 item 4).

foreachBatch is at-least-once: a crash after ``topic.append`` but before the
streaming checkpoint commit replays the batch. ``batch_token`` recorded in
the destination manifest's atomic commit (TopicTransactionBuffer.java:258
all-or-nothing analogue) makes the replayed append a no-op.

The crash is simulated faithfully: run a query to completion, delete the
last ``commits/<N>`` checkpoint file (Spark now believes batch N never
committed), restart — Spark replays batch N with the same batch id and the
same offset range.
"""

import os

from pyspark.sql import functions as F

from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.envelope import wrap_events
from pulsar_3_2_codedump_spark.streaming.replicator import (
    process_with_dlq,
    windowed_with_late_side_output,
)
from tests.conftest import SF_DIR


def _env(spark, limit=400):
    return (
        wrap_events(load(spark, SF_DIR, "events"))
        .filter(F.col("sequence_id") < limit)
        .drop("partition", "offset")
    )


def _topic(spark, root, name="src", limit=400, parts=2):
    tp = T.create_topic(root, name, n_partitions=parts)
    T.append(spark, _env(spark, limit), tp)
    return tp


def _delete_last_commit(checkpoint: str) -> None:
    cdir = os.path.join(checkpoint, "commits")
    files = sorted(f for f in os.listdir(cdir) if not f.startswith("."))
    assert files, "no committed batches to crash"
    os.remove(os.path.join(cdir, files[-1]))
    crc = os.path.join(cdir, f".{files[-1]}.crc")  # ChecksumFileSystem sidecar
    if os.path.exists(crc):
        os.remove(crc)


def test_append_batch_token_idempotent(spark, tmp_root):
    tp = T.create_topic(tmp_root, "t", n_partitions=2)
    env = _env(spark, 50)
    ends1 = T.append(spark, env, tp, dedup=False, batch_token="ck:b0")
    n1 = T.read_topic(spark, tp).count()
    # replayed append: same token → no-op, same ends
    ends2 = T.append(spark, env, tp, dedup=False, batch_token="ck:b0")
    assert ends2 == ends1
    assert T.read_topic(spark, tp).count() == n1 == 50
    # a different token is a genuine new batch
    T.append(spark, env, tp, dedup=False, batch_token="ck:b1")
    assert T.read_topic(spark, tp).count() == 2 * n1


def test_dlq_replay_after_crash_no_duplicates(spark, tmp_root):
    src = _topic(spark, tmp_root)
    out = T.create_topic(tmp_root, "out", n_partitions=2)
    dlq = T.create_topic(tmp_root, "src-DLQ", n_partitions=2)
    retry = T.create_topic(tmp_root, "src-RETRY", n_partitions=2)
    ck = tmp_root + "/ck"

    def run():
        q = process_with_dlq(
            spark, src, out, dlq, retry,
            process=lambda df: df,
            is_failure=F.col("properties")["event_type"] == "error",
            max_redeliver=1,
            checkpoint=ck,
        )
        q.awaitTermination(180)

    run()
    n_out, n_dlq = T.read_topic(spark, out).count(), T.read_topic(spark, dlq).count()
    assert n_out > 0 and n_dlq > 0
    # crash between the appends and the checkpoint commit → replay batch
    _delete_last_commit(ck)
    run()
    assert T.read_topic(spark, out).count() == n_out
    assert T.read_topic(spark, dlq).count() == n_dlq
    assert T.read_topic(spark, retry).count() == 0


def test_windowed_agg_replay_after_crash_no_duplicates(spark, tmp_root):
    src = _topic(spark, tmp_root, limit=300)
    agg_t = T.create_topic(tmp_root, "agg", n_partitions=2)
    late_t = T.create_topic(tmp_root, "late", n_partitions=2)
    ck = tmp_root + "/ck_w"

    def run():
        q = windowed_with_late_side_output(
            spark, src, agg_t, late_t,
            window_duration="1 hour",
            watermark_lag="10 minutes",
            checkpoint=ck,
        )
        q.awaitTermination(180)

    run()
    first = T.read_topic(spark, agg_t)
    n_agg = first.count()
    seqs = {(r["key"], r["sequence_id"]) for r in first.select("key", "sequence_id").collect()}
    assert n_agg > 0
    _delete_last_commit(ck)
    run()
    replay = T.read_topic(spark, agg_t)
    assert replay.count() == n_agg
    # sequence ids are deterministic across the replay (xxhash64 of the
    # window identity, not monotonically_increasing_id)
    seqs2 = {(r["key"], r["sequence_id"]) for r in replay.select("key", "sequence_id").collect()}
    assert seqs2 == seqs
