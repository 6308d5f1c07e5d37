"""Replicator, DLQ processing, late-data side output, readCompacted source
(§2.L1, §2.J5, §2.G6, §2.D3)."""

from pyspark.sql import functions as F

from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.envelope import wrap_events
from pulsar_3_2_codedump_spark.streaming.replicator import (
    process_with_dlq,
    replicate,
)
from tests.conftest import SF_DIR


def _topic(spark, root, name="src", limit=400, parts=2):
    tp = T.create_topic(root, name, n_partitions=parts)
    env = (
        wrap_events(load(spark, SF_DIR, "events"))
        .filter(F.col("sequence_id") < limit)
        .drop("partition", "offset")
    )
    T.append(spark, env, tp)
    return tp


def test_replicate_copies_once_with_loop_guard(spark, tmp_root):
    src = _topic(spark, tmp_root)
    dst = T.create_topic(tmp_root, "dst", n_partitions=2)
    q = replicate(spark, src, dst, "cluster-a", tmp_root + "/ck_rep")
    q.awaitTermination(180)
    out = T.read_topic(spark, dst)
    n_src = T.read_topic(spark, src).count()
    assert out.count() == n_src
    assert out.filter(F.col("replicated_from") != "cluster-a").count() == 0
    # replicating the REPLICA back (loop) copies nothing: all rows stamped
    back = T.create_topic(tmp_root, "back", n_partitions=2)
    q2 = replicate(spark, dst, back, "cluster-b", tmp_root + "/ck_rep2")
    q2.awaitTermination(180)
    assert T.read_topic(spark, back).count() == 0


def test_process_with_dlq_routes_by_redelivery(spark, tmp_root):
    src = _topic(spark, tmp_root)
    out = T.create_topic(tmp_root, "out", n_partitions=2)
    dlq = T.create_topic(tmp_root, "src-DLQ", n_partitions=2)
    retry = T.create_topic(tmp_root, "src-RETRY", n_partitions=2)
    fail_pred = F.col("properties")["event_type"] == "error"
    q = process_with_dlq(
        spark, src, out, dlq, retry,
        process=lambda df: df,
        is_failure=fail_pred,
        max_redeliver=1,  # first failure goes straight to DLQ
        checkpoint=tmp_root + "/ck_dlq",
    )
    q.awaitTermination(180)
    n_err = (
        wrap_events(load(spark, SF_DIR, "events"))
        .filter((F.col("sequence_id") < 400) & (F.col("properties")["event_type"] == "error"))
        .count()
    )
    assert T.read_topic(spark, dlq).count() == n_err
    assert T.read_topic(spark, retry).count() == 0
    assert T.read_topic(spark, out).count() == 400 - n_err


def test_retry_topic_carries_incremented_redelivery_count(spark, tmp_root):
    src = _topic(spark, tmp_root)
    out = T.create_topic(tmp_root, "out2", n_partitions=2)
    dlq = T.create_topic(tmp_root, "dlq2", n_partitions=2)
    retry = T.create_topic(tmp_root, "retry2", n_partitions=2)
    q = process_with_dlq(
        spark, src, out, dlq, retry,
        process=lambda df: df,
        is_failure=F.col("properties")["event_type"] == "error",
        max_redeliver=3,
        checkpoint=tmp_root + "/ck_dlq2",
    )
    q.awaitTermination(180)
    r = T.read_topic(spark, retry)
    assert r.count() > 0
    assert T.read_topic(spark, dlq).count() == 0  # rc 0+1 < 3 → all retried
    assert r.filter(F.col("properties")["redelivery_count"] != "1").count() == 0


def test_read_compacted_via_source(spark, tmp_root):
    tp = _topic(spark, tmp_root, limit=600)
    T.compact_topic(spark, tp)
    # tail after the horizon
    env = wrap_events(load(spark, SF_DIR, "events")).drop("partition", "offset")
    tail = env.filter(F.col("sequence_id").between(600, 699))
    T.append(spark, tail, tp)
    df = T.read_topic_compacted(spark, tp)
    n_keys = (
        wrap_events(load(spark, SF_DIR, "events"))
        .filter(F.col("sequence_id") < 600).select("key").distinct().count()
    )
    assert df.count() == n_keys + 100
    # non-compacted read still sees the full log
    full = T.read_topic(spark, tp)
    assert full.count() == 700


def test_reconsume_later_exponential_backoff(spark):
    """J4: each redelivery pushes deliver_at out exponentially (retry
    messages are delayed messages, RetryMessageUtil)."""
    from pulsar_3_2_codedump_spark.streaming.replicator import reconsume_later

    env = wrap_events(load(spark, SF_DIR, "events")).filter(F.col("sequence_id") < 10)
    r1 = reconsume_later(env)
    row1 = r1.select("publish_time", "deliver_at", "properties").first()
    assert (row1["deliver_at"] - row1["publish_time"]).total_seconds() == 2.0  # 2^1
    assert row1["properties"]["redelivery_count"] == "1"
    r2 = reconsume_later(r1)
    row2 = r2.select("publish_time", "deliver_at", "properties").first()
    assert (row2["deliver_at"] - row2["publish_time"]).total_seconds() == 4.0  # 2^2
    assert row2["properties"]["redelivery_count"] == "2"
    # backoff is capped
    capped = reconsume_later(
        env.withColumn("properties", F.create_map(F.lit("redelivery_count"), F.lit("30"))),
        max_backoff_seconds=600,
    ).first()
    assert (capped["deliver_at"] - capped["publish_time"]).total_seconds() == 600.0
