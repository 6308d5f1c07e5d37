"""Topic storage layer: append/offsets/dedup/read/trim (SURVEY §1, §2.E1, §2.F4)."""

import os

from pyspark.sql import functions as F

from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.envelope import wrap_events
from tests.conftest import SF_DIR, drain


def _env(spark):
    return wrap_events(load(spark, SF_DIR, "events")).drop("partition", "offset")


def test_append_assigns_contiguous_offsets(spark, tmp_root):
    tp = T.create_topic(tmp_root, "t1", n_partitions=4)
    T.append(spark, _env(spark), tp)
    df = T.read_topic(spark, tp)
    stats = df.groupBy("partition").agg(
        F.min("offset").alias("lo"), F.max("offset").alias("hi"), F.count("*").alias("n")
    ).collect()
    assert len(stats) == 4
    for r in stats:
        assert r["lo"] == 0
        assert r["hi"] == r["n"] - 1  # dense, no gaps


def test_append_is_deduped_by_producer_sequence(spark, tmp_root):
    tp = T.create_topic(tmp_root, "t2", n_partitions=2)
    env = _env(spark)
    first = T.append(spark, env, tp)
    second = T.append(spark, env, tp)  # full replay: zero new rows
    assert first == second
    assert T.read_topic(spark, tp).count() == env.count()


def test_second_append_continues_offsets(spark, tmp_root):
    tp = T.create_topic(tmp_root, "t3", n_partitions=2)
    env = _env(spark)
    a = env.filter(F.col("sequence_id") < 500)
    b = env.filter(F.col("sequence_id") >= 500)
    ends_a = T.append(spark, a, tp)
    ends_b = T.append(spark, b, tp)
    for p in ends_a:
        assert ends_b[p] >= ends_a[p]
    df = T.read_topic(spark, tp)
    assert df.count() == env.count()
    # still dense after two appends
    for r in df.groupBy("partition").agg(F.max("offset").alias("hi"), F.count("*").alias("n")).collect():
        assert r["hi"] == r["n"] - 1


def test_read_from_offset_and_bounded(spark, tmp_root):
    tp = T.create_topic(tmp_root, "t4", n_partitions=2)
    T.append(spark, _env(spark), tp)
    ends = T.end_offsets(T.read_manifest(tp))
    lo = {p: 10 for p in ends}
    df = T.read_topic(spark, tp, start_offsets=lo)
    assert df.agg(F.min("offset")).collect()[0][0] == 10
    bounded = T.read_topic(spark, tp, start_offsets=lo, end={p: 20 for p in ends})
    assert bounded.count() == 2 * 10


def test_retention_trim_drops_whole_segments(spark, tmp_root):
    tp = T.create_topic(tmp_root, "t5", n_partitions=2)
    env = _env(spark)
    T.append(spark, env.filter(F.col("sequence_id") < 500), tp)
    T.append(spark, env.filter(F.col("sequence_id") >= 500), tp)
    manifest = T.read_manifest(tp)
    first_seg_end = {
        int(p): segs[0]["start"] + segs[0]["count"] for p, segs in manifest["segments"].items()
    }
    dropped = T.trim_retention(spark, tp, first_seg_end)
    assert dropped == 2  # one per partition
    df = T.read_topic(spark, tp)
    for r in df.groupBy("partition").agg(F.min("offset").alias("lo")).collect():
        assert r["lo"] == first_seg_end[r["partition"]]
    # trimmed segment dirs physically gone
    m2 = T.read_manifest(tp)
    for p, segs in m2["segments"].items():
        names = {s["path"] for s in segs}
        on_disk = set(os.listdir(os.path.join(tp, f"partition={p}")))
        assert names <= on_disk


def test_compact_topic_then_compacted_read(spark, tmp_root):
    """D1+D3 at the storage layer: compaction rewrites the log to latest-per-
    key; readCompacted = snapshot ∪ tail appended after the horizon."""
    tp = T.create_topic(tmp_root, "t6", n_partitions=2)
    env = _env(spark)
    T.append(spark, env.filter(F.col("sequence_id") < 800), tp)
    horizon = T.compact_topic(spark, tp)
    assert set(horizon) == {0, 1}
    # snapshot holds exactly one row per key (no tombstone rule here)
    compacted = T.read_topic_compacted(spark, tp)
    keys_in_log = env.filter(F.col("sequence_id") < 800).select("key").distinct().count()
    assert compacted.count() == keys_in_log
    # a tail append after compaction shows up alongside the snapshot
    T.append(spark, env.filter(F.col("sequence_id") >= 800), tp)
    after = T.read_topic_compacted(spark, tp)
    tail_n = env.filter(F.col("sequence_id") >= 800).count()
    assert after.count() == keys_in_log + tail_n
    # each snapshot row is that key's max (partition, offset) ≤ horizon
    snap_max = compacted.groupBy("key").agg(F.max("offset").alias("o")).collect()
    full = T.read_topic(spark, tp, end=horizon)
    true_max = {r["key"]: r["o"] for r in full.groupBy("key").agg(F.max("offset").alias("o")).collect()}
    for r in snap_max:
        assert r["o"] <= true_max[r["key"]]


def test_pattern_topic_discovery_and_union(spark, tmp_root):
    """§2.A5: regex subscribe discovers matching topics; union carries a
    topic column."""
    env = _env(spark)
    for name in ("orders-a", "orders-b", "audit-log"):
        tp = T.create_topic(tmp_root, name, n_partitions=2)
        T.append(spark, env.filter(F.col("sequence_id") < 100), tp)
    assert [t.split("/")[-1] for t in T.discover_topics(tmp_root, r"orders-.*")] == [
        "orders-a", "orders-b",
    ]
    df = T.read_topics(spark, tmp_root, r"orders-.*")
    assert df.count() == 200
    assert {r["topic"] for r in df.select("topic").distinct().collect()} == {"orders-a", "orders-b"}


def test_merge_small_segments_preserves_data(spark, tmp_root):
    """Ledger-roll analogue: many small appended segments coalesce into few,
    bytes-identical data, offsets intact, old files gone after commit."""
    tp = T.create_topic(tmp_root, "t7", n_partitions=2)
    env = _env(spark)
    for i in range(5):  # 5 ascending appends → 5 segments per partition
        T.append(
            spark, env.filter(F.col("sequence_id").between(i * 200, i * 200 + 199)), tp
        )
    before = T.read_topic(spark, tp)
    before_rows = {(r["partition"], r["offset"], r["sequence_id"]) for r in before.collect()}
    m_before = T.read_manifest(tp)
    assert all(len(segs) == 5 for segs in m_before["segments"].values())

    eliminated = T.merge_small_segments(spark, tp, target_rows=10_000)
    assert eliminated == 8  # 5→1 per partition

    m_after = T.read_manifest(tp)
    assert all(len(segs) == 1 for segs in m_after["segments"].values())
    after = T.read_topic(spark, tp)
    after_rows = {(r["partition"], r["offset"], r["sequence_id"]) for r in after.collect()}
    assert after_rows == before_rows
    # streaming source still reads the merged topic correctly
    assert drain(spark, tp).count() == len(before_rows)
    # appends continue cleanly after a merge
    extra = env.limit(0)
    ends = T.end_offsets(m_after)
    assert T.append(spark, env.withColumn("producer_name", F.lit("p9")).limit(7), tp)


def test_topic_stats_metadata_only(spark, tmp_root):
    """Admin stats (PersistentTopicsBase.getStats analogue) come from the
    manifest + cursor files alone — counts, storage bytes, subscription
    backlog — with no data-file reads."""
    from pulsar_3_2_codedump_spark.catalog import load as _load
    from pulsar_3_2_codedump_spark.envelope import wrap_events as _wrap

    tp = T.create_topic(tmp_root, "stats", n_partitions=2)
    env = (
        _wrap(_load(spark, SF_DIR, "events"))
        .filter(F.col("sequence_id") < 60)
        .drop("partition", "offset")
    )
    T.append(spark, env, tp, dedup=False)
    st = T.topic_stats(tp)
    assert st["n_partitions"] == 2
    assert sum(p["msg_count"] for p in st["partitions"].values()) == 60
    assert all(p["storage_bytes"] > 0 for p in st["partitions"].values())
    ends = T.end_offsets(T.read_manifest(tp))
    assert {int(k): v["end_offset"] for k, v in st["partitions"].items()} == ends

    # a named durable cursor shows up with its backlog
    from pulsar_3_2_codedump_spark.sources import pulsarlike as PL

    reader = PL.PulsarLikeStreamReader({"path": tp, "subscription": "sub-a"})
    reader.commit({"0": 10, "1": 5})
    st2 = T.topic_stats(tp)
    assert st2["subscriptions"]["sub-a"]["backlog"] == sum(ends.values()) - 15


def test_concurrent_appends_serialize(spark, tmp_root):
    """Two writers appending at once must both land: the topic writer lock
    serializes the manifest read-modify-write (the reference serializes
    publishes through the owning broker). Without it, the loser's segments
    are orphaned from the listing."""
    from concurrent.futures import ThreadPoolExecutor

    from pulsar_3_2_codedump_spark.catalog import load as _load
    from pulsar_3_2_codedump_spark.envelope import wrap_events as _wrap

    tp = T.create_topic(tmp_root, "conc", n_partitions=2)
    env = _wrap(_load(spark, SF_DIR, "events")).drop("partition", "offset")
    slices = [
        env.filter((F.col("sequence_id") >= 50 * i) & (F.col("sequence_id") < 50 * (i + 1)))
        for i in range(4)
    ]
    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(lambda df: T.append(spark, df, tp, dedup=False), slices))
    assert T.read_topic(spark, tp).count() == 200
    assert T.read_topic(spark, tp).select("offset", "partition").distinct().count() == 200
    ends = T.end_offsets(T.read_manifest(tp))
    assert sum(ends.values()) == 200


def test_exclusive_producer_fencing(spark, tmp_root):
    import pytest

    from pulsar_3_2_codedump_spark import topic as T
    from pulsar_3_2_codedump_spark.envelope import wrap_events
    from pulsar_3_2_codedump_spark.catalog import load
    from tests.conftest import SF_DIR

    tp = T.create_topic(tmp_root, "excl", n_partitions=2)
    env = wrap_events(load(spark, SF_DIR, "events")).filter(
        F.col("sequence_id") < 50
    ).drop("partition", "offset")

    g1 = T.acquire_exclusive_producer(tp, "p1")
    T.append_exclusive(spark, env.filter(F.col("sequence_id") < 20), tp, g1)

    # second Exclusive producer is refused while p1 holds the grant
    with pytest.raises(T.ProducerFencedError):
        T.acquire_exclusive_producer(tp, "p2")

    # WaitForExclusive steals with a higher epoch -> p1 is fenced
    g2 = T.acquire_exclusive_producer(tp, "p2", wait_for_exclusive=True)
    assert g2["epoch"] == g1["epoch"] + 1
    with pytest.raises(T.ProducerFencedError):
        T.append_exclusive(spark, env, tp, g1)
    T.append_exclusive(
        spark, env.filter(F.col("sequence_id").between(20, 39)), tp, g2, dedup=False
    )

    # release frees the topic; a fresh producer can acquire
    T.release_exclusive_producer(tp, g2)
    g3 = T.acquire_exclusive_producer(tp, "p3")
    assert g3["epoch"] == g2["epoch"] + 1
    # only p1's first 20 + p2's 20 rows landed (p1's fenced write did not)
    assert T.read_topic(spark, tp).count() == 40


def test_topic_termination_seals_the_log(spark, tmp_root):
    # `pulsar-admin topics terminate` / PersistentTopic.terminate: publishes
    # rejected past the terminal position, consumers drain then observe
    # hasReachedEndOfTopic (Consumer.hasReachedEndOfTopic)
    import pytest

    tp = T.create_topic(tmp_root, "tterm", n_partitions=2)
    env = _env(spark).filter(F.col("sequence_id") < 300)
    T.append(spark, env, tp)

    assert not T.is_terminated(tp)
    assert not T.has_reached_end_of_topic(tp, {0: 10**9, 1: 10**9})

    term = T.terminate(tp)
    assert term == T.end_offsets(T.read_manifest(tp))
    assert T.is_terminated(tp)
    # terminate is idempotent and pins the ORIGINAL terminal position
    assert T.terminate(tp) == term

    late = _env(spark).filter(F.col("sequence_id").between(300, 399))
    with pytest.raises(T.TopicTerminatedError):
        T.append(spark, late, tp)
    # nothing landed
    assert T.end_offsets(T.read_manifest(tp)) == term

    # a consumer that drained every partition has reached end-of-topic;
    # a lagging one has not
    assert T.has_reached_end_of_topic(tp, term)
    lag = dict(term)
    lag[0] = max(term[0] - 1, 0)
    assert not T.has_reached_end_of_topic(tp, lag)

    # the sealed log remains fully readable
    assert T.read_topic(spark, tp).count() == env.count()


def test_gc_inactive_topics(spark, tmp_root):
    # PersistentTopic.checkGC / InactiveTopicPolicies: idle topics with no
    # durable subscriptions (or with all subscriptions caught up) are
    # deleted; active topics and backlogged ones survive
    import json
    import os
    import time

    from pulsar_3_2_codedump_spark.subscriptions import subscription_cursor_path

    env = _env(spark).filter(F.col("sequence_id") < 100)
    tp_idle = T.create_topic(tmp_root, "idle-no-subs", n_partitions=2)
    tp_subbed = T.create_topic(tmp_root, "idle-with-sub", n_partitions=2)
    tp_active = T.create_topic(tmp_root, "active", n_partitions=2)
    for tp in (tp_idle, tp_subbed, tp_active):
        T.append(spark, env, tp)

    # durable cursor on tp_subbed, mid-backlog
    cpath = subscription_cursor_path(tp_subbed, "sub-a")
    os.makedirs(os.path.dirname(cpath), exist_ok=True)
    with open(cpath, "w") as f:
        json.dump({"0": {"mark_delete": 3, "ranges": []}}, f)

    # age the idle topics' manifests; keep tp_active fresh
    old = time.time() - 3600
    for tp in (tp_idle, tp_subbed):
        os.utime(os.path.join(tp, "manifest.json"), (old, old))

    deleted = T.gc_inactive_topics(tmp_root, max_inactive_seconds=600)
    assert deleted == ["idle-no-subs"]
    assert not os.path.exists(tp_idle)
    assert os.path.exists(tp_subbed) and os.path.exists(tp_active)

    # caught-up mode: tp_subbed still has backlog -> survives; advance the
    # cursor to the end of every partition -> collected
    assert T.gc_inactive_topics(
        tmp_root, 600, mode="delete_when_subscriptions_caught_up"
    ) == []
    ends = T.end_offsets(T.read_manifest(tp_subbed))
    with open(cpath, "w") as f:
        json.dump({str(p): {"mark_delete": e - 1, "ranges": []} for p, e in ends.items()}, f)
    os.utime(os.path.join(tp_subbed, "manifest.json"), (old, old))
    assert T.gc_inactive_topics(
        tmp_root, 600, mode="delete_when_subscriptions_caught_up"
    ) == ["idle-with-sub"]
    assert not os.path.exists(tp_subbed)
    assert os.path.exists(tp_active)


def test_gc_sees_stream_source_subscriptions(spark, tmp_root):
    # the pulsarlike source keeps a named cursor under subscriptions/: a
    # topic whose only consumer is such a stream is subscribed, and is
    # caught up only once the stream's ack reaches the end
    import os
    import time

    from pulsar_3_2_codedump_spark.sources import pulsarlike as PL

    tp = T.create_topic(tmp_root, "stream-only", n_partitions=2)
    T.append(spark, _env(spark).filter(F.col("sequence_id") < 100), tp)
    ends = {str(p): e for p, e in T.end_offsets(T.read_manifest(tp)).items()}
    reader = PL.PulsarLikeStreamReader({"path": tp, "subscription": "tail/1"})
    assert reader.latestOffset() == ends  # read position only: nothing acked

    def aged_gc(mode):
        old = time.time() - 3600
        os.utime(os.path.join(tp, "manifest.json"), (old, old))
        return T.gc_inactive_topics(tmp_root, 600, mode=mode)

    assert aged_gc("delete_when_no_subscriptions") == []
    assert aged_gc("delete_when_subscriptions_caught_up") == []
    reader.commit({"0": ends["0"], "1": ends["1"] - 1})
    assert aged_gc("delete_when_subscriptions_caught_up") == []
    reader.commit(ends)
    assert aged_gc("delete_when_subscriptions_caught_up") == ["stream-only"]
    assert not os.path.exists(tp)


def test_topic_stats_sees_both_cursor_stores(spark, tmp_root):
    import os

    from pulsar_3_2_codedump_spark import subscriptions as S
    from pulsar_3_2_codedump_spark.sources import pulsarlike as PL

    tp = T.create_topic(tmp_root, "two-stores", n_partitions=2)
    T.append(spark, _env(spark).filter(F.col("sequence_id") < 60), tp)
    ends = T.end_offsets(T.read_manifest(tp))
    cpath = S.subscription_cursor_path(tp, "acks")
    os.makedirs(os.path.dirname(cpath), exist_ok=True)
    S.save_ack_state(S.ack_cumulative(S.new_ack_state(), 0, 9), cpath)
    PL.PulsarLikeStreamReader({"path": tp, "subscription": "stream"}).commit({"1": 4})
    subs = T.topic_stats(tp)["subscriptions"]
    assert subs["acks"] == {"position": {"0": 10}, "backlog": sum(ends.values()) - 10}
    assert subs["stream"] == {"position": {"1": 4}, "backlog": sum(ends.values()) - 4}
