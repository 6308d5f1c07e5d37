"""Subscription types (§2.J1): exclusive/failover resume, shared work-queue."""

from pyspark.sql import functions as F

from pulsar_3_2_codedump_spark import subscriptions as S
from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.envelope import wrap_events
from tests.conftest import SF_DIR


def _topic(spark, root, parts=4):
    tp = T.create_topic(root, "sub", n_partitions=parts)
    env = wrap_events(load(spark, SF_DIR, "events")).drop("partition", "offset")
    T.append(spark, env, tp)
    return tp


def test_shared_subscription_splits_disjoint_exhaustive(spark, tmp_root):
    tp = _topic(spark, tmp_root)
    consumers = S.shared(spark, tp, 2)
    counts = []
    for i, c in enumerate(consumers):
        q = (
            c.groupBy("partition").count()
            .writeStream.format("memory").queryName(f"sub{i}").outputMode("complete")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        rows = spark.sql(f"select * from sub{i}").collect()
        counts.append({r["partition"]: r["count"] for r in rows})
    # disjoint partitions, together exhaustive
    assert set(counts[0]) == {0, 2} and set(counts[1]) == {1, 3}
    assert sum(counts[0].values()) + sum(counts[1].values()) == 1000


def test_failover_resumes_from_same_checkpoint(spark, tmp_root):
    """Failover consumer = new query on the SAME checkpoint: it continues the
    cursor instead of re-reading (SubscriptionType.Failover)."""
    tp = _topic(spark, tmp_root)
    ck = tmp_root + "/sub_ck"
    seen: list = []

    def grab(batch, _bid):
        seen.extend(batch.collect())

    def consume_once():
        q = (
            S.exclusive(spark, tp)
            .writeStream.foreachBatch(grab)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    consume_once()  # original consumer reads everything, then "dies"
    assert len(seen) == 1000
    pos = S.subscription_position(ck)
    assert pos is not None  # durable cursor exists
    consume_once()  # failover consumer attaches to the same subscription
    assert len(seen) == 1000  # nothing re-delivered — cursor honored
    # new data published after failover is delivered to the new consumer
    extra = (
        wrap_events(load(spark, SF_DIR, "events"))
        .filter(F.col("sequence_id") < 50)
        .drop("partition", "offset")
        .withColumn("producer_name", F.lit("p2"))
    )
    T.append(spark, extra, tp)
    consume_once()
    assert len(seen) == 1050


def test_drain_available_now_loops_capped_batches_to_end(spark, tmp_root):
    """maxRecordsPerTrigger + availableNow single-batch fallback leaves
    backlog; drain_available_now loops rounds until the cursor reaches the
    end offsets — every message delivered exactly once, in >1 round."""
    tp = _topic(spark, tmp_root, parts=2)
    ck = tmp_root + "/drain_ck"
    seen: list = []

    def grab(batch, _bid):
        seen.extend(batch.collect())

    def start():
        return (
            spark.readStream.format("pulsarlike")
            .option("path", tp)
            .option("subscription", "drain-sub")  # durable broker-side cursor
            .option("maxRecordsPerTrigger", "150")
            .load()
            .writeStream.foreachBatch(grab)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    rounds = S.drain_available_now(start, ck, tp)
    assert rounds > 1  # flow control actually bit
    assert len(seen) == 1000
    assert len({(r["partition"], r["offset"]) for r in seen}) == 1000  # exactly once


def test_drain_available_now_three_growth_steps(spark, tmp_root):
    """§2.F7/J2 bounded catch-up (VERDICT r5 #2): the Python DataSource API
    admits ONE batch per availableNow run, so under maxRecordsPerTrigger a
    backlog needs the drain loop. Three growth steps; each drain resumes the
    SAME checkpoint/subscription and must reach the topic's current end
    offsets (the GET_LAST_MESSAGE_ID bounded-read contract,
    ServerCnx.java:2147) — total output = every row exactly once."""
    import os

    from pyspark.sql import functions as F

    from pulsar_3_2_codedump_spark import topic as T
    from pulsar_3_2_codedump_spark.catalog import load
    from pulsar_3_2_codedump_spark.envelope import wrap_events
    from tests.conftest import SF_DIR

    tp = T.create_topic(tmp_root, "drainme", n_partitions=4)
    ck = os.path.join(tmp_root, "drain_ck")
    env_all = wrap_events(load(spark, SF_DIR, "events")).drop("partition", "offset")

    def grow(lo, hi):
        T.append(spark, env_all.filter(F.col("sequence_id").between(lo, hi - 1)), tp)

    seen: list = []

    def start_query():
        src = (
            spark.readStream.format("pulsarlike")
            .option("path", tp)
            .option("subscription", "drain-sub")
            .option("maxRecordsPerTrigger", "60")
            .load()
        )
        return (
            src.select("producer_name", "sequence_id")
            .writeStream.foreachBatch(lambda b, _id: seen.extend(b.collect()))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    total_rounds = 0
    for step, (lo, hi) in enumerate([(0, 300), (300, 650), (650, 1000)]):
        grow(lo, hi)
        rounds = S.drain_available_now(start_query, ck, tp)
        total_rounds += rounds
        # cursor reached the end: a further run admits an empty batch at most
        ends = T.end_offsets(T.read_manifest(tp))
        pos = S.subscription_position(ck)
        assert all(int(pos.get(str(p), 0)) >= e for p, e in ends.items())
        # exactly-once so far: every appended row seen exactly once
        assert sorted((r[0], r[1]) for r in seen) == sorted(
            (r[0], r[1])
            for r in env_all.filter(F.col("sequence_id") < hi)
            .select("producer_name", "sequence_id")
            .collect()
        )
    # flow control actually paced the drain: 1000 rows / (60/trigger-partition
    # cap aggregated) must take multiple rounds per step
    assert total_rounds >= 3


def test_expire_inactive_subscriptions(tmp_root):
    import os
    import time

    from pulsar_3_2_codedump_spark import subscriptions as S

    os.makedirs(os.path.join(tmp_root, "subscriptions"))
    active = S.subscription_cursor_path(tmp_root, "active")
    idle = S.subscription_cursor_path(tmp_root, "idle")
    st = S.ack_individual(S.new_ack_state(), [(0, 0, 10)])
    S.save_ack_state(st, active)
    S.save_ack_state(st, idle)
    old = time.time() - 3600
    os.utime(idle, (old, old))  # idle for an hour

    expired = S.expire_inactive_subscriptions(tmp_root, max_idle_seconds=600)
    assert expired == ["idle"]
    assert not os.path.exists(idle)
    # the active cursor survives and still loads
    assert S.load_ack_state(active) == {0: st[0]}
    # idempotent second sweep
    assert S.expire_inactive_subscriptions(tmp_root, max_idle_seconds=600) == []


def test_cursor_path_stays_inside_subscriptions(tmp_root):
    # subscription names come from outside the program
    import os

    tp = os.path.join(tmp_root, "t")
    sub_dir = os.path.abspath(os.path.join(tp, "subscriptions"))
    for name in ("../x", "a/b", "../../etc/passwd", ".."):
        path = os.path.abspath(S.subscription_cursor_path(tp, name))
        assert os.path.dirname(path) == sub_dir, (name, path)


def test_concurrent_cursor_saves_never_tear(tmp_root):
    # two writers save one cursor while a third thread reads it: no save
    # fails and every read parses
    import os
    import sys
    import threading

    cursor = S.subscription_cursor_path(tmp_root, "busy")
    os.makedirs(os.path.dirname(cursor))
    errors: list[Exception] = []
    stop = threading.Event()

    def save(p):
        try:
            for n in range(1500):
                S.save_ack_state(S.ack_cumulative(S.new_ack_state(), p, n), cursor)
        except Exception as e:  # collected and asserted below
            errors.append(e)

    def read():
        while not stop.is_set():
            try:
                S.load_ack_state(cursor)
            except Exception as e:
                errors.append(e)

    threads = [threading.Thread(target=save, args=(p,)) for p in (0, 1)]
    reader = threading.Thread(target=read)
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        reader.start()
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        stop.set()
        reader.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads + [reader])
    assert errors == []
    assert list(S.load_ack_state(cursor).values())[0]["mark_delete"] == 1499


def test_idle_stream_cursor_expires_and_live_reader_recreates_it(tmp_root):
    # a stream's named cursor is an ordinary subscription: an idle one
    # expires, and the reader writes it again at its next latestOffset
    import os
    import time

    from pulsar_3_2_codedump_spark.sources.pulsarlike import PulsarLikeStreamReader

    tp = T.create_topic(tmp_root, "idle-stream", n_partitions=2)
    reader = PulsarLikeStreamReader({"path": tp, "subscription": "tail/1"})
    ends = reader.latestOffset()
    cursor = S.subscription_cursor_path(tp, "tail/1")
    old = time.time() - 3600
    os.utime(cursor, (old, old))
    assert reader.latestOffset() == ends  # a poll that moves nothing writes nothing

    assert S.expire_inactive_subscriptions(tp, max_idle_seconds=600) == ["tail_1"]
    assert not os.path.exists(cursor)
    assert reader.latestOffset() == ends
    assert S.read_position(cursor) == ends
    assert S.expire_inactive_subscriptions(tp, max_idle_seconds=600) == []


def test_stream_commit_closes_individually_acked_hole(tmp_root):
    # one cursor per name: the stream's cumulative ack reaches the range
    # acked individually above it, and the mark moves past that range
    from pulsar_3_2_codedump_spark.sources.pulsarlike import PulsarLikeStreamReader

    tp = T.create_topic(tmp_root, "holes", n_partitions=1)
    cursor = S.subscription_cursor_path(tp, "mixed")
    S.save_ack_state(S.ack_individual(S.new_ack_state(), [(0, 5, 9)]), cursor)
    PulsarLikeStreamReader({"path": tp, "subscription": "mixed"}).commit({"0": 5})
    state = S.load_ack_state(cursor)
    assert state[0]["mark_delete"] == 9 and state[0]["ranges"] == []
    assert S.acked_positions(tp) == {"mixed": {0: 10}}
