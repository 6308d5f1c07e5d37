"""The pulsarlike stream source: reads, offsets, seek, cursors, and stream
copies through ``foreachBatch`` + ``topic.append`` (§2.A, §4)."""

import json

from pyspark.sql import functions as F

from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.envelope import wrap_events
from pulsar_3_2_codedump_spark.streaming.replicator import replicate
from tests.conftest import SF_DIR, drain


def _make_topic(spark, root, name="events", parts=4):
    tp = T.create_topic(root, name, n_partitions=parts)
    env = wrap_events(load(spark, SF_DIR, "events")).drop("partition", "offset")
    T.append(spark, env, tp)
    return tp


def test_batch_read_matches_topic(spark, tmp_root):
    """One availableNow run of the source delivers exactly the rows of the
    batch read."""
    tp = _make_topic(spark, tmp_root)
    df = drain(spark, tp)
    assert df.count() == 1000
    cols = ["partition", "offset", "key", "sequence_id"]
    assert sorted(df.select(cols).collect()) == sorted(T.read_topic(spark, tp).select(cols).collect())
    assert set(df.columns) >= {"key", "value", "partition", "offset", "publish_time"}
    # per-key ordering guarantee: within a partition offsets are unique+dense
    stats = df.groupBy("partition").agg(F.max("offset").alias("hi"), F.count("*").alias("n")).collect()
    for r in stats:
        assert r["hi"] == r["n"] - 1


def test_stream_read_available_now(spark, tmp_root):
    tp = _make_topic(spark, tmp_root)
    q = (
        spark.readStream.format("pulsarlike").option("path", tp).load()
        .groupBy("partition").count()
        .writeStream.format("memory").queryName("src_all").outputMode("complete")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r["partition"]: r["count"] for r in spark.sql("select * from src_all").collect()}
    assert sum(got.values()) == 1000


def test_stream_flow_control_bounded_read(spark, tmp_root):
    """maxRecordsPerTrigger = flow-control permits (§2.J2): one trigger
    advances each partition by at most the cap."""
    tp = _make_topic(spark, tmp_root)
    q = (
        spark.readStream.format("pulsarlike").option("path", tp)
        .option("maxRecordsPerTrigger", "50").load()
        .writeStream.format("memory").queryName("src_capped").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    n = spark.sql("select count(*) c from src_capped").collect()[0]["c"]
    assert n == 4 * 50  # 4 partitions × cap


def test_starting_offsets_latest_and_explicit(spark, tmp_root):
    tp = _make_topic(spark, tmp_root)
    ends = T.end_offsets(T.read_manifest(tp))
    # latest → nothing to read
    q = (
        spark.readStream.format("pulsarlike").option("path", tp)
        .option("startingOffsets", "latest").load()
        .writeStream.format("memory").queryName("src_latest").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert spark.sql("select count(*) c from src_latest").collect()[0]["c"] == 0
    # explicit offsets → exact suffix count
    start = {str(p): e - 5 for p, e in ends.items()}
    q2 = (
        spark.readStream.format("pulsarlike").option("path", tp)
        .option("startingOffsets", json.dumps(start)).load()
        .writeStream.format("memory").queryName("src_explicit").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    assert spark.sql("select count(*) c from src_explicit").collect()[0]["c"] == 20


def test_seek_by_timestamp_matches_predicate(spark, tmp_root):
    """startingOffsets=timestamp:<iso> ≙ filter(publish_time >= ts) (§2.F5)."""
    tp = _make_topic(spark, tmp_root)
    ts = "2024-01-15T00:00:00"
    q = (
        spark.readStream.format("pulsarlike").option("path", tp)
        .option("startingOffsets", f"timestamp:{ts}").load()
        .writeStream.format("memory").queryName("src_seek").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select count(*) c from src_seek").collect()[0]["c"]
    expected = (
        T.read_topic(spark, tp)
        .filter(F.col("publish_time") >= F.lit(ts).cast("timestamp")).count()
    )
    assert got == expected


def test_stream_sink_roundtrip_and_offsets(spark, tmp_root):
    """A stream copy (``replicate``: ``foreachBatch`` + ``append``) lands
    every row at dense offsets; a restart on the same checkpoint with no new
    data adds nothing."""
    src_tp = _make_topic(spark, tmp_root)
    dst_tp = T.create_topic(tmp_root, "copy", n_partitions=4)
    replicate(spark, src_tp, dst_tp, "c1", tmp_root + "/ck").awaitTermination(180)
    out = T.read_topic(spark, dst_tp)
    assert out.count() == 1000
    for r in out.groupBy("partition").agg(F.max("offset").alias("hi"), F.count("*").alias("n")).collect():
        assert r["hi"] == r["n"] - 1  # the commit assigned dense offsets
    replicate(spark, src_tp, dst_tp, "c1", tmp_root + "/ck").awaitTermination(180)
    assert T.read_topic(spark, dst_tp).count() == 1000


def test_multi_topic_streaming_union(spark, tmp_root):
    """A5 streaming form: one query consuming N topics via unionByName of
    sources (MultiTopicsConsumerImpl semantics), each with its own offsets."""
    env = wrap_events(load(spark, SF_DIR, "events")).drop("partition", "offset")
    tp_a = T.create_topic(tmp_root, "ta", n_partitions=2)
    tp_b = T.create_topic(tmp_root, "tb", n_partitions=2)
    T.append(spark, env.filter(F.col("sequence_id") < 400), tp_a)
    T.append(spark, env.filter(F.col("sequence_id") >= 400), tp_b)
    a = spark.readStream.format("pulsarlike").option("path", tp_a).load().withColumn("topic", F.lit("ta"))
    b = spark.readStream.format("pulsarlike").option("path", tp_b).load().withColumn("topic", F.lit("tb"))
    q = (
        a.unionByName(b).groupBy("topic").count()
        .writeStream.format("memory").queryName("mt").outputMode("complete")
        .option("checkpointLocation", tmp_root + "/ck_mt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {r["topic"]: r["count"] for r in spark.sql("select * from mt").collect()}
    assert got == {"ta": 400, "tb": 600}


def test_per_key_order_preserved_through_stream_copy(spark, tmp_root):
    """Key_Shared's core guarantee end-to-end (§2.B3): after a full
    stream-copy (``replicate``), each key's messages appear in the
    destination in the same relative order (by offset) as in the source."""
    src_tp = _make_topic(spark, tmp_root, parts=4)
    dst_tp = T.create_topic(tmp_root, "ordered-copy", n_partitions=4)
    replicate(spark, src_tp, dst_tp, "c1", tmp_root + "/ck_ord").awaitTermination(180)

    def key_sequences(tp):
        df = T.read_topic(spark, tp)
        rows = df.select("key", "partition", "offset", "sequence_id").collect()
        seqs = {}
        for r in sorted(rows, key=lambda r: (r["partition"], r["offset"])):
            seqs.setdefault(r["key"], []).append(r["sequence_id"])
        return seqs

    src_seqs = key_sequences(src_tp)
    dst_seqs = key_sequences(dst_tp)
    assert set(src_seqs) == set(dst_seqs)
    for k in src_seqs:
        assert src_seqs[k] == dst_seqs[k], f"per-key order broken for key {k}"


def test_named_cursor_not_rewritten_when_unchanged(spark, tmp_root):
    """Spark polls ``latestOffset`` after every empty trigger: a named
    subscription's cursor file is written only when its position moves."""
    import datetime as dt
    import os
    import time

    from pulsar_3_2_codedump_spark.sources.pulsarlike import PulsarLikeStreamReader
    from pulsar_3_2_codedump_spark.subscriptions import subscription_cursor_path

    schema = (
        "key string, value binary, publish_time timestamp, "
        "producer_name string, sequence_id long"
    )

    def batch(lo, hi):
        t0 = dt.datetime(2024, 5, 1)
        return spark.createDataFrame(
            [(str(i % 5), b"v", t0 + dt.timedelta(seconds=i), "p", i) for i in range(lo, hi)],
            schema,
        )

    tp = T.create_topic(tmp_root, "idle", n_partitions=2)
    T.append(spark, batch(0, 20), tp)
    reader = PulsarLikeStreamReader({"path": tp, "subscription": "sub/a"})
    cursor = subscription_cursor_path(tp, "sub/a")
    first = reader.latestOffset()
    st = os.stat(cursor)
    time.sleep(0.05)
    assert reader.latestOffset() == first
    again = os.stat(cursor)
    assert (again.st_mtime_ns, again.st_ino) == (st.st_mtime_ns, st.st_ino)

    T.append(spark, batch(20, 50), tp)
    ends = reader.latestOffset()
    assert sum(ends.values()) == 50
    with open(cursor) as f:
        assert {p: c["read"] for p, c in json.load(f).items()} == {
            p: int(e) for p, e in ends.items()
        }


def test_capped_reader_resumes_from_checkpoint_after_restart(spark, tmp_root):
    """A capped reader with no named subscription, restarted from its
    checkpoint, counts its cap from the checkpointed end: every run
    delivers new rows, within the cap, and no row twice."""
    import os

    tp = T.create_topic(tmp_root, "capped", n_partitions=2)
    env = wrap_events(load(spark, SF_DIR, "events")).drop("partition", "offset")
    T.append(spark, env.filter(F.col("sequence_id") < 400), tp)
    ck = os.path.join(tmp_root, "capped_ck")
    seen: list = []

    def run(cap):
        q = (
            spark.readStream.format("pulsarlike").option("path", tp)
            .option("maxRecordsPerTrigger", str(cap)).load()
            .select("partition", "offset")
            .writeStream.foreachBatch(lambda b, _id: seen.extend(map(tuple, b.collect())))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run(1000)
    assert len(seen) == 400
    T.append(spark, env.filter(F.col("sequence_id").between(400, 599)), tp)
    for _ in range(6):
        before = len(seen)
        run(50)
        assert 0 < len(seen) - before <= 2 * 50
        if len(seen) == 600:
            break
    assert len(seen) == len(set(seen)) == 600


def test_new_checkpoint_on_a_subscription_starts_within_the_cap(spark, tmp_root):
    """A subscription's read position does not set where a stream starts: a
    new checkpoint on a subscription that has planned the whole topic plans
    its first batch from ``initialOffset``, within maxRecordsPerTrigger."""
    from pulsar_3_2_codedump_spark.sources.pulsarlike import PulsarLikeStreamReader

    tp = _make_topic(spark, tmp_root, parts=2)
    PulsarLikeStreamReader({"path": tp, "subscription": "s"}).latestOffset()
    reader = PulsarLikeStreamReader(
        {"path": tp, "subscription": "s", "maxrecordspertrigger": "50"}
    )
    start = reader.initialOffset()
    end = reader.latestOffset()
    assert all(0 < end[p] - start[p] <= 50 for p in start)
