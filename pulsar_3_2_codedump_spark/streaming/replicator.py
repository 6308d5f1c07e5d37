"""Replication, DLQ routing, and late-data side outputs as streaming copy
queries (SURVEY §2.L1, §2.J5, §2.G6 — §7 M7/M8).

Reference:
  - Geo-replicator: tails the local topic, re-publishes to the remote
    cluster, stamping origin; ``replicated_from`` breaks replication loops
    (pulsar-broker/.../persistent/PersistentReplicator.java:69,227,291,
    GeoPersistentReplicator.java).
  - DLQ/retry: consumer redelivery beyond DeadLetterPolicy.maxRedeliverCount
    routes to ``<topic>-DLQ``; reconsumeLater → ``<topic>-RETRY`` with delay
    (DeadLetterPolicy.java:44-62, RetryMessageUtil.java:31-33).
  - Late data: windowed functions route events older than the watermark to
    ``lateDataTopic`` (WindowConfig.java:41-47).

Spark re-expression: all three are ``foreachBatch`` multi-sink writes — one
micro-batch dataframe split by a predicate, each side appended atomically to
its destination topic. foreachBatch is the supported multi-output pattern
(no native side outputs in Structured Streaming) but is only AT-LEAST-once:
a crash after an append and before the streaming checkpoint commit replays
the whole micro-batch. Every append here therefore carries a
``batch_token`` = hash(checkpoint) + batch id, recorded inside the
destination topic's atomic manifest commit (topic.append) — the replayed
append is a no-op, restoring exactly-once per destination
(TopicTransactionBuffer.java:258 all-or-nothing analogue).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from pulsar_3_2_codedump_spark import topic as T


def _token(checkpoint: str, tag: str, batch_id: int) -> str:
    """Replay-stable idempotency token for one logical foreachBatch write:
    same (checkpoint, tag, batch id) → same token, so a replayed batch after
    a crash-before-checkpoint-commit is skipped by topic.append."""
    return f"{T.checkpoint_writer_id(checkpoint)}:{tag}:{batch_id}"


def replicate(
    spark: SparkSession,
    src_topic: str,
    dst_topic: str,
    cluster_name: str,
    checkpoint: str,
):
    """Streaming copy query topicA→topicA' with the loop guard
    (PersistentReplicator.java:227: skip messages already replicated)."""
    src = spark.readStream.format("pulsarlike").option("path", src_topic).load()

    def copy_batch(batch: DataFrame, batch_id: int) -> None:
        out = (
            batch.filter(F.col("replicated_from").isNull())
            .withColumn("replicated_from", F.lit(cluster_name))
            .drop("offset")  # destination assigns its own offsets
        )
        T.append(
            batch.sparkSession, out, dst_topic,
            batch_token=_token(checkpoint, "repl", batch_id),
        )

    writer = src.writeStream.foreachBatch(copy_batch).option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def process_with_dlq(
    spark: SparkSession,
    src_topic: str,
    out_topic: str,
    dlq_topic: str,
    retry_topic: str,
    process: Callable[[DataFrame], DataFrame],
    is_failure,
    max_redeliver: int,
    checkpoint: str,
):
    """Consume → process; failing rows re-publish to -RETRY with
    redelivery_count+1 until maxRedeliverCount, then land in -DLQ
    (DeadLetterPolicy semantics). Successes go to the output topic.

    ``is_failure`` is a Column predicate over the envelope (deterministic
    stand-in for a processing exception). redelivery_count rides in
    properties['redelivery_count'] like RetryMessageUtil's
    SYSTEM_PROPERTY_RECONSUMETIMES.
    """

    src = spark.readStream.format("pulsarlike").option("path", src_topic).load()

    def route_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        rc = F.coalesce(
            F.col("properties")["redelivery_count"].cast("int"), F.lit(0)
        ).alias("rc")
        b = batch.withColumn("rc", rc).persist()
        try:
            ok = b.filter(~is_failure)
            T.append(
                sess, process(ok).drop("offset", "rc"), out_topic,
                batch_token=_token(checkpoint, "ok", batch_id),
            )
            failed = b.filter(is_failure)
            retry = failed.filter(F.col("rc") + 1 < max_redeliver).withColumn(
                "properties",
                F.map_concat(
                    F.map_filter(F.col("properties"), lambda k, _: k != F.lit("redelivery_count")),
                    F.create_map(
                        F.lit("redelivery_count"), (F.col("rc") + 1).cast("string")
                    ),
                ),
            )
            dlq = failed.filter(F.col("rc") + 1 >= max_redeliver)
            # dedup=False: retried rows keep their original (producer_name,
            # sequence_id), so producer-seq dedup would silently drop every
            # redelivery after the first one set the high-water mark — the
            # message would never climb the retry ladder nor reach the DLQ.
            # Replay idempotency comes from the batch_token instead: each
            # destination records the token in its manifest commit, so a
            # crash between these appends and the checkpoint commit replays
            # the batch but re-appends nothing already committed.
            T.append(
                sess, retry.drop("offset", "rc"), retry_topic, dedup=False,
                batch_token=_token(checkpoint, "retry", batch_id),
            )
            T.append(
                sess, dlq.drop("offset", "rc"), dlq_topic, dedup=False,
                batch_token=_token(checkpoint, "dlq", batch_id),
            )
        finally:
            b.unpersist()

    writer = src.writeStream.foreachBatch(route_batch).option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def windowed_with_late_side_output(
    spark: SparkSession,
    src_topic: str,
    agg_sink_topic: str,
    late_topic: str,
    window_duration: str,
    watermark_lag: str,
    checkpoint: str,
):
    """Windowed count with a late-data side topic (WindowConfig.lateDataTopic,
    G6): the dual-query pattern — the main watermarked aggregation drops late
    rows; a parallel foreachBatch tracks the max-seen event_time and routes
    rows older than (max - lag) to the late topic."""
    import datetime as _dt
    import json as _json
    import os as _os

    src = spark.readStream.format("pulsarlike").option("path", src_topic).load()

    lag_expr = f"INTERVAL {watermark_lag}"
    # durable watermark tracker (survives query restarts, like the persisted
    # per-topic max-event-ts WaterMarkEventGenerator keeps)
    wm_file = _os.path.join(checkpoint, "late_watermark.json")

    def _load_wm():
        try:
            with open(wm_file) as f:
                return _dt.datetime.fromisoformat(_json.load(f)["max_ts"])
        except (OSError, KeyError, ValueError):
            return None

    def _store_wm(ts) -> None:
        _os.makedirs(checkpoint, exist_ok=True)
        # atomic: a torn file would read as no watermark, and late rows
        # would count as on time
        T._write_json_atomic(wm_file, {"max_ts": ts.isoformat()})

    def split_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        b = batch.persist()
        try:
            mx = b.agg(F.max("event_time")).collect()[0][0]
            wm = _load_wm()
            if wm is not None:
                late = b.filter(F.col("event_time") < F.lit(wm) - F.expr(lag_expr))
                T.append(
                    sess, late.drop("offset"), late_topic,
                    batch_token=_token(checkpoint, "late", batch_id),
                )
                on_time = b.filter(~(F.col("event_time") < F.lit(wm) - F.expr(lag_expr)))
            else:
                on_time = b
            agg = (
                on_time.groupBy(
                    F.window("event_time", window_duration).alias("w"),
                    F.col("properties")["event_type"].alias("etype"),
                )
                .agg(F.count(F.lit(1)).alias("n"))
                .select(
                    F.col("etype").alias("key"),
                    F.to_binary(F.col("n").cast("string"), F.lit("utf-8")).alias("value"),
                    F.create_map(F.lit("window_start"), F.col("w.start").cast("string")).alias(
                        "properties"
                    ),
                    F.col("w.start").alias("event_time"),
                    F.col("w.start").alias("publish_time"),
                    F.lit("window-agg").alias("producer_name"),
                    # deterministic replay-stable sequence id (a replayed
                    # batch re-derives identical ids; monotonically_
                    # increasing_id differs per run and would defeat any
                    # identity-based dedup downstream)
                    F.xxhash64(F.col("etype"), F.col("w.start")).alias("sequence_id"),
                    F.lit(None).cast("timestamp").alias("deliver_at"),
                    F.lit(None).cast("string").alias("replicated_from"),
                )
            )
            T.append(
                sess, agg, agg_sink_topic, dedup=False,
                batch_token=_token(checkpoint, "agg", batch_id),
            )
            if mx is not None and (wm is None or mx > wm):
                _store_wm(mx)
        finally:
            b.unpersist()

    writer = src.writeStream.foreachBatch(split_batch).option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def reconsume_later(
    failed: DataFrame, backoff_base_seconds: int = 2, max_backoff_seconds: int = 3600
) -> DataFrame:
    """reconsumeLater → RETRY topic with exponential redelivery backoff
    (§2.J4: RedeliveryBackoff / RetryMessageUtil.java:31-33 — retry messages
    are DELAYED messages): stamp deliver_at = publish_time + min(base^(rc+1),
    cap) seconds, bump the redelivery counter, and let the delayed-delivery
    operator (streaming/delayed.py) hold them until due."""
    rc = F.coalesce(F.col("properties")["redelivery_count"].cast("int"), F.lit(0))
    backoff = F.least(
        F.pow(F.lit(float(backoff_base_seconds)), rc + 1).cast("long"),
        F.lit(max_backoff_seconds),
    )
    return failed.withColumn(
        "deliver_at",
        F.timestamp_micros(F.unix_micros(F.col("publish_time")) + backoff * 1_000_000),
    ).withColumn(
        "properties",
        F.map_concat(
            F.map_filter(F.col("properties"), lambda k, _: k != F.lit("redelivery_count")),
            F.create_map(F.lit("redelivery_count"), (rc + 1).cast("string")),
        ),
    )
