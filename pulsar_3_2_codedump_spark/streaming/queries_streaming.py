"""Streaming operators exposed to the driver's correctness harness.

These run a REAL bounded Structured Streaming pipeline (topic → pulsarlike
source → stateful operator → collected result) inside the query callable and
return the result as a DataFrame. They are genuinely non-SQL-expressible
(stateful timers / counters across micro-batches), so no ``oracle`` is
declared — the driver records the weaker rows-only check (SURVEY §5). The
strong checks live in tests/test_streaming_ops.py, which assert these same
pipelines against batch oracles.

Determinism: fixture replay + availableNow triggers + event-time watermarks
⇒ identical output rows on every run.

Each query builds its topics, checkpoints and views under one
``queries.scratch_root``, which registers the source and removes the
directory when the query returns or raises. So a query collects its result
before it leaves that block and returns it as a ``topic.lookup_frame``: a
``LocalRelation`` the JVM scans, with no Python-worker task behind it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pulsar_3_2_codedump_spark import topic as T
from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.envelope import EVENTS_ENVELOPE_ORACLE, wrap_events
from pulsar_3_2_codedump_spark.operators.behavior import CUSUM_H_MULT, CUSUM_SCALE
from pulsar_3_2_codedump_spark.queries import query, scratch_root

_ENV = f"WITH envelope AS ({EVENTS_ENVELOPE_ORACLE})"


def _append_range(
    spark: SparkSession, sf_dir: str, tp: str, lo: int, hi: int, dedup: bool = True
) -> None:
    """Append the events with sequence_id in [lo, hi) to a replay topic."""
    env = (
        wrap_events(load(spark, sf_dir, "events"))
        .filter(F.col("sequence_id").between(lo, hi - 1))
        .drop("partition", "offset")
    )
    T.append(spark, env, tp, dedup=dedup)


def _replay_topic(spark: SparkSession, sf_dir: str, root: str, lo: int, hi: int) -> str:
    tp = T.create_topic(root, "q", n_partitions=2)
    _append_range(spark, sf_dir, tp, lo, hi)
    return tp


def _run_bounded_foreach(stream_df, checkpoint: str, runs_with_appends, sink_fn) -> None:
    """Run an availableNow query once per growth step through a caller-supplied
    foreachBatch sink (driver-side collection or incremental-view upserts)."""
    for append_fn in runs_with_appends:
        if append_fn:
            append_fn()
        q = (
            stream_df.writeStream.foreachBatch(sink_fn)
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)


def _run_bounded(stream_df, checkpoint: str, runs_with_appends) -> list:
    """_run_bounded_foreach with a collect-into-driver sink.

    HARNESS-ONLY: ``collect()`` into the driver is how the bounded fixture
    replay hands the driver's comparator a deterministic result set: the
    query returns these rows as a ``topic.lookup_frame`` once the scratch
    root is gone. Do NOT copy this into a production pipeline. The
    production form of the same topology writes each micro-batch back to a
    topic/table inside ``foreachBatch`` (see streaming/replicator.py) and
    never materializes on the driver."""
    out: list = []
    _run_bounded_foreach(
        stream_df, checkpoint, runs_with_appends, lambda b, _bid: out.extend(b.collect())
    )
    return out


def _versioned_view(root: str, view_schema: str, batch_agg, merge_agg):
    """Idempotent versioned-view merge sink for foreachBatch IVM pipelines.

    foreachBatch is at-least-once: a batch whose sink ran but whose
    checkpoint commit failed is REPLAYED with the same batch id, and a naive
    merge would double-count it. Views are therefore written to batch-id-named
    dirs and a replayed id is skipped — in-memory via ``last_bid`` and, across
    a driver restart, via the completed (_SUCCESS-marked) dir already on disk.

    Returns (sink_fn, state); ``state['path']`` is the latest view after the
    run. At scale the versioned dir is a table with MERGE INTO + the same
    batch-id high-water guard (the standard foreachBatch idempotency
    pattern)."""
    state = {"path": None, "last_bid": -1}

    def upsert(batch, bid):
        if bid <= state["last_bid"]:
            return  # same-process replay of an already-merged batch
        nxt = os.path.join(root, f"view_{bid:06d}")
        if os.path.exists(os.path.join(nxt, "_SUCCESS")):
            state["path"], state["last_bid"] = nxt, bid  # post-restart replay
            return
        spark = batch.sparkSession
        cur = (
            spark.read.parquet(state["path"])
            if state["path"]
            else T.lookup_frame(spark, [], view_schema)
        )
        merged = merge_agg(cur.unionByName(batch_agg(batch)))
        merged.write.mode("overwrite").parquet(nxt)
        state["path"], state["last_bid"] = nxt, bid

    return upsert, state


def _view_frame(spark: SparkSession, state: dict, view_schema: str) -> DataFrame:
    """The latest version of a ``_versioned_view`` (none if no batch ran),
    collected into a ``lookup_frame`` before the scratch root is removed."""
    rows = spark.read.parquet(state["path"]).collect() if state["path"] else []
    return T.lookup_frame(spark, rows, view_schema)


@query(
    "streaming_delayed_delivery",
    section="2.F1-stream",
    doc="LIVE stateful streaming: delayed-delivery timers over a bounded replay "
    "(two micro-batch generations; watermark of gen-1 releases its due messages "
    "in gen-2). The run IS deterministic — fixture replay + availableNow + "
    "event-time watermarks — so the release set has an exact SQL oracle: due "
    "(coalesce(deliver_at, publish_time)) ≤ the gen-1 watermark, which Spark "
    "truncates to whole milliseconds (EventTimeStatsAccum tracks ms).",
    oracle=f"""
        {_ENV},
        base AS (SELECT * FROM envelope WHERE sequence_id < 400),
        wm AS (SELECT (epoch_us(MAX(publish_time)) // 1000) * 1000 AS w_us
               FROM envelope WHERE sequence_id < 300)
        SELECT key, sequence_id,
               strftime(COALESCE(deliver_at, publish_time),
                        '%Y-%m-%d %H:%M:%S.%f') AS deliver_at
        FROM base, wm
        WHERE epoch_us(COALESCE(deliver_at, publish_time)) <= w_us
    """,
)
def streaming_delayed_delivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.streaming.delayed import delayed_delivery

    with scratch_root(spark) as root:
        tp = _replay_topic(spark, sf_dir, root, 0, 300)
        src = spark.readStream.format("pulsarlike").option("path", tp).load()
        released = delayed_delivery(src)
        grow = lambda: _append_range(spark, sf_dir, tp, 300, 400)  # noqa: E731
        rows = _run_bounded(released, root + "/ck", [None, grow])
        out = T.lookup_frame(spark, rows, released.schema)
        # partition is the 2-way topic routing (pmod(xxhash64)) — not
        # SQL-reproducible in DuckDB, and not part of the release semantics;
        # (key, sequence_id) already identifies every released message
        return out.select(
            "key", "sequence_id",
            F.date_format("deliver_at", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("deliver_at"),
        )


@query(
    "streaming_count_windows",
    section="2.G2-stream",
    doc="LIVE stateful streaming: count-based tumbling windows (stateful counter "
    "per key) over a bounded replay. Deterministic: per key, records arrive in "
    "sequence order (one availableNow batch, buffered sorted), so windows are "
    "row_number buckets of 50 — only FULL windows emit (the remainder stays "
    "buffered in state), hence the HAVING.",
    oracle=f"""
        {_ENV},
        seqs AS (
            SELECT producer_name AS key, sequence_id,
                   ROW_NUMBER() OVER (PARTITION BY producer_name
                                      ORDER BY sequence_id) - 1 AS rn
            FROM envelope WHERE sequence_id < 400
        )
        SELECT key, CAST(rn // 50 AS BIGINT) AS win_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(sequence_id) AS first_seq, MAX(sequence_id) AS last_seq
        FROM seqs GROUP BY 1, 2 HAVING COUNT(*) = 50
    """,
)
def streaming_count_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.streaming.function_runtime import count_window_function

    with scratch_root(spark) as root:
        tp = _replay_topic(spark, sf_dir, root, 0, 400)
        src = spark.readStream.format("pulsarlike").option("path", tp).load()
        wins = count_window_function(src, n=50, key_col="producer_name", seq_col="sequence_id")
        rows = _run_bounded(wins, root + "/ck", [None])
        return T.lookup_frame(spark, rows, wins.schema)


@query(
    "streaming_session_windows",
    section="2.G-ext-stream",
    doc="LIVE stateful streaming: session windows (30-minute inactivity gap, "
    "Spark native session_window state) over a two-generation bounded replay. "
    "Deterministic, with an exact SQL oracle: the gen-1 watermark (ms-truncated "
    "max event_time, EventTimeStatsAccum) closes every session whose end "
    "(last event_time + gap) falls at or below it; gen-2 rows whose tentative "
    "session [ts, ts+gap) already ended below the watermark are dropped as "
    "late, and surviving gen-2 rows can EXTEND a gen-1 session past the "
    "watermark, suppressing its emission this run — the oracle reproduces "
    "drop, merge, and close with gaps-and-islands SQL.",
    oracle=f"""
        {_ENV},
        wm AS (SELECT (epoch_us(MAX(event_time)) // 1000) * 1000 AS w_us
               FROM envelope WHERE sequence_id < 300),
        kept AS (
            SELECT e.* FROM envelope e, wm
            WHERE e.sequence_id < 300
               OR (e.sequence_id < 400
                   AND epoch_us(e.event_time) + 1800 * 1000000 >= w_us)
        ),
        flagged AS (
            SELECT key, sequence_id, event_time,
                   CASE WHEN event_time
                             - LAG(event_time) OVER (PARTITION BY key
                                   ORDER BY event_time, sequence_id)
                             >= INTERVAL 30 MINUTE
                          OR LAG(event_time) OVER (PARTITION BY key
                                   ORDER BY event_time, sequence_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM kept
        ),
        sessions AS (
            SELECT *, SUM(new_session) OVER (PARTITION BY key
                          ORDER BY event_time, sequence_id
                          ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT key,
               STRFTIME(MIN(event_time), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(sequence_id) AS first_seq, MAX(sequence_id) AS last_seq
        FROM sessions, wm
        GROUP BY key, sid, w_us
        HAVING epoch_us(MAX(event_time)) + 1800 * 1000000 < w_us
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch_root(spark) as root:
        tp = _replay_topic(spark, sf_dir, root, 0, 300)
        src = spark.readStream.format("pulsarlike").option("path", tp).load()
        sess = (
            src.withWatermark("event_time", "0 seconds")
            .groupBy(F.session_window("event_time", "30 minutes").alias("w"), "key")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("sequence_id").alias("first_seq"),
                F.max("sequence_id").alias("last_seq"),
            )
            .select(
                "key",
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
                "n_events", "first_seq", "last_seq",
            )
        )

        grow = lambda: _append_range(spark, sf_dir, tp, 300, 400)  # noqa: E731
        rows = _run_bounded(sess, root + "/ck", [None, grow])
        return T.lookup_frame(spark, rows, sess.schema)


@query(
    "streaming_dedup",
    section="2.E1-stream",
    doc="LIVE stateful streaming: broker dedup as a streaming operator — "
    "dropDuplicatesWithinWatermark on the (producer_name, sequence_id) dedup "
    "identity (PulsarApi.proto:107-108) across TWO availableNow generations: "
    "gen-1 appends seq<300, gen-2 re-appends seq 100..200 verbatim (the "
    "producer-retry storm, forced past broker dedup with dedup=False) plus "
    "fresh seq 300..400. The 30-day delay keeps every key in state for the "
    "whole replay, so output is EXACTLY one row per distinct sequence — the "
    "cross-run state suppresses every redelivered duplicate. At scale this "
    "is Spark's streaming-state dedup: state is hash-partitioned on the "
    "dedup key and the watermark bounds it; the batch analogue is the "
    "producer high-water mark in topic.append.",
    oracle=f"""
        {_ENV}
        SELECT key, producer_name, sequence_id,
               strftime(event_time, '%Y-%m-%d %H:%M:%S.%f') AS event_time_s
        FROM envelope WHERE sequence_id < 400
    """,
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch_root(spark) as root:
        tp = _replay_topic(spark, sf_dir, root, 0, 300)
        src = spark.readStream.format("pulsarlike").option("path", tp).load()
        deduped = (
            src.withWatermark("event_time", "30 days")
            .dropDuplicatesWithinWatermark(["producer_name", "sequence_id"])
            .select(
                "key", "producer_name", "sequence_id",
                F.date_format("event_time", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                    "event_time_s"
                ),
            )
        )

        def grow():
            # the retry storm: seq 100..200 appended AGAIN (dedup=False forces
            # the duplicates into the log), plus genuinely new seq 300..400
            _append_range(spark, sf_dir, tp, 100, 201, dedup=False)
            _append_range(spark, sf_dir, tp, 300, 400)

        rows = _run_bounded(deduped, root + "/ck", [None, grow])
        return T.lookup_frame(spark, rows, deduped.schema)


@query(
    "streaming_stream_stream_join",
    section="2.M-join-stream",
    doc="LIVE stream-stream interval join (beyond-ref: Spark's flagship "
    "streaming capability the reference cannot express): clicks joined to "
    "purchases of the same key within [click, click + 4h), both sides read "
    "from the SAME topic as independent streaming sources with event-time "
    "watermarks. Deterministic under bounded replay, with an exact SQL "
    "oracle (plain interval join). At scale both sides shuffle on the join "
    "key and the watermark bounds the buffered state to the interval width "
    "— the standard funnel/attribution join of event pipelines.",
    oracle=f"""
        {_ENV},
        c AS (SELECT key, sequence_id AS click_seq, event_time AS ct
              FROM envelope WHERE event_type = 'click' AND sequence_id < 2000),
        p AS (SELECT key, sequence_id AS purchase_seq, event_time AS pt
              FROM envelope WHERE event_type = 'purchase' AND sequence_id < 2000)
        SELECT c.key, c.click_seq, p.purchase_seq,
               epoch_us(p.pt) - epoch_us(c.ct) AS lag_us
        FROM c JOIN p ON c.key = p.key
         AND p.pt >= c.ct AND p.pt <= c.ct + INTERVAL 240 MINUTE
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch_root(spark) as root:
        tp = _replay_topic(spark, sf_dir, root, 0, 2000)

        def side(event_type: str, key_alias: str, seq_alias: str, t_alias: str):
            return (
                spark.readStream.format("pulsarlike")
                .option("path", tp)
                .load()
                .filter(F.col("properties")["event_type"] == event_type)
                .select(
                    F.col("key").alias(key_alias),
                    F.col("sequence_id").alias(seq_alias),
                    F.col("event_time").alias(t_alias),
                )
                .withWatermark(t_alias, "1 hour")
            )

        clicks = side("click", "c_key", "click_seq", "ct")
        purchases = side("purchase", "p_key", "purchase_seq", "pt")
        joined = clicks.join(
            purchases,
            F.expr(
                "c_key = p_key AND pt >= ct AND pt <= ct + interval 240 minutes"
            ),
        ).select(
            F.col("c_key").alias("key"),
            "click_seq",
            "purchase_seq",
            (F.unix_micros("pt") - F.unix_micros("ct")).alias("lag_us"),
        )
        rows = _run_bounded(joined, root + "/ck", [None])
        return T.lookup_frame(spark, rows, joined.schema)


@query(
    "streaming_tableview",
    section="2.A4-stream",
    doc="LIVE TableView as incremental view maintenance: the reference's "
    "TableView (TableViewImpl.java:182-214) tails a topic and upserts "
    "latest-per-key continuously. Spark form: foreachBatch merges each "
    "micro-batch's per-key (max sequence_id, update count) into a versioned "
    "materialized view — read previous version, union, re-aggregate, write "
    "next version — across TWO availableNow generations with checkpoint "
    "continuity and a batch-id idempotency guard (foreachBatch is "
    "at-least-once; a replayed batch id skips the merge), so every message "
    "is merged exactly once. The merge is one "
    "hash-agg on key per micro-batch (state ∝ #keys, not #messages); at "
    "scale the view is a partitioned table and the merge a MERGE INTO. "
    "Exact oracle: last sequence and update count per key over the full "
    "replayed range.",
    oracle=f"""
        {_ENV}
        SELECT key,
               MAX(sequence_id) AS last_seq,
               COUNT(*)         AS n_updates
        FROM envelope WHERE sequence_id < 400
        GROUP BY key
    """,
)
def streaming_tableview(spark: SparkSession, sf_dir: str) -> DataFrame:
    view_schema = "key string, last_seq long, n_updates long"
    with scratch_root(spark) as root:
        tp = _replay_topic(spark, sf_dir, root, 0, 300)
        src = spark.readStream.format("pulsarlike").option("path", tp).load()
        upsert, state = _versioned_view(
            root,
            view_schema,
            lambda b: b.groupBy("key").agg(
                F.max("sequence_id").alias("last_seq"),
                F.count(F.lit(1)).alias("n_updates"),
            ),
            lambda u: u.groupBy("key").agg(
                F.max("last_seq").alias("last_seq"),
                F.sum("n_updates").cast("long").alias("n_updates"),
            ),
        )
        _run_bounded_foreach(
            src,
            root + "/ck",
            [None, lambda: _append_range(spark, sf_dir, tp, 300, 400)],
            upsert,
        )
        return _view_frame(spark, state, view_schema)


@query(
    "streaming_topk",
    section="2.G-stream",
    doc="LIVE incremental heavy hitters: per-event-type running counts "
    "maintained across TWO availableNow generations with the same "
    "versioned-view merge as streaming_tableview (one tiny hash-agg per "
    "micro-batch, state ∝ #distinct types), final top-3 by total count. "
    "The streaming word-count topology with a bounded exact oracle. At "
    "scale the per-batch agg is map-side combined and the merge is a "
    "broadcast-size MERGE INTO; for unbounded key domains swap the exact "
    "counts for a space-saving/CMS sketch (approx_distinct_sketch is the "
    "registered sketch surface).",
    oracle=f"""
        {_ENV}
        SELECT event_type, COUNT(*) AS cnt
        FROM envelope WHERE sequence_id < 400
        GROUP BY event_type
        ORDER BY cnt DESC, event_type
        LIMIT 3
    """,
)
def streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    view_schema = "event_type string, cnt long"
    with scratch_root(spark) as root:
        tp = _replay_topic(spark, sf_dir, root, 0, 300)
        src = spark.readStream.format("pulsarlike").option("path", tp).load()
        upsert, state = _versioned_view(
            root,
            view_schema,
            lambda b: b.groupBy(
                F.col("properties")["event_type"].alias("event_type")
            ).agg(F.count(F.lit(1)).alias("cnt")),
            lambda u: u.groupBy("event_type").agg(F.sum("cnt").cast("long").alias("cnt")),
        )
        _run_bounded_foreach(
            src,
            root + "/ck",
            [None, lambda: _append_range(spark, sf_dir, tp, 300, 400)],
            upsert,
        )
        return (
            _view_frame(spark, state, view_schema)
            .orderBy(F.desc("cnt"), F.asc("event_type"))
            .limit(3)
        )


@query(
    "streaming_static_enrich",
    section="2.I-stream",
    doc="LIVE stream-static enrichment: the streaming envelope joined against "
    "a static dimension (user tier, keyed on the message key) — Structured "
    "Streaming's stream-static join, the broker-side message-enrichment "
    "pattern (interceptor/Function enrich path). The static side is "
    "broadcast per micro-batch, so at 100 TB the stream never shuffles for "
    "the dim; exact oracle = the same join over the replayed range.",
    oracle=f"""
        {_ENV}
        SELECT key, sequence_id,
               CASE CAST(key AS BIGINT) % 3
                    WHEN 0 THEN 'gold' WHEN 1 THEN 'silver' ELSE 'bronze'
               END AS tier
        FROM envelope WHERE sequence_id < 400
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch_root(spark) as root:
        tp = _replay_topic(spark, sf_dir, root, 0, 300)
        # static dimension: tier per key, spanning EVERY key the fixture can
        # produce (a hardcoded 1000 silently dropped keys ≥ 1000 via the
        # inner join once bigger fixtures appeared — caught by the sf0.1
        # sweep; the bound is now derived from the data at setup time)
        n_keys = (
            load(spark, sf_dir, "events").agg(F.max("user_id")).collect()[0][0] + 1
        )
        dim = spark.range(0, n_keys).select(
            F.col("id").cast("string").alias("key"),
            F.element_at(
                F.array(F.lit("gold"), F.lit("silver"), F.lit("bronze")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("tier"),
        )
        src = spark.readStream.format("pulsarlike").option("path", tp).load()
        enriched = src.join(F.broadcast(dim), "key").select("key", "sequence_id", "tier")
        rows = _run_bounded(
            enriched,
            root + "/ck",
            [None, lambda: _append_range(spark, sf_dir, tp, 300, 400)],
        )
        return T.lookup_frame(spark, rows, enriched.schema)


def _append_watermark_sentinel(spark: SparkSession, tp: str, advance_hours: int) -> None:
    """Append one far-future marker message that exists only to advance the
    event-time watermark (the streaming analogue of the reference's
    WATERMARK marker, PulsarMarkers.proto): key/event_type 'sentinel' so
    every business filter excludes it, its own producer_name so it cannot
    collide with replayed producer sequence high-water marks. Harness-scale
    single-row append."""
    import datetime as _dt

    last = T.read_topic(spark, tp).agg(F.max("event_time")).collect()[0][0]
    far = last + _dt.timedelta(hours=advance_hours)
    row = spark.range(1).select(
        F.lit("__sentinel__").alias("key"),
        F.lit(None).cast("binary").alias("value"),
        F.create_map(F.lit("event_type"), F.lit("sentinel")).alias("properties"),
        F.lit(far).alias("event_time"),
        F.lit(far).alias("publish_time"),
        F.lit("producer-sentinel").alias("producer_name"),
        # distinct per sentinel generation or producer dedup drops the 2nd
        F.lit(advance_hours).cast("long").alias("sequence_id"),
        F.lit(None).cast("timestamp").alias("deliver_at"),
        F.lit(None).cast("int").alias("marker_type"),
        F.lit(None).cast("string").alias("replicated_from"),
    )
    T.append(spark, row, tp)


@query(
    "streaming_left_outer_join",
    section="2.M-join-stream",
    doc="LIVE stream-stream LEFT OUTER interval join: every click joins "
    "purchases of the same key within [click, click + 4h); clicks with no "
    "purchase in the window emit a NULL-padded row once the event-time "
    "watermark passes their interval end (state eviction — Spark's outer "
    "streaming join contract). A far-future watermark-sentinel message "
    "(appended as generation 2) pushes the watermark past every interval so "
    "the bounded replay drains ALL outer results deterministically; the "
    "per-side event-type predicate is written as a single CASE guard "
    "referencing the event-time column so Catalyst cannot push it below the "
    "EventTimeWatermark node (a pushed-down filter would drop the sentinel "
    "before it reaches the watermark tracker). Exact SQL oracle: the plain "
    "LEFT interval join. At scale both sides shuffle on the key and the "
    "watermark bounds join state to the interval width, exactly as the "
    "inner variant.",
    oracle=f"""
        {_ENV},
        c AS (SELECT key, sequence_id AS click_seq, event_time AS ct
              FROM envelope WHERE event_type = 'click' AND sequence_id < 1200),
        p AS (SELECT key, sequence_id AS purchase_seq, event_time AS pt
              FROM envelope WHERE event_type = 'purchase' AND sequence_id < 1200)
        SELECT c.key, c.click_seq, p.purchase_seq,
               epoch_us(p.pt) - epoch_us(c.ct) AS lag_us
        FROM c LEFT JOIN p ON c.key = p.key
         AND p.pt >= c.ct AND p.pt <= c.ct + INTERVAL 240 MINUTE
    """,
)
def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch_root(spark) as root:
        tp = _replay_topic(spark, sf_dir, root, 0, 1200)
        # anything at/after this instant is a sentinel, not business data
        thr = T.read_topic(spark, tp).agg(F.max("event_time")).collect()[0][0]

        def side(event_type: str, key_alias: str, seq_alias: str, t_alias: str):
            src = (
                spark.readStream.format("pulsarlike")
                .option("path", tp)
                .load()
                .select(
                    F.col("key").alias(key_alias),
                    F.col("sequence_id").alias(seq_alias),
                    F.col("event_time").alias(t_alias),
                    F.col("properties")["event_type"].alias("etype"),
                )
                .withWatermark(t_alias, "1 hour")
            )
            # single CASE predicate referencing the watermark column — NOT a
            # conjunction Catalyst could split and push below the watermark
            keep = F.when(
                F.col(t_alias) <= F.lit(thr), F.col("etype") == event_type
            ).otherwise(F.lit(False))
            return src.filter(keep).drop("etype")

        clicks = side("click", "c_key", "click_seq", "ct")
        purchases = side("purchase", "p_key", "purchase_seq", "pt")
        joined = clicks.join(
            purchases,
            F.expr("c_key = p_key AND pt >= ct AND pt <= ct + interval 240 minutes"),
            "leftOuter",
        ).select(
            F.col("c_key").alias("key"),
            "click_seq",
            "purchase_seq",
            (F.unix_micros("pt") - F.unix_micros("ct")).alias("lag_us"),
        )
        # eviction uses the watermark computed from PRIOR batches, so two
        # sentinel generations are needed: gen 2's batch still evicts with
        # gen 1's watermark; gen 3 (further future) evicts everything left
        rows = _run_bounded(
            joined,
            root + "/ck",
            [
                None,
                lambda: _append_watermark_sentinel(spark, tp, 10),
                lambda: _append_watermark_sentinel(spark, tp, 20),
            ],
        )
        return T.lookup_frame(spark, rows, joined.schema)


@query(
    "streaming_late_side_topic",
    section="2.G6-stream",
    doc="LIVE late-data side topic (WindowConfig.lateDataTopic, §2.G6): the "
    "dual-query pattern — a watermarked windowed aggregation drops late "
    "rows; a parallel per-batch tracker routes rows older than "
    "(max-seen event time − lag) to a late topic. Bounded replay: "
    "generation 1 appends the on-time prefix (every 7th message held back), "
    "generation 2 delivers the held-back messages, which are now older than "
    "the persisted watermark; the query returns the late topic's contents. "
    "Deterministic because each availableNow run is one micro-batch (the "
    "Python DataSource single-batch fallback pins the watermark schedule), "
    "so late = held-back rows with event_time < max_t(gen1) − 1h — exactly "
    "the SQL oracle. At scale the late route is a filter on the already-"
    "read batch (no second scan) and the side topic absorbs it as a normal "
    "append.",
    oracle=f"""
        {_ENV},
        w1 AS (SELECT MAX(event_time) - INTERVAL 1 HOUR AS wm FROM envelope
               WHERE sequence_id < 600 AND sequence_id % 7 <> 3)
        SELECT key, sequence_id,
               STRFTIME(event_time, '%Y-%m-%d %H:%M:%S.%f') AS event_time
        FROM envelope, w1
        WHERE sequence_id < 600 AND sequence_id % 7 = 3 AND event_time < w1.wm
    """,
)
def streaming_late_side_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.streaming.replicator import (
        windowed_with_late_side_output,
    )

    with scratch_root(spark) as root:
        tp = T.create_topic(root, "src", n_partitions=2)
        late_tp = T.create_topic(root, "late", n_partitions=2)
        agg_tp = T.create_topic(root, "agg", n_partitions=2)
        env = wrap_events(load(spark, sf_dir, "events")).filter(
            F.col("sequence_id") < 600
        )
        on_time = env.filter(F.col("sequence_id") % 7 != 3).drop("partition", "offset")
        held_back = env.filter(F.col("sequence_id") % 7 == 3).drop("partition", "offset")

        def run_gen(append_df, dedup: bool) -> None:
            T.append(spark, append_df, tp, dedup=dedup)
            q = windowed_with_late_side_output(
                spark, tp, agg_tp, late_tp, "1 hour", "1 HOUR", root + "/ck"
            )
            q.awaitTermination(300)

        run_gen(on_time, dedup=True)  # gen 1: establishes the persisted watermark
        # gen 2: held-back rows arrive late — dedup=False because their
        # sequence_ids sit BELOW gen 1's per-producer high-water mark and the
        # broker-dedup filter would (correctly, for its own semantics)
        # swallow them; a late arrival is a new message, not a resend
        run_gen(held_back, dedup=False)
        late = T.read_topic(spark, late_tp).select(
            "key",
            "sequence_id",
            F.date_format("event_time", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("event_time"),
        )
        # materialize before the temp topic is removed (lazy plan would
        # otherwise read deleted files at the caller's collect)
        rows = late.collect()
        return T.lookup_frame(spark, rows, late.schema)


GAP_DROP_MOD, GAP_DROP_AT, GAP_CUT = 97, 13, 110


@query(
    "streaming_sequence_gap_monitor",
    section="2.E1-stream",
    doc="LIVE per-producer sequence-gap monitor on applyInPandasWithState: "
    "the streaming form of the broker's per-producer sequence accounting "
    "(MessageDeduplication highest-sequence tracking) — keyed state holds "
    "each producer's last seen sequence id and every jump > 1 emits the "
    "missing range. Bounded replay renumbers messages to per-producer DENSE "
    f"sequences, drops position {GAP_DROP_AT} (mod {GAP_DROP_MOD}) to "
    f"inject gaps, and splits generations at {GAP_CUT} so one injected gap "
    "STRADDLES the generation boundary — detected only because the "
    "keyed state survives across availableNow runs via the checkpoint. "
    "(transformWithStateInPandas — Spark 4's newer stateful API — needs the "
    "python protobuf package, absent in this container; the operator is "
    "API-agnostic and ports 1:1 when it is available.) "
    "Exact SQL oracle: lag() over the kept dense sequences. At scale state "
    "is one long per producer and rows shuffle once on the producer key.",
    oracle=f"""
        {_ENV},
        ranked AS (
            SELECT producer_name,
                   ROW_NUMBER() OVER (PARTITION BY producer_name
                                      ORDER BY sequence_id) AS pseq
            FROM envelope WHERE sequence_id < 1500
        ),
        kept AS (SELECT producer_name, pseq FROM ranked
                 WHERE pseq % {GAP_DROP_MOD} <> {GAP_DROP_AT}),
        lagged AS (
            SELECT producer_name, pseq,
                   LAG(pseq) OVER (PARTITION BY producer_name ORDER BY pseq) AS prev
            FROM kept
        )
        SELECT producer_name,
               CAST(prev + 1 AS BIGINT) AS gap_start,
               CAST(pseq - 1 AS BIGINT) AS gap_end
        FROM lagged WHERE prev IS NOT NULL AND pseq > prev + 1
    """,
)
def streaming_sequence_gap_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField("producer_name", StringType()),
            StructField("gap_start", LongType()),
            StructField("gap_end", LongType()),
        ]
    )
    state_schema = StructType([StructField("last", LongType())])

    def detect_gaps(key, pdf_iter, state: GroupState):
        buf = pd.concat(list(pdf_iter)).sort_values("sequence_id")
        last = int(state.get[0]) if state.exists else None
        gaps = []
        for s in buf["sequence_id"]:
            s = int(s)
            if last is not None and s > last + 1:
                gaps.append((key[0], last + 1, s - 1))
            if last is None or s > last:
                last = s
        state.update((last,))
        yield pd.DataFrame(gaps, columns=["producer_name", "gap_start", "gap_end"])

    with scratch_root(spark) as root:
        # per-producer DENSE renumbering with injected drops
        env = wrap_events(load(spark, sf_dir, "events")).filter(
            F.col("sequence_id") < 1500
        )
        w = W.partitionBy("producer_name").orderBy("sequence_id")
        dense = (
            env.withColumn("pseq", F.row_number().over(w))
            .filter(F.col("pseq") % GAP_DROP_MOD != GAP_DROP_AT)
            .withColumn("sequence_id", F.col("pseq").cast("long"))
            .drop("pseq", "partition", "offset")
        )
        tp = T.create_topic(root, "q", n_partitions=2)
        T.append(spark, dense.filter(F.col("sequence_id") <= GAP_CUT), tp)

        src = (
            spark.readStream.format("pulsarlike")
            .option("path", tp)
            .load()
            .select("producer_name", "sequence_id")
        )
        gaps = src.groupBy("producer_name").applyInPandasWithState(
            detect_gaps,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        grow = lambda: T.append(  # noqa: E731
            spark, dense.filter(F.col("sequence_id") > GAP_CUT), tp
        )
        rows = _run_bounded(gaps, root + "/ck", [None, grow])
        return T.lookup_frame(spark, rows, out_schema)


@query(
    "streaming_full_outer_join",
    section="2.M-join-stream",
    doc="LIVE stream-stream FULL OUTER interval join — completes the "
    "streaming join family (inner / left outer / full outer): clicks join "
    "purchases of the same key within [click, click + 4h); unmatched rows "
    "on EITHER side emit NULL-padded once the watermark evicts their state "
    "(purchases with no prior click are the conversion-attribution orphans "
    "a left join silently drops). Same watermark-sentinel drain and "
    "CASE-guarded side predicate as streaming_left_outer_join; exact FULL "
    "JOIN oracle with a coalesced key. At scale both sides shuffle on the "
    "key and state is bounded by watermark + interval width on both sides.",
    oracle=f"""
        {_ENV},
        c AS (SELECT key, sequence_id AS click_seq, event_time AS ct
              FROM envelope WHERE event_type = 'click' AND sequence_id < 1200),
        p AS (SELECT key, sequence_id AS purchase_seq, event_time AS pt
              FROM envelope WHERE event_type = 'purchase' AND sequence_id < 1200)
        SELECT COALESCE(c.key, p.key) AS key, c.click_seq, p.purchase_seq,
               epoch_us(p.pt) - epoch_us(c.ct) AS lag_us
        FROM c FULL JOIN p ON c.key = p.key
         AND p.pt >= c.ct AND p.pt <= c.ct + INTERVAL 240 MINUTE
    """,
)
def streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch_root(spark) as root:
        tp = _replay_topic(spark, sf_dir, root, 0, 1200)
        thr = T.read_topic(spark, tp).agg(F.max("event_time")).collect()[0][0]

        def side(event_type: str, key_alias: str, seq_alias: str, t_alias: str):
            src = (
                spark.readStream.format("pulsarlike")
                .option("path", tp)
                .load()
                .select(
                    F.col("key").alias(key_alias),
                    F.col("sequence_id").alias(seq_alias),
                    F.col("event_time").alias(t_alias),
                    F.col("properties")["event_type"].alias("etype"),
                )
                .withWatermark(t_alias, "1 hour")
            )
            keep = F.when(
                F.col(t_alias) <= F.lit(thr), F.col("etype") == event_type
            ).otherwise(F.lit(False))
            return src.filter(keep).drop("etype")

        clicks = side("click", "c_key", "click_seq", "ct")
        purchases = side("purchase", "p_key", "purchase_seq", "pt")
        joined = clicks.join(
            purchases,
            F.expr("c_key = p_key AND pt >= ct AND pt <= ct + interval 240 minutes"),
            "fullOuter",
        ).select(
            F.coalesce(F.col("c_key"), F.col("p_key")).alias("key"),
            "click_seq",
            "purchase_seq",
            (F.unix_micros("pt") - F.unix_micros("ct")).alias("lag_us"),
        )
        rows = _run_bounded(
            joined,
            root + "/ck",
            [
                None,
                lambda: _append_watermark_sentinel(spark, tp, 10),
                lambda: _append_watermark_sentinel(spark, tp, 20),
            ],
        )
        return T.lookup_frame(spark, rows, joined.schema)


CHUNK_DOCS = 150  # doc_id < CHUNK_DOCS feed the chunked topic


@query(
    "streaming_chunk_reassembly",
    section="2.B4-stream",
    doc="LIVE chunked-message reassembly on applyInPandasWithState — the "
    "consumer's actual chunk behavior (ConsumerImpl.processMessageChunk, "
    "ConsumerImpl.java:1431: buffer per uuid, deliver when the last chunk "
    "arrives): keyed state holds each uuid's partial chunk set; a document "
    "is emitted only when all num_chunks are present. Bounded replay holds "
    "back the LAST chunk of every 3rd document for generation 2, so those "
    "documents complete only because the partial buffers survive the "
    "availableNow boundary via checkpointed state. Exact oracle: every "
    "replayed document byte-exact (length + md5 of the original text). "
    "At scale state is bounded by in-flight oversize messages per key and "
    "rows shuffle once on uuid.",
    oracle=f"""
        SELECT CAST(doc_id AS VARCHAR) AS uuid,
               CAST(GREATEST(CEIL(LENGTH(text) / 64.0), 1) AS INT) AS n_chunks,
               CAST(LENGTH(text) AS BIGINT) AS payload_len,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id < {CHUNK_DOCS}
    """,
)
def streaming_chunk_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from pulsar_3_2_codedump_spark.envelope import chunk_payloads

    out_schema = StructType(
        [
            StructField("uuid", StringType()),
            StructField("n_chunks", IntegerType()),
            StructField("payload_len", LongType()),
            StructField("payload_md5", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ids", ArrayType(IntegerType())),
            StructField("chunks", ArrayType(StringType())),
        ]
    )

    def reassemble(key, pdf_iter, state: GroupState):
        buf = pd.concat(list(pdf_iter))
        ids, chunks = ([], []) if not state.exists else (
            list(state.get[0]), list(state.get[1])
        )
        # dedupe by chunk_id (ConsumerImpl.processMessageChunk keys its
        # buffer by chunkId): a redelivered chunk must not satisfy
        # completion early or corrupt the stitched payload
        by_id = dict(zip(ids, chunks))
        for _, r in buf.iterrows():
            by_id.setdefault(int(r["chunk_id"]), r["chunk"])
        ids, chunks = list(by_id.keys()), list(by_id.values())
        n_chunks = int(buf["num_chunks"].iloc[0])
        if len(ids) == n_chunks:
            payload = "".join(c for _, c in sorted(zip(ids, chunks)))
            import hashlib

            state.remove()
            yield pd.DataFrame(
                [(key[0], n_chunks, len(payload),
                  hashlib.md5(payload.encode()).hexdigest())],
                columns=["uuid", "n_chunks", "payload_len", "payload_md5"],
            )
        else:
            state.update((ids, chunks))
            yield pd.DataFrame([], columns=["uuid", "n_chunks", "payload_len", "payload_md5"])

    with scratch_root(spark) as root:
        docs = (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < CHUNK_DOCS)
            .select(
                F.col("doc_id").cast("string").alias("uuid"),
                F.col("text").alias("payload"),
            )
        )
        ts = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        env = chunk_payloads(docs).select(
            F.col("uuid").alias("key"),
            F.to_binary(F.col("chunk"), F.lit("utf-8")).alias("value"),
            F.create_map(
                F.lit("chunk_id"), F.col("chunk_id").cast("string"),
                F.lit("num_chunks"), F.col("num_chunks").cast("string"),
            ).alias("properties"),
            ts.alias("event_time"),
            ts.alias("publish_time"),
            F.lit("chunker").alias("producer_name"),
            (F.col("uuid").cast("long") * 100 + F.col("chunk_id")).alias("sequence_id"),
            F.lit(None).cast("timestamp").alias("deliver_at"),
            F.lit(None).cast("int").alias("marker_type"),
            F.lit(None).cast("string").alias("replicated_from"),
        )
        # generation 1 withholds the final chunk of every 3rd document; those
        # uuids can only complete via state carried across the checkpoint.
        # dedup=False: the held-back chunks' sequence_ids sit below gen 1's
        # per-producer high-water mark — broker dedup would swallow them.
        last_of_third = (F.col("key").cast("long") % 3 == 0) & (
            F.element_at("properties", "chunk_id").cast("int")
            == F.element_at("properties", "num_chunks").cast("int") - 1
        )
        tp = T.create_topic(root, "q", n_partitions=2)
        T.append(spark, env.filter(~last_of_third), tp, dedup=False)

        src = (
            spark.readStream.format("pulsarlike")
            .option("path", tp)
            .load()
            .select(
                F.col("key").alias("uuid"),
                F.element_at("properties", "chunk_id").cast("int").alias("chunk_id"),
                F.element_at("properties", "num_chunks").cast("int").alias("num_chunks"),
                F.decode(F.col("value"), "utf-8").alias("chunk"),
            )
        )
        done = src.groupBy("uuid").applyInPandasWithState(
            reassemble,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        grow = lambda: T.append(  # noqa: E731
            spark, env.filter(last_of_third), tp, dedup=False
        )
        rows = _run_bounded(done, root + "/ck", [None, grow])
        return T.lookup_frame(spark, rows, out_schema)


@query(
    "streaming_multi_topic_union",
    section="2.A5-stream",
    doc="LIVE multi-topic subscribe (MultiTopicsConsumerImpl.java): ONE "
    "streaming query unions two pulsarlike source streams, each tagged with "
    "its topic; the shared checkpoint tracks BOTH topics' cursors "
    "independently, proven by growing both topics between availableNow "
    "generations with exactly-once output. Exact oracle: the disjoint "
    "sequence ranges routed to each topic.",
    oracle=f"""
        {_ENV}
        SELECT 'topic-a' AS topic, key, sequence_id FROM envelope
        WHERE sequence_id < 500 OR (sequence_id >= 1000 AND sequence_id < 1200)
        UNION ALL
        SELECT 'topic-b' AS topic, key, sequence_id FROM envelope
        WHERE (sequence_id >= 500 AND sequence_id < 1000)
           OR (sequence_id >= 1200 AND sequence_id < 1400)
    """,
)
def streaming_multi_topic_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch_root(spark) as root:
        tp_a = T.create_topic(root, "a", n_partitions=2)
        tp_b = T.create_topic(root, "b", n_partitions=2)
        _append_range(spark, sf_dir, tp_a, 0, 500)
        _append_range(spark, sf_dir, tp_b, 500, 1000)

        def src(tp, name):
            return (
                spark.readStream.format("pulsarlike")
                .option("path", tp)
                .load()
                .select(F.lit(name).alias("topic"), "key", "sequence_id")
            )

        unioned = src(tp_a, "topic-a").unionByName(src(tp_b, "topic-b"))

        def grow():
            _append_range(spark, sf_dir, tp_a, 1000, 1200)
            _append_range(spark, sf_dir, tp_b, 1200, 1400)

        rows = _run_bounded(unioned, root + "/ck", [None, grow])
        return T.lookup_frame(spark, rows, unioned.schema)


ENC_STREAM_DOCS = 150  # doc_id < ENC_STREAM_DOCS feed the encrypted topic


@query(
    "streaming_encrypted_scan",
    section="2.A12-stream",
    doc="LIVE consumer decryption of an encrypted topic "
    "(MessageCryptoBc.decrypt on the consumer receive path, "
    "ConsumerImpl.messageReceived): document payloads are AES-GCM encrypted "
    "at append (per-batch data key wrapped into the encryption_keys "
    "envelope column, IV in encryption_param — both now at-rest parquet "
    "columns), streamed back through the pulsarlike source across TWO "
    "availableNow generations (the checkpointed cursor carries the "
    "subscription over the growth boundary), and decrypted in-stream by "
    "the scan-local Arrow kernel. Exact oracle: every delivered payload "
    "byte-exact vs the original text (length + md5) — any cipher, "
    "envelope-storage, or cursor defect hash-mismatches.",
    oracle=f"""
        SELECT CAST(doc_id AS VARCHAR) AS key,
               CAST(LENGTH(text) AS BIGINT) AS payload_len,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id < {ENC_STREAM_DOCS}
    """,
)
def streaming_encrypted_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.functions.crypto import (
        CryptoKeyReader,
        decrypt_at_scan,
        encrypt_at_append,
    )

    keys = {"stream-key": bytes(range(100, 132))}

    def append_docs(tp, lo, hi):
        docs = (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id").between(lo, hi - 1))
            .select(
                F.col("doc_id").cast("string").alias("key"),
                F.to_binary(F.col("text"), F.lit("utf-8")).alias("value"),
                F.timestamp_micros(F.col("doc_id") * 1_000_000).alias("publish_time"),
                F.timestamp_micros(F.col("doc_id") * 1_000_000).alias("event_time"),
                F.lit("producer-docs").alias("producer_name"),
                F.col("doc_id").alias("sequence_id"),
            )
        )
        enc = encrypt_at_append(docs, ["stream-key"], CryptoKeyReader(keys))
        T.append(spark, enc, tp)

    with scratch_root(spark) as root:
        tp = T.create_topic(root, "enc", n_partitions=2)
        append_docs(tp, 0, 100)
        stream = spark.readStream.format("pulsarlike").option("path", tp).load()
        dec = decrypt_at_scan(stream, CryptoKeyReader(keys), failure_action="FAIL")
        payload = F.col("value").cast("string")
        out = dec.select(
            "key",
            F.length(payload).cast("long").alias("payload_len"),
            F.md5(payload).alias("payload_md5"),
        )
        rows = _run_bounded(
            out, root + "/ck", [None, lambda: append_docs(tp, 100, ENC_STREAM_DOCS)]
        )
        return T.lookup_frame(spark, rows, out.schema)


@query(
    "streaming_psi_monitor",
    section="2.G-stream",
    doc="LIVE drift monitor: per-type counts split into a FIXED reference "
    "window (sequence_id < 200) and the accruing current window, "
    "maintained incrementally across two availableNow generations with "
    "the versioned-view merge (state ∝ #types × 2); the final emission "
    "computes each type's PSI term from the merged exact counts — the "
    "streaming deployment shape of psi_drift: the monitor never re-reads "
    "the reference corpus, new data only increments the current side. "
    "Exact oracle over the replayed range.",
    oracle=f"""
        {_ENV},
        cat AS (
            SELECT event_type,
                   SUM(CASE WHEN sequence_id < 200 THEN 1 ELSE 0 END) AS n_ref,
                   SUM(CASE WHEN sequence_id >= 200 THEN 1 ELSE 0 END) AS n_cur
            FROM envelope WHERE sequence_id < 400
            GROUP BY 1
        ),
        tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM cat)
        SELECT cat.event_type,
               CAST(cat.n_ref AS BIGINT) AS n_ref,
               CAST(cat.n_cur AS BIGINT) AS n_cur,
               CASE WHEN cat.n_ref > 0 AND cat.n_cur > 0 THEN
                   ROUND((CAST(cat.n_cur AS DOUBLE) / tot.t_cur
                          - CAST(cat.n_ref AS DOUBLE) / tot.t_ref)
                         * LN((CAST(cat.n_cur AS DOUBLE) / tot.t_cur)
                              / (CAST(cat.n_ref AS DOUBLE) / tot.t_ref)), 6)
               END AS psi_term
        FROM cat, tot
    """,
)
def streaming_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    view_schema = "event_type string, n_ref long, n_cur long"
    with scratch_root(spark) as root:
        tp = _replay_topic(spark, sf_dir, root, 0, 300)
        src = spark.readStream.format("pulsarlike").option("path", tp).load()
        upsert, state = _versioned_view(
            root,
            view_schema,
            lambda b: b.groupBy(
                F.col("properties")["event_type"].alias("event_type")
            ).agg(
                F.sum(F.when(F.col("sequence_id") < 200, 1).otherwise(0)).alias(
                    "n_ref"
                ),
                F.sum(F.when(F.col("sequence_id") >= 200, 1).otherwise(0)).alias(
                    "n_cur"
                ),
            ),
            lambda u: u.groupBy("event_type").agg(
                F.sum("n_ref").cast("long").alias("n_ref"),
                F.sum("n_cur").cast("long").alias("n_cur"),
            ),
        )
        _run_bounded_foreach(
            src,
            root + "/ck",
            [None, lambda: _append_range(spark, sf_dir, tp, 300, 400)],
            upsert,
        )
        cat = _view_frame(spark, state, view_schema)
        tot = cat.agg(
            F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
        )
        p_ref = F.col("n_ref").cast("double") / F.col("t_ref")
        p_cur = F.col("n_cur").cast("double") / F.col("t_cur")
        return cat.crossJoin(F.broadcast(tot)).select(
            "event_type",
            "n_ref",
            "n_cur",
            F.when(
                (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
                F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6),
            ).alias("psi_term"),
        )


@query(
    "streaming_hll_distinct",
    section="2.G-stream",
    doc="LIVE mergeable-sketch state: per-type HyperLogLog registers (the "
    "hll_explicit_distinct construction) maintained INCREMENTALLY across "
    "two availableNow generations with the versioned-view merge — each "
    "micro-batch contributes its own register partial and the merge is "
    "register-wise MAX, so state is #types x 256 rows regardless of "
    "stream length, and no batch ever re-reads history. The final "
    "emission derives the distinct-user estimate purely from the merged "
    "registers (grid-free: absent buckets contribute 2^0 each). The "
    "oracle rebuilds the same registers in SQL over the replayed range.",
    oracle=f"""
        {_ENV},
        h AS (
            SELECT event_type,
                   CAST(concat('0x', substr(md5(key), 1, 13)) AS BIGINT) AS hv
            FROM envelope WHERE sequence_id < 400
        ),
        reg AS (
            SELECT event_type, hv % 256 AS bucket,
                   MAX(CASE WHEN hv // 256 = 0 THEN 45
                            ELSE 45 - LENGTH(bin(hv // 256)) END) AS rho
            FROM h GROUP BY 1, 2
        ),
        est AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_registers,
                   SUM(1.0 / (CAST(1 AS BIGINT) << rho))
                       + (256 - COUNT(*)) AS denom,
                   256 - COUNT(*) AS zeros
            FROM reg GROUP BY 1
        )
        SELECT event_type, n_registers,
               ROUND(CASE WHEN 47072.71267120224 / denom <= 2.5 * 256
                           AND zeros > 0
                          THEN 256 * LN(CAST(256 AS DOUBLE) / zeros)
                          ELSE 47072.71267120224 / denom END, 4)
                   AS hll_estimate
        FROM est
    """,
)
def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.operators.advanced import (
        HLL_ALPHA_M2,
        HLL_M,
        HLL_RHO_MAX,
    )

    view_schema = "event_type string, bucket long, rho int"
    with scratch_root(spark) as root:
        tp = _replay_topic(spark, sf_dir, root, 0, 300)
        src = spark.readStream.format("pulsarlike").option("path", tp).load()
        hv = F.expr("CAST(conv(substr(md5(key), 1, 13), 16, 10) AS BIGINT)")
        upsert, state = _versioned_view(
            root,
            view_schema,
            lambda b: b.select(
                F.col("properties")["event_type"].alias("event_type"),
                hv.alias("hv"),
            )
            .groupBy(
                "event_type", (F.col("hv") % HLL_M).alias("bucket")
            )
            .agg(
                F.max(
                    F.expr(
                        f"CASE WHEN hv DIV {HLL_M} = 0 THEN {HLL_RHO_MAX} "
                        f"ELSE {HLL_RHO_MAX} - LENGTH(bin(hv DIV {HLL_M})) END"
                    )
                )
                .cast("int")
                .alias("rho")
            ),
            lambda u: u.groupBy("event_type", "bucket").agg(
                F.max("rho").cast("int").alias("rho")
            ),
        )
        _run_bounded_foreach(
            src,
            root + "/ck",
            [None, lambda: _append_range(spark, sf_dir, tp, 300, 400)],
            upsert,
        )
        est = _view_frame(spark, state, view_schema).groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_registers"),
            (
                F.sum(
                    F.expr(
                        "1.0 / shiftleft(CAST(1 AS BIGINT), CAST(rho AS INT))"
                    )
                )
                + (HLL_M - F.count(F.lit(1)))
            ).alias("denom"),
            (HLL_M - F.count(F.lit(1))).alias("zeros"),
        )
        raw = F.lit(HLL_ALPHA_M2) / F.col("denom")
        corrected = F.when(
            (raw <= 2.5 * HLL_M) & (F.col("zeros") > 0),
            F.lit(HLL_M) * F.log(F.lit(float(HLL_M)) / F.col("zeros")),
        ).otherwise(raw)
        return est.select(
            "event_type", "n_registers", F.round(corrected, 4).alias("hll_estimate")
        )


# --- streaming CUSUM change-point monitor (VERDICT r8 directive #7) --------

CUSUM_BUCKET = 50    # sequence ids per volume bucket (the monitor's "day")
CUSUM_REF_HI = 300   # allowance k is frozen from this prefix (generation 1)


def _cusum_fold(opens: DataFrame, carry: DataFrame, kdf: DataFrame) -> DataFrame:
    """Fold CLOSED volume buckets into the per-type CUSUM carry state.

    The CUSUM recurrence s_d = max(0, s_{d-1} + x_d - k) is sequential, but
    its prefix closed form s_d = P_d - min(0, min(P_1..P_d)) (P = running
    sum of x - k) makes the fold associative: a carry of
    (P_last, M = min(0, prefix mins), peak_s, n, last_x, last_bucket)
    absorbs any suffix of new buckets with one type-partitioned window.
    State is ONE ROW PER TYPE regardless of stream length — the bounded
    per-key state the broker's sequential monitor would hold.

    ``opens``: (event_type, bucket, x) closed buckets to retire;
    ``carry``: prior carry (empty on first fold); ``kdf``: frozen allowance.
    Types absent from ``kdf`` (never seen in the reference window) are
    dropped, mirroring the oracle's inner join.
    """
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")  # unique per type after the commutative count merge
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = (
        opens.join(F.broadcast(kdf), "event_type")
        .join(
            F.broadcast(
                carry.select(
                    "event_type",
                    F.col("p").alias("c_p"),
                    F.col("m").alias("c_m"),
                    F.col("peak").alias("c_peak"),
                    F.col("n").alias("c_n"),
                )
            ),
            "event_type",
            "left",
        )
        .fillna({"c_p": 0, "c_m": 0, "c_peak": 0, "c_n": 0})
    )
    scored = (
        base.withColumn(
            "pd",
            F.col("c_p")
            + F.sum(F.col("x") * CUSUM_SCALE - F.col("k_scaled")).over(w),
        )
        .withColumn("m_d", F.least(F.col("c_m"), F.min("pd").over(w)))
        .withColumn("s_d", F.col("pd") - F.col("m_d"))
    )
    folded = scored.groupBy("event_type").agg(
        F.max_by("pd", "bucket").alias("p"),
        F.min("m_d").alias("m"),
        F.greatest(F.max("s_d"), F.max("c_peak")).alias("peak"),
        (F.max("c_n") + F.count(F.lit(1))).alias("n"),
        F.max_by("x", "bucket").alias("last_x"),
        F.max("bucket").alias("last_bucket"),
    )
    untouched = carry.join(folded, "event_type", "left_anti")
    return folded.unionByName(untouched)


_CUSUM_NULLS = ["v2", "v3", "v4", "v5"]


def _cusum_open_rows(df: DataFrame) -> DataFrame:
    """(event_type, bucket, x) -> wide view rows of kind 'open'."""
    return df.select(
        "event_type",
        F.lit("open").alias("kind"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("x").cast("long").alias("v1"),
        *[F.lit(None).cast("long").alias(c) for c in _CUSUM_NULLS],
    )


def _cusum_merge(u: DataFrame) -> DataFrame:
    """Versioned-view merge: open bucket counts add commutatively (safe under
    any micro-batch split of a generation); carry/k rows pass through — they
    are only rewritten by the between-generation compaction."""
    opens = _cusum_open_rows(
        u.filter(F.col("kind") == "open")
        .groupBy("event_type", "bucket")
        .agg(F.sum("v1").alias("x"))
    )
    return opens.unionByName(u.filter(F.col("kind") != "open"))


@query(
    "streaming_cusum_alarm",
    section="2.G-stream",
    doc="LIVE CUSUM change-point monitor (the streaming deployment shape of "
    "cusum_changepoint, per VERDICT r8 #7): per-type volumes bucketed by "
    f"sequence range ({CUSUM_BUCKET} ids/bucket) accrue in the versioned "
    "view; at each generation commit the closed buckets are RETIRED into a "
    "one-row-per-type carry via the associative prefix closed form "
    "s = P - min(0, min prefix P), so state is bounded by #types + the "
    "open bucket — generation 2 never re-reads generation 1. The allowance "
    f"k is frozen from the generation-1 reference (sequence < {CUSUM_REF_HI}"
    "), fixed-point BIGINT so the fold is exact on both engines. Emits one "
    "row per type: current statistic + alarm, peak statistic + alarm-ever. "
    "Reference windowing tests: pulsar-functions/instance/src/test/java/org/"
    "apache/pulsar/functions/windowing/WindowManagerTest.java.",
    oracle=f"""
        {_ENV},
        b AS (
            SELECT event_type, sequence_id // {CUSUM_BUCKET} AS bucket,
                   COUNT(*) AS x
            FROM envelope WHERE sequence_id < 400
            GROUP BY 1, 2
        ),
        k AS (
            SELECT event_type,
                   (SUM(x) * {CUSUM_SCALE}) // COUNT(*) AS k_scaled
            FROM b WHERE bucket < {CUSUM_REF_HI // CUSUM_BUCKET}
            GROUP BY 1
        ),
        p AS (
            SELECT b.event_type, b.bucket, b.x, k.k_scaled,
                   SUM(b.x * {CUSUM_SCALE} - k.k_scaled)
                       OVER (PARTITION BY b.event_type ORDER BY b.bucket) AS pd
            FROM b JOIN k ON k.event_type = b.event_type
        ),
        s AS (
            SELECT event_type, bucket, x, k_scaled,
                   pd - LEAST(MIN(pd) OVER (PARTITION BY event_type
                                            ORDER BY bucket), 0) AS s_scaled
            FROM p
        ),
        fin AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
                   MAX(bucket) AS last_bucket, MAX(s_scaled) AS peak_s_scaled,
                   MAX(k_scaled) AS k_scaled
            FROM s GROUP BY 1
        )
        SELECT f.event_type, f.n_buckets,
               CAST(f.last_bucket AS BIGINT) AS last_bucket,
               CAST(s.x AS BIGINT) AS x_last,
               CAST(s.s_scaled AS BIGINT) AS s_scaled,
               s.s_scaled > {CUSUM_H_MULT} * f.k_scaled AS alarm_now,
               CAST(f.peak_s_scaled AS BIGINT) AS peak_s_scaled,
               f.peak_s_scaled > {CUSUM_H_MULT} * f.k_scaled AS alarm_ever
        FROM fin f
        JOIN s ON s.event_type = f.event_type AND s.bucket = f.last_bucket
    """,
)
def streaming_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    view_schema = (
        "event_type string, kind string, bucket long, "
        "v1 long, v2 long, v3 long, v4 long, v5 long"
    )
    out_schema = (
        "event_type string, n_buckets long, last_bucket long, x_last long, "
        "s_scaled long, alarm_now boolean, peak_s_scaled long, "
        "alarm_ever boolean"
    )

    def view_parts(path):
        v = spark.read.parquet(path)
        opens = v.filter(F.col("kind") == "open").select(
            "event_type", "bucket", F.col("v1").alias("x")
        )
        carry = v.filter(F.col("kind") == "carry").select(
            "event_type",
            F.col("v1").alias("p"),
            F.col("v2").alias("m"),
            F.col("v3").alias("peak"),
            F.col("v4").alias("n"),
            F.col("v5").alias("last_x"),
            F.col("bucket").alias("last_bucket"),
        )
        kdf = v.filter(F.col("kind") == "k").select(
            "event_type", F.col("v1").alias("k_scaled")
        )
        return opens, carry, kdf

    with scratch_root(spark) as root:
        tp = _replay_topic(spark, sf_dir, root, 0, CUSUM_REF_HI)
        src = spark.readStream.format("pulsarlike").option("path", tp).load()
        upsert, state = _versioned_view(
            root,
            view_schema,
            lambda b: _cusum_open_rows(
                b.groupBy(
                    F.col("properties")["event_type"].alias("event_type"),
                    F.expr(f"sequence_id DIV {CUSUM_BUCKET}").alias("bucket"),
                ).agg(F.count(F.lit(1)).alias("x"))
            ),
            _cusum_merge,
        )
        # generation 1: the reference range accrues as open bucket counts
        _run_bounded_foreach(src, root + "/ck", [None], upsert)
        if state["path"] is None:
            return T.lookup_frame(spark, [], out_schema)

        # generation-1 commit: freeze the allowance k from the reference
        # buckets, retire every closed bucket (all but each type's max —
        # the next generation may still extend it) into the per-type carry
        opens, carry, kdf = view_parts(state["path"])
        ref_buckets = CUSUM_REF_HI // CUSUM_BUCKET
        kdf = opens.filter(F.col("bucket") < ref_buckets).groupBy(
            "event_type"
        ).agg(F.expr(f"(SUM(x) * {CUSUM_SCALE}) DIV COUNT(*)").alias("k_scaled"))
        mx = opens.groupBy("event_type").agg(F.max("bucket").alias("mxb"))
        closed = opens.join(F.broadcast(mx), "event_type").filter(
            F.col("bucket") < F.col("mxb")
        ).select("event_type", "bucket", "x")
        still_open = opens.join(F.broadcast(mx), "event_type").filter(
            F.col("bucket") == F.col("mxb")
        ).select("event_type", "bucket", "x")
        new_carry = _cusum_fold(closed, carry, kdf)
        compact = os.path.join(root, "view_compact_1")
        _cusum_open_rows(still_open).unionByName(
            new_carry.select(
                "event_type",
                F.lit("carry").alias("kind"),
                F.col("last_bucket").cast("long").alias("bucket"),
                F.col("p").cast("long").alias("v1"),
                F.col("m").cast("long").alias("v2"),
                F.col("peak").cast("long").alias("v3"),
                F.col("n").cast("long").alias("v4"),
                F.col("last_x").cast("long").alias("v5"),
            )
        ).unionByName(
            kdf.select(
                "event_type",
                F.lit("k").alias("kind"),
                F.lit(None).cast("long").alias("bucket"),
                F.col("k_scaled").cast("long").alias("v1"),
                *[F.lit(None).cast("long").alias(c) for c in _CUSUM_NULLS],
            )
        ).write.mode("overwrite").parquet(compact)
        state["path"] = compact

        # generation 2: new data only ever increments open buckets
        _run_bounded_foreach(
            src,
            root + "/ck",
            [lambda: _append_range(spark, sf_dir, tp, CUSUM_REF_HI, 400)],
            upsert,
        )

        # emission: fold the remaining open buckets and report per type
        opens, carry, kdf = view_parts(state["path"])
        fin = _cusum_fold(opens, carry, kdf)
        h = CUSUM_H_MULT
        out = (
            fin.join(F.broadcast(kdf), "event_type")
            .select(
                "event_type",
                F.col("n").cast("long").alias("n_buckets"),
                F.col("last_bucket").cast("long").alias("last_bucket"),
                F.col("last_x").cast("long").alias("x_last"),
                (F.col("p") - F.col("m")).cast("long").alias("s_scaled"),
                ((F.col("p") - F.col("m")) > h * F.col("k_scaled")).alias(
                    "alarm_now"
                ),
                F.col("peak").cast("long").alias("peak_s_scaled"),
                (F.col("peak") > h * F.col("k_scaled")).alias("alarm_ever"),
            )
            .collect()  # materialize before the temp view dirs are removed
        )
        return T.lookup_frame(spark, out, out_schema)


TDM_REF_HI = 150   # reference window: doc_id < 150 (frozen after gen 1)
TDM_DOCS = 400     # replayed corpus bound
TDM_BAND = 0.2     # alarm when tokens/doc drifts beyond ±20% of reference


@query(
    "streaming_token_drift_monitor",
    section="2.G-stream",
    doc="LIVE token-rate / quality drift monitor for a training-data "
    "ingest stream (the data-pipeline twin of streaming_psi_monitor): "
    "documents flow through a real topic; per SOURCE the monitor keeps "
    f"exact token/char/doc counts split into a FIXED reference window "
    f"(doc_id < {TDM_REF_HI}, frozen once generation 1 commits) and the "
    "accruing current window, maintained incrementally across two "
    "availableNow generations with the versioned-view merge — state is "
    "#sources × 7 integers regardless of stream length, and no "
    "generation re-reads history. The emission derives tokens-per-doc "
    "for both windows, their drift ratio, chars-per-token (the quality "
    f"proxy), and an alarm when the ratio leaves ±{int(TDM_BAND*100)}% — "
    "the monitor a 100 TB ingest pipeline runs to catch a source "
    "suddenly shipping truncated or concatenated documents. Exact "
    "oracle over the replayed range; tokenization matches the corpus "
    "convention (split lower(trim(text)) on whitespace).",
    oracle=f"""
        WITH cat AS (
            SELECT source,
                   SUM(CASE WHEN doc_id < {TDM_REF_HI} THEN 1 ELSE 0 END)
                       AS n_ref,
                   SUM(CASE WHEN doc_id < {TDM_REF_HI}
                            THEN len(string_split_regex(lower(trim(text)), '\\s+'))
                            ELSE 0 END) AS tok_ref,
                   SUM(CASE WHEN doc_id < {TDM_REF_HI}
                            THEN length(text) ELSE 0 END) AS ch_ref,
                   SUM(CASE WHEN doc_id >= {TDM_REF_HI} THEN 1 ELSE 0 END)
                       AS n_cur,
                   SUM(CASE WHEN doc_id >= {TDM_REF_HI}
                            THEN len(string_split_regex(lower(trim(text)), '\\s+'))
                            ELSE 0 END) AS tok_cur,
                   SUM(CASE WHEN doc_id >= {TDM_REF_HI}
                            THEN length(text) ELSE 0 END) AS ch_cur
            FROM documents WHERE doc_id < {TDM_DOCS}
            GROUP BY 1
        )
        SELECT source,
               CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_cur AS BIGINT) AS n_cur,
               CAST(tok_ref AS BIGINT) AS tok_ref,
               CAST(tok_cur AS BIGINT) AS tok_cur,
               CASE WHEN n_ref > 0
                    THEN ROUND(CAST(tok_ref AS DOUBLE) / n_ref, 4) END
                   AS ref_tokens_per_doc,
               CASE WHEN n_cur > 0
                    THEN ROUND(CAST(tok_cur AS DOUBLE) / n_cur, 4) END
                   AS cur_tokens_per_doc,
               CASE WHEN tok_ref > 0
                    THEN ROUND(CAST(ch_ref AS DOUBLE) / tok_ref, 4) END
                   AS ref_chars_per_token,
               CASE WHEN tok_cur > 0
                    THEN ROUND(CAST(ch_cur AS DOUBLE) / tok_cur, 4) END
                   AS cur_chars_per_token,
               CASE WHEN n_ref > 0 AND n_cur > 0 AND tok_ref > 0
                    THEN ROUND((CAST(tok_cur AS DOUBLE) / n_cur)
                               / (CAST(tok_ref AS DOUBLE) / n_ref), 4) END
                   AS drift_ratio,
               CASE WHEN n_ref > 0 AND n_cur > 0 AND tok_ref > 0
                    THEN ROUND((CAST(tok_cur AS DOUBLE) / n_cur)
                               / (CAST(tok_ref AS DOUBLE) / n_ref), 4)
                         NOT BETWEEN {1 - TDM_BAND} AND {1 + TDM_BAND}
               END AS alarm
        FROM cat
    """,
)
def streaming_token_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    view_schema = (
        "source string, n_ref long, tok_ref long, ch_ref long, "
        "n_cur long, tok_cur long, ch_cur long"
    )

    def append_docs(tp, lo, hi):
        docs = (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id").between(lo, hi - 1))
            .select(
                F.col("doc_id").cast("string").alias("key"),
                F.to_binary(F.col("text"), F.lit("utf-8")).alias("value"),
                F.timestamp_micros(F.col("doc_id") * 1_000_000).alias(
                    "publish_time"
                ),
                F.timestamp_micros(F.col("doc_id") * 1_000_000).alias(
                    "event_time"
                ),
                F.col("source").alias("producer_name"),
                F.col("doc_id").alias("sequence_id"),
            )
        )
        T.append(spark, docs, tp)

    with scratch_root(spark) as root:
        tp = T.create_topic(root, "docs", n_partitions=2)
        append_docs(tp, 0, 300)
        src = spark.readStream.format("pulsarlike").option("path", tp).load()
        text = F.lower(F.trim(F.col("value").cast("string")))
        toks = F.size(F.split(text, r"\s+")).cast("long")
        chars = F.length(F.col("value").cast("string")).cast("long")
        is_ref = F.col("sequence_id") < TDM_REF_HI

        upsert, state = _versioned_view(
            root,
            view_schema,
            lambda b: b.groupBy(F.col("producer_name").alias("source")).agg(
                F.sum(F.when(is_ref, 1).otherwise(0)).alias("n_ref"),
                F.sum(F.when(is_ref, toks).otherwise(0)).alias("tok_ref"),
                F.sum(F.when(is_ref, chars).otherwise(0)).alias("ch_ref"),
                F.sum(F.when(~is_ref, 1).otherwise(0)).alias("n_cur"),
                F.sum(F.when(~is_ref, toks).otherwise(0)).alias("tok_cur"),
                F.sum(F.when(~is_ref, chars).otherwise(0)).alias("ch_cur"),
            ),
            lambda u: u.groupBy("source").agg(
                *[
                    F.sum(c).cast("long").alias(c)
                    for c in [
                        "n_ref",
                        "tok_ref",
                        "ch_ref",
                        "n_cur",
                        "tok_cur",
                        "ch_cur",
                    ]
                ]
            ),
        )
        _run_bounded_foreach(
            src,
            root + "/ck",
            [None, lambda: append_docs(tp, 300, TDM_DOCS)],
            upsert,
        )
        cat = _view_frame(spark, state, view_schema)
        ref_tpd = F.col("tok_ref").cast("double") / F.col("n_ref")
        cur_tpd = F.col("tok_cur").cast("double") / F.col("n_cur")
        drift = F.round(cur_tpd / ref_tpd, 4)
        ok = (
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0) & (F.col("tok_ref") > 0)
        )
        return cat.select(
            "source",
            "n_ref",
            "n_cur",
            "tok_ref",
            "tok_cur",
            F.when(F.col("n_ref") > 0, F.round(ref_tpd, 4)).alias(
                "ref_tokens_per_doc"
            ),
            F.when(F.col("n_cur") > 0, F.round(cur_tpd, 4)).alias(
                "cur_tokens_per_doc"
            ),
            F.when(
                F.col("tok_ref") > 0,
                F.round(F.col("ch_ref").cast("double") / F.col("tok_ref"), 4),
            ).alias("ref_chars_per_token"),
            F.when(
                F.col("tok_cur") > 0,
                F.round(F.col("ch_cur").cast("double") / F.col("tok_cur"), 4),
            ).alias("cur_chars_per_token"),
            F.when(ok, drift).alias("drift_ratio"),
            F.when(
                ok, ~drift.between(F.lit(1 - TDM_BAND), F.lit(1 + TDM_BAND))
            ).alias("alarm"),
        )


WSR_HI = 2000  # replayed sequence range (bounded runtime; gen split at half)


@query(
    "streaming_watermark_skew_rebalance",
    section="2.G-stream",
    doc="LIVE watermark-skew REBALANCER AUDIT (the ops companion of "
    "watermark_partition_lag, deployed as an incremental monitor — "
    "PersistentTopicsBase stats expose per-producer/subscription "
    "frontiers; multi-input watermarking takes the MIN across inputs, "
    "so one straggling producer stalls the whole stream): per producer "
    "the monitor keeps an exact event count and max-event-time frontier "
    "(epoch micros), maintained incrementally across two availableNow "
    "generations with the versioned-view merge — per-batch partials "
    "merge by SUM/MAX, state is #producers x 2 integers regardless of "
    "stream length, no generation re-reads history. The emission is the "
    "rebalance worksheet: each producer's lag behind the most-advanced "
    "frontier, whether it DEFINES the global watermark (the straggler "
    "the pipeline operator chases), its load share in basis points, and "
    "the ceil(relative-load) split factor a rebalancer would apply — "
    "all exact integers. Exact hash oracle over the replayed range.",
    oracle=f"""
        {_ENV},
        st AS (
            SELECT producer_name,
                   COUNT(*) AS n,
                   MAX(epoch_us(event_time)) AS frontier_us
            FROM envelope WHERE sequence_id < {WSR_HI}
            GROUP BY 1
        ),
        g AS (
            SELECT MAX(frontier_us) AS gmax, MIN(frontier_us) AS gmin,
                   SUM(n) AS total, COUNT(*) AS np
            FROM st
        )
        SELECT st.producer_name,
               CAST(st.n AS BIGINT) AS n_events,
               CAST(st.frontier_us AS BIGINT) AS frontier_us,
               CAST(g.gmax - st.frontier_us AS BIGINT) AS lag_us,
               st.frontier_us = g.gmin AS defines_watermark,
               CAST(st.n * 10000 // g.total AS BIGINT) AS load_bp,
               CAST((st.n * g.np + g.total - 1) // g.total AS BIGINT)
                   AS rebalance_splits
        FROM st, g
    """,
)
def streaming_watermark_skew_rebalance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    view_schema = "producer_name string, n long, frontier_us long"
    with scratch_root(spark) as root:
        tp = _replay_topic(spark, sf_dir, root, 0, WSR_HI // 2)
        src = spark.readStream.format("pulsarlike").option("path", tp).load()
        upsert, state = _versioned_view(
            root,
            view_schema,
            lambda b: b.groupBy("producer_name").agg(
                F.count(F.lit(1)).alias("n"),
                F.max(F.unix_micros("event_time")).alias("frontier_us"),
            ),
            lambda u: u.groupBy("producer_name").agg(
                F.sum("n").cast("long").alias("n"),
                F.max("frontier_us").cast("long").alias("frontier_us"),
            ),
        )
        _run_bounded_foreach(
            src,
            root + "/ck",
            [None, lambda: _append_range(spark, sf_dir, tp, WSR_HI // 2, WSR_HI)],
            upsert,
        )
        st = _view_frame(spark, state, view_schema)
        g = st.agg(
            F.max("frontier_us").alias("gmax"),
            F.min("frontier_us").alias("gmin"),
            F.sum("n").alias("total"),
            F.count(F.lit(1)).alias("np"),
        )
        return st.crossJoin(F.broadcast(g)).select(
            "producer_name",
            F.col("n").alias("n_events"),
            "frontier_us",
            (F.col("gmax") - F.col("frontier_us")).cast("long").alias("lag_us"),
            (F.col("frontier_us") == F.col("gmin")).alias("defines_watermark"),
            F.expr("CAST(n * 10000 DIV total AS BIGINT)").alias("load_bp"),
            F.expr("CAST((n * np + total - 1) DIV total AS BIGINT)").alias(
                "rebalance_splits"
            ),
        )


# --------------------------------------------------------------------------
# Streaming exactly-once sink-commit audit (K1/K2 streaming twin of
# operators/delivery.exactly_once_replay_audit — VERDICT r12 item 4a)
# --------------------------------------------------------------------------
EOS_GEN1_HI = 250   # generation 1: sequence_id [0, 250)
EOS_TOTAL = 400     # generation 2 appends [250, 400)


@query(
    "streaming_exactly_once_sink_commit",
    section="2.K1-stream",
    doc="LIVE exactly-once SINK-COMMIT audit — the streaming twin of the "
    "batch exactly_once_replay_audit, proving the end-to-end recipe a "
    "transactional producer relies on (TopicTransactionBuffer.java:258 "
    "commits buffered sends atomically at txn commit; "
    "MessageDeduplication.java:325 drops replayed sequence ids at the "
    "publish path): a checkpointed Structured Streaming query reads the "
    f"input topic (seq < {EOS_GEN1_HI}) and its foreachBatch sink "
    "appends each micro-batch to a REAL output topic with producer "
    "dedup on. The sink is then KILLED mid-stream — an injected crash "
    "AFTER the topic append commits but BEFORE Spark commits the batch "
    "to the checkpoint (exactly the at-least-once window foreachBatch "
    "documents). The RESTARTED query replays the uncommitted batch "
    "VERBATIM from the checkpoint WAL; the output topic's per-producer "
    "sequence high-water marks drop every replayed row. A second "
    f"generation ([{EOS_GEN1_HI}, {EOS_TOTAL})) then streams through "
    "cleanly. The committed output log must equal ONE clean publish: "
    "per-partition count, max sequence and payload md5 checksum, which "
    "the oracle computes directly from events. Scale: at-least-once "
    "sink + idempotent producer = exactly-once with NO driver-side "
    "state — dedup rides the manifest hwm metadata, and the audit "
    "aggregate is one partial-agg scan of the output topic.",
    oracle=f"""
        SELECT CAST(user_id % 8 AS BIGINT) AS partition,
               COUNT(*) AS n_committed,
               MAX(event_id) AS max_seq,
               CAST(SUM(CAST(('0x' || substr(md5(props), 1, 8)) AS BIGINT))
                    AS BIGINT) AS payload_md5_sum
        FROM events WHERE event_id < {EOS_TOTAL}
        GROUP BY 1
    """,
)
def streaming_exactly_once_sink_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch_root(spark) as root:
        in_tp = _replay_topic(spark, sf_dir, root + "/in", 0, EOS_GEN1_HI)
        out_tp = T.create_topic(root + "/out", "sink", n_partitions=8)
        src = spark.readStream.format("pulsarlike").option("path", in_tp).load()
        state = {"crashed": False}

        def sink(batch, bid: int) -> None:
            # the real producer path: append the envelope (offsets assigned
            # by the topic) with per-producer sequence dedup ON. The output
            # topic re-routes on the message key (user_id % 8, the
            # wrap_events router) — the input replay topic's 2-partition
            # layout is an ingest detail, not the sink's routing.
            env = batch.drop("offset").withColumn(
                "partition", (F.col("key").cast("long") % 8).cast("int")
            )
            T.append(batch.sparkSession, env, out_tp, dedup=True)
            if not state["crashed"]:
                state["crashed"] = True
                raise RuntimeError(
                    "injected sink crash: append committed, checkpoint not"
                )

        def run_once() -> None:
            q = (
                src.writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", root + "/ck")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        try:
            run_once()  # run 1: crashes mid-stream after the sink append
        except Exception:
            pass  # the injected crash surfaces as a StreamingQueryException
        run_once()  # restart: WAL replays the batch, hwm dedup drops it all
        _append_range(spark, sf_dir, in_tp, EOS_GEN1_HI, EOS_TOTAL)
        run_once()  # generation 2 streams through cleanly
        out = (
            T.read_topic(spark, out_tp)
            .groupBy(F.col("partition").cast("long").alias("partition"))
            .agg(
                F.count(F.lit(1)).alias("n_committed"),
                F.max("sequence_id").alias("max_seq"),
                F.sum(
                    F.conv(F.substring(F.md5("value"), 1, 8), 16, 10).cast("long")
                ).cast("long").alias("payload_md5_sum"),
            )
        )
        return T.lookup_frame(spark, out.collect(), out.schema)  # 8 rows


@query(
    "streaming_contamination_monitor",
    section="2.N-text",
    doc="STREAMING CONTAMINATION MONITOR — the streaming twin of "
    "cross_corpus_overlap_spans, closing the one §2.N contamination "
    "capability that was batch-only (VERDICT r13 item 6a): held-out "
    "documents ARRIVE as topic messages across two checkpointed "
    "availableNow generations and each micro-batch is scored against the "
    "FIXED reference corpus (the even-doc_id trigram set, a persisted "
    "static frame — the stream-static join discipline: the reference is "
    "materialized once, not re-derived per batch) with EXACTLY the batch "
    "query's plan (text.overlap_span_stats — trigram positions, hit "
    "join, gaps-and-islands longest explained run). The checkpointed "
    "cursor guarantees generation 2 scores only the newly arrived docs; "
    "`gen` records which generation delivered each doc. This is the "
    "eval-set decontamination gate a training pipeline runs ON INGEST "
    "(GPT-3 appendix C / PaLM's overlap analysis) rather than as a "
    "post-hoc batch sweep. Scale: per batch the work is one shuffle "
    "join keyed on the trigram against the persisted reference; state "
    "is the source cursor only — per-doc scoring needs no cross-batch "
    "state because a document arrives whole (chunk reassembly is the "
    "separate operator).",
    oracle=rf"""
        WITH tok AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents
        ),
        tg AS (
            SELECT doc_id, i AS pos, array_to_string(ws[i:i+2], ' ') AS tgm
            FROM tok, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
        ),
        ref AS (SELECT DISTINCT tgm FROM tg WHERE doc_id % 2 = 0),
        held AS (
            SELECT doc_id, pos, tgm FROM tg
            WHERE doc_id % 2 = 1 AND doc_id < 400
        ),
        hit AS (
            SELECT h.doc_id, h.pos, r.tgm IS NOT NULL AS is_hit
            FROM held h LEFT JOIN ref r USING (tgm)
        ),
        runs AS (
            SELECT doc_id,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                       AS grp
            FROM hit WHERE is_hit
        ),
        rl AS (SELECT doc_id, COUNT(*) AS run FROM runs GROUP BY doc_id, grp),
        mx AS (SELECT doc_id, MAX(run) AS max_run FROM rl GROUP BY doc_id),
        agg AS (
            SELECT doc_id, COUNT(*) AS n_tri,
                   SUM(CASE WHEN is_hit THEN 1 ELSE 0 END) AS n_hit
            FROM hit GROUP BY doc_id
        )
        SELECT a.doc_id,
               CAST(CASE WHEN a.doc_id < 200 THEN 1 ELSE 2 END AS INT)
                   AS gen,
               CAST(a.n_tri AS BIGINT) AS n_tri,
               CAST(a.n_hit AS BIGINT) AS n_hit,
               CAST(COALESCE(m.max_run, 0) AS BIGINT) AS max_run,
               CAST(CASE WHEN m.max_run IS NOT NULL THEN m.max_run + 2
                    ELSE 0 END AS BIGINT) AS matched_span_tokens,
               ROUND(a.n_hit * 1.0 / a.n_tri, 4) AS overlap_ratio
        FROM agg a LEFT JOIN mx m USING (doc_id)
    """,
)
def streaming_contamination_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.catalog import persist_shared_corpus_frame
    from pulsar_3_2_codedump_spark.functions.text import (
        SB_SCORE_DOCS,
        doc_trigrams,
        overlap_span_stats,
    )

    half = SB_SCORE_DOCS // 2
    out_schema = (
        "doc_id long, gen int, n_tri long, n_hit long, max_run long, "
        "matched_span_tokens long, overlap_ratio double"
    )
    with scratch_root(spark) as root:
        docs = load(spark, sf_dir, "documents")
        # the fixed reference: even-doc trigram set, persisted once —
        # every micro-batch joins against these blocks (stream-static)
        ref = persist_shared_corpus_frame(
            docs.filter(F.col("doc_id") % 2 == 0)
            .select(F.explode(doc_trigrams(F.col("text"))).alias("tgm"))
            .distinct()
            .withColumn("is_hit", F.lit(True))
        )
        ts = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        env = docs.filter(F.col("doc_id") % 2 == 1).filter(
            F.col("doc_id") < SB_SCORE_DOCS
        ).select(
            F.col("doc_id").cast("string").alias("key"),
            F.to_binary(F.col("text"), F.lit("utf-8")).alias("value"),
            F.create_map().cast("map<string,string>").alias("properties"),
            ts.alias("event_time"),
            ts.alias("publish_time"),
            F.lit("heldout").alias("producer_name"),
            F.col("doc_id").alias("sequence_id"),
            F.lit(None).cast("timestamp").alias("deliver_at"),
            F.lit(None).cast("int").alias("marker_type"),
            F.lit(None).cast("string").alias("replicated_from"),
        )
        tp = T.create_topic(root, "q", n_partitions=2)
        T.append(spark, env.filter(F.col("key").cast("long") < half), tp)

        src = (
            spark.readStream.format("pulsarlike")
            .option("path", tp)
            .load()
            .select(
                F.col("key").cast("long").alias("doc_id"),
                F.decode(F.col("value"), "utf-8").alias("text"),
            )
        )
        state = {"gen": 0}
        out: list = []

        def score(batch, _bid):
            if batch.isEmpty():
                return
            held = batch.select(
                "doc_id", F.posexplode(doc_trigrams(F.col("text"))).alias("pos", "tgm")
            ).withColumn("pos", F.col("pos") + 1)
            stats = overlap_span_stats(held, ref).withColumn(
                "gen", F.lit(state["gen"]).cast("int")
            )
            out.extend(stats.select(
                "doc_id", "gen", "n_tri", "n_hit", "max_run",
                "matched_span_tokens", "overlap_ratio",
            ).collect())

        def gen1():
            state["gen"] = 1

        def gen2():
            state["gen"] = 2
            T.append(spark, env.filter(F.col("key").cast("long") >= half), tp)

        _run_bounded_foreach(src, root + "/ck", [gen1, gen2], score)
        return T.lookup_frame(spark, out, out_schema)


ANN_SERVE_K = 5  # neighbors returned per arriving query


def _serve_oracle() -> str:
    from pulsar_3_2_codedump_spark.functions.similarity import (
        _D_CELLS,
        _D_DOT,
        _D_NORM_C,
        _D_NORM_Q,
        QUERY_ID_CAP,
        QUERY_STRIDE,
    )

    return f"""
        WITH {_D_CELLS.strip()},
        topk AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {_D_DOT} / ({_D_NORM_Q} * {_D_NORM_C}) DESC,
                                c.vec_id) AS rnk
            FROM embeddings q
            JOIN probes p ON p.query_id = q.vec_id
            JOIN cellassign ca ON ca.cell_id = p.cell_id
            JOIN embeddings c ON c.vec_id = ca.vec_id
                             AND c.vec_id <> q.vec_id
            WHERE q.vec_id % {QUERY_STRIDE} = 0 AND q.vec_id < {QUERY_ID_CAP})
        SELECT query_id,
               CAST(CASE WHEN query_id % 100 = 0 THEN 1 ELSE 2 END AS INT)
                   AS gen,
               CAST(rnk AS BIGINT) AS rnk, neighbor_id
        FROM topk WHERE rnk <= {ANN_SERVE_K}
    """


@query(
    "streaming_ann_serving",
    section="2.N-sim",
    doc="STREAMING ANN SERVING — the batch-only similarity family's "
    "serving twin (VERDICT r14 item 6b): query ids ARRIVE as topic "
    "messages across two checkpointed availableNow generations (a fresh "
    "producer session per generation, the client-reconnect pattern) and "
    "each micro-batch runs the IVF search plan against the PERSISTED "
    "static index — corpus embeddings with their cell assignment, "
    "materialized once (stream-static join discipline), never re-derived "
    "per batch. Per batch: fetch the arriving queries' vectors from the "
    "index (feature-store by-id lookup; a production client would carry "
    "the vector in the message payload), rank the nprobe nearest cells "
    "per query, join candidates ONLY in the probed cells, exact-cosine "
    f"re-rank, top-{ANN_SERVE_K} per query with vec_id tiebreak. The "
    "checkpointed cursor guarantees generation 2 serves only newly "
    "arrived queries; `gen` records which generation answered each. "
    "Scale: the per-batch query frame is micro-batch-bounded and "
    "broadcast (never the corpus); candidates shuffle on cell_id "
    "against the persisted index partitions; per-batch state beyond "
    "the source cursor is zero. Composable with the PQ-ADC kernels "
    "(ivfadc_ann_topk) when the index stores codes instead of raw "
    "vectors.",
    oracle=_serve_oracle(),
)
def streaming_ann_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.catalog import persist_shared_corpus_frame
    from pulsar_3_2_codedump_spark.functions.similarity import (
        PQIVF_NPROBE,
        _argmin_cell,
        _ivf_cells,
        _query_pred,
        dot,
        l2_norm,
    )

    out_schema = "query_id long, gen int, rnk long, neighbor_id long"
    with scratch_root(spark) as root:
        emb = load(spark, sf_dir, "embeddings")
        cells = _ivf_cells(emb)
        # the static serving index: corpus vectors + their coarse cell +
        # each vector's L2 norm (r17 — computed ONCE at index build, the
        # production vector-store layout), persisted once — every
        # micro-batch joins against these blocks and scores candidates
        # with dot/(q_norm*c_norm), 1 array fold per pair instead of the
        # 3 cosine() folded (identical IEEE expression, same hash)
        av = persist_shared_corpus_frame(
            emb.join(_argmin_cell(emb, cells, "vec_id", 1), "vec_id")
            .withColumn("e_norm", l2_norm(F.col("embedding")))
        )
        ts = F.to_timestamp(F.lit("2024-01-01 00:00:00"))

        def qenv(pred, producer):
            return emb.filter(_query_pred()).filter(pred).select(
                F.col("vec_id").cast("string").alias("key"),
                F.lit(None).cast("binary").alias("value"),
                F.create_map().cast("map<string,string>").alias("properties"),
                ts.alias("event_time"),
                ts.alias("publish_time"),
                F.lit(producer).alias("producer_name"),
                F.col("vec_id").alias("sequence_id"),
                F.lit(None).cast("timestamp").alias("deliver_at"),
                F.lit(None).cast("int").alias("marker_type"),
                F.lit(None).cast("string").alias("replicated_from"),
            )

        tp = T.create_topic(root, "q", n_partitions=2)
        T.append(spark, qenv(F.col("vec_id") % 100 == 0, "qsrc-g1"), tp)

        src = (
            spark.readStream.format("pulsarlike")
            .option("path", tp)
            .load()
            .select(F.col("key").cast("long").alias("query_id"))
        )
        state = {"gen": 0}
        out: list = []
        wq = Window.partitionBy("query_id").orderBy(
            F.desc("cos"), F.asc("neighbor_id")
        )

        def serve(batch, _bid):
            if batch.isEmpty():
                return
            # per-batch plan: broadcast the bounded arriving-query frame,
            # fetch vectors, probe cells, candidate join inside the cells
            qv = F.broadcast(batch).join(
                av.select(
                    "vec_id", F.col("embedding").alias("q_emb"),
                    F.col("e_norm").alias("q_norm"),
                ),
                batch.query_id == F.col("vec_id"),
            ).select("query_id", "q_emb", "q_norm")
            probe = _argmin_cell(
                qv.select(
                    F.col("query_id").alias("vec_id"),
                    F.col("q_emb").alias("embedding"),
                ),
                cells,
                "vec_id",
                PQIVF_NPROBE,
            ).select(F.col("vec_id").alias("query_id"), "cell_id")
            cand = (
                F.broadcast(probe.join(qv, "query_id"))
                .join(av, "cell_id")
                .filter(F.col("vec_id") != F.col("query_id"))
                .withColumn(
                    "cos",
                    dot(F.col("q_emb"), F.col("embedding"))
                    / (F.col("q_norm") * F.col("e_norm")),
                )
                .withColumn("neighbor_id", F.col("vec_id"))
                .withColumn("rnk", F.row_number().over(wq))
                .filter(F.col("rnk") <= ANN_SERVE_K)
                .select(
                    "query_id",
                    F.lit(state["gen"]).cast("int").alias("gen"),
                    F.col("rnk").cast("long").alias("rnk"),
                    "neighbor_id",
                )
            )
            out.extend(cand.collect())

        def gen1():
            state["gen"] = 1

        def gen2():
            state["gen"] = 2
            T.append(spark, qenv(F.col("vec_id") % 100 == 50, "qsrc-g2"), tp)

        _run_bounded_foreach(src, root + "/ck", [gen1, gen2], serve)
        return T.lookup_frame(spark, out, out_schema)


MINHASH_IVM_DOCS = 400       # doc_id bound of the maintained corpus slice
MINHASH_IVM_UPD_MOD = 10     # doc_id % MOD == 3 gets a v2 update in gen 2
MINHASH_IVM_VER_BASE = 1000000  # version offset of generation-2 updates


def _minhash_ivm_oracle() -> str:
    from pulsar_3_2_codedump_spark.functions.dedup_ml import (
        _D_SHINGLES,
        _d_md5int,
        _minhash_sig_sql,
    )

    return f"""
        WITH latest AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS ver, text
            FROM documents
            WHERE doc_id < {MINHASH_IVM_DOCS}
              AND doc_id % {MINHASH_IVM_UPD_MOD} <> 3
            UNION ALL
            SELECT doc_id, CAST(doc_id + {MINHASH_IVM_VER_BASE} AS BIGINT),
                   text || ' update-v2'
            FROM documents
            WHERE doc_id < {MINHASH_IVM_DOCS}
              AND doc_id % {MINHASH_IVM_UPD_MOD} = 3
        ),
        sh AS (SELECT doc_id, ver, {_D_SHINGLES} AS sh FROM latest),
        hs AS (SELECT doc_id, ver,
                      list_transform(sh, s -> {_d_md5int("s")}) AS hs FROM sh)
        SELECT doc_id, ver, {_minhash_sig_sql()} FROM hs
    """


@query(
    "streaming_minhash_signature_ivm",
    section="2.N-dedup",
    doc="INCREMENTAL MINHASH SIGNATURE MAINTENANCE (VERDICT r14 item 6c) — "
    "the dedup index kept fresh as documents arrive and are UPDATED, "
    "TableView-style IVM: generation 1 delivers the corpus slice, "
    "generation 2 delivers v2 revisions of every doc_id % "
    f"{MINHASH_IVM_UPD_MOD} == 3 document (same key, higher version, "
    "modified text). Each micro-batch computes minhash signatures for "
    "ONLY the docs it delivered (the same shingle -> one-md5-pass -> "
    "affine-rehash kernel as minhash_lsh_dedup) and merges them into a "
    "versioned view keyed on doc_id, keeping the highest version — the "
    "idempotent batch-id-guarded foreachBatch merge shared with "
    "streaming_tableview, so an at-least-once replay cannot "
    "double-apply. The final state is the signature table a NEW "
    "document would LSH-join against: the oracle recomputes every "
    "latest-version signature from scratch and the hash must agree — "
    "stale gen-1 signatures surviving an update, or an update hashing "
    "the wrong text, both flip it. Scale: per batch the work is "
    "signature computation over arrived docs only (never the corpus) "
    "plus a broadcast-size MERGE INTO keyed on doc_id; state is the "
    "source cursor + the view, which is O(corpus) on DISK, not in "
    "executor memory.",
    oracle=_minhash_ivm_oracle(),
)
def streaming_minhash_signature_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pulsar_3_2_codedump_spark.functions.dedup_ml import (
        N_HASHES,
        base_hashes,
        minhash_signature,
        shingles,
    )

    hcols = ", ".join(f"h{j} long" for j in range(N_HASHES))
    view_schema = f"doc_id long, ver long, {hcols}"
    with scratch_root(spark) as root:
        docs = load(spark, sf_dir, "documents").filter(
            F.col("doc_id") < MINHASH_IVM_DOCS
        )
        ts = F.to_timestamp(F.lit("2024-01-01 00:00:00"))

        def denv(df, producer):
            return df.select(
                F.col("doc_id").cast("string").alias("key"),
                F.to_binary(F.col("text"), F.lit("utf-8")).alias("value"),
                F.create_map().cast("map<string,string>").alias("properties"),
                ts.alias("event_time"),
                ts.alias("publish_time"),
                F.lit(producer).alias("producer_name"),
                F.col("ver").alias("sequence_id"),
                F.lit(None).cast("timestamp").alias("deliver_at"),
                F.lit(None).cast("int").alias("marker_type"),
                F.lit(None).cast("string").alias("replicated_from"),
            )

        tp = T.create_topic(root, "docs", n_partitions=2)
        T.append(
            spark,
            denv(docs.withColumn("ver", F.col("doc_id").cast("long")), "docsrc-g1"),
            tp,
        )

        src = (
            spark.readStream.format("pulsarlike")
            .option("path", tp)
            .load()
            .select(
                F.col("key").cast("long").alias("doc_id"),
                F.col("sequence_id").alias("ver"),
                F.decode(F.col("value"), "utf-8").alias("text"),
            )
        )

        def batch_sig(batch):
            return batch.select(
                "doc_id",
                "ver",
                *minhash_signature(base_hashes(shingles(F.col("text")))),
            )

        def merge_latest(u):
            w = Window.partitionBy("doc_id").orderBy(F.desc("ver"))
            return (
                u.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )

        upsert, state = _versioned_view(root, view_schema, batch_sig, merge_latest)

        def gen2():
            upd = docs.filter(F.col("doc_id") % MINHASH_IVM_UPD_MOD == 3).select(
                "doc_id",
                F.concat(F.col("text"), F.lit(" update-v2")).alias("text"),
                (F.col("doc_id") + MINHASH_IVM_VER_BASE).cast("long").alias("ver"),
            )
            T.append(spark, denv(upd, "docsrc-g2"), tp)

        _run_bounded_foreach(src, root + "/ck", [None, gen2], upsert)
        return _view_frame(spark, state, view_schema)
