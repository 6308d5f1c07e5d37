"""Windowed aggregation (SURVEY §2.G — Pulsar Functions windowing).

Reference: pulsar-functions/instance/.../windowing/ — WindowFunction API
(api/WindowFunction.java:32,38), config (WindowConfig.java:33-47:
windowLengthCount/DurationMs × slidingIntervalCount/DurationMs — tumbling when
length == slide), triggers/evictors (windowing/triggers, windowing/evictors),
watermarks = min(max event-ts per topic) − lag (WaterMarkEventGenerator.java:112-122).

Spark re-expression: time windows are `groupBy(window(event_time, len, slide))`
(WindowManager/triggers/evictors collapse into Spark's stateful window exec);
watermarks are `withWatermark(event_time, lag)` — identical min-across-inputs
semantics. Count-based windows have no Spark native: batch form is a
row_number partition (below); streaming form is a stateful counter
(streaming/function_runtime.py). Session windows are beyond-reference
(Pulsar has none) — exposed via Spark's session_window.

These are the BATCH forms — deterministic oracles for the streaming forms in
streaming/, which replay the same fixture and must converge to these results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from pulsar_3_2_codedump_spark.catalog import load
from pulsar_3_2_codedump_spark.queries import query

_FMT = "yyyy-MM-dd HH:mm:ss"
_DFMT = "%Y-%m-%d %H:%M:%S"


@query(
    "tumbling_window_counts",
    section="2.G2",
    doc="Tumbling time window (WindowConfig length==slide): 1-hour event count + "
    "revenue per event_type.",
    oracle=f"""
        SELECT STRFTIME(time_bucket(INTERVAL 1 HOUR, ts), '{_DFMT}') AS window_start,
               event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
        FROM events GROUP BY 1, 2
    """,
)
def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "sliding_window_counts",
    section="2.G2",
    doc="Sliding window (length 1h, slide 30m): every event lands in 2 overlapping "
    "windows — Spark window(len, slide) vs oracle union of shifted buckets.",
    oracle=f"""
        WITH slid AS (
            SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS ws, * FROM events
            UNION ALL
            SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE AS ws, * FROM events
        )
        SELECT STRFTIME(ws, '{_DFMT}') AS window_start, COUNT(*) AS n,
               ROUND(SUM(value), 2) AS total_value
        FROM slid GROUP BY 1
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.date_format("w.start", _FMT).alias("window_start"), "n", "total_value")
    )


@query(
    "count_window_tumbling",
    section="2.G2",
    doc="Count-based tumbling window (windowLengthCount=100, per key-partition): no "
    "Spark native — window id = floor(arrival_rank / 100) per event_type; aggregates "
    "per (event_type, window id). Streaming form: stateful counter.",
    oracle="""
        SELECT event_type, CAST(FLOOR((rn - 1) / 100) AS BIGINT) AS win_id,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value,
               MIN(event_id) AS first_event, MAX(event_id) AS last_event
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
            FROM events
        ) GROUP BY 1, 2
    """,
)
def count_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("win_id", F.floor((F.col("rn") - 1) / 100))
        .groupBy("event_type", "win_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


@query(
    "session_window_gaps",
    section="2.G-ext",
    doc="Session windows per user (30-minute inactivity gap) — beyond-reference "
    "(Pulsar windowing has no sessions, WindowConfig.java:33-39); Spark "
    "session_window vs gaps-and-islands oracle.",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL 30 MINUTE OR
                             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), sessions AS (
            SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id, STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
        FROM sessions GROUP BY user_id, session_id
    """,
)
def session_window_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Repartition by user_id BEFORE the session aggregation (r16): the
    # session groupBy requires hashpartitioning(user_id) anyway, so this is
    # the SAME single shuffle — but issued on the raw 3-column rows, it moves
    # the per-row session-struct projection and the partial aggregation off
    # the one-task parquet scan onto all cores (sessions barely merge
    # pre-shuffle, so map-side partials saved nothing). Measured 0.244 s vs
    # 0.374 s at sf0.1 (OPTIMIZATION_r16.md); plan stays one Exchange.
    ev = load(spark, sf_dir, "events").select("ts", "user_id", "value")
    n = spark.sparkContext.defaultParallelism
    return (
        ev.repartition(n, "user_id")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("mts"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("mts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


WM_BUCKETS = 64  # arrival-order range buckets for the distributed prefix-max


def watermark_tracked(ev: DataFrame) -> DataFrame:
    """events(+event_id, ts) → + wm column: the running max ts over arrival
    order (event_id), minus the 30s lag, EXCLUDING the current row — exactly
    WaterMarkEventGenerator's tracked watermark, computed with the
    distributed prefix-max (prefixops): range-bucket by event_id, per-bucket
    max ts partials, triangular-join carry-ins, within-bucket running max.
    No unpartitioned window anywhere in the plan."""
    from pulsar_3_2_codedump_spark.operators.prefixops import (
        exclusive_prefix,
        range_bucket,
    )

    from pulsar_3_2_codedump_spark.catalog import persist_shared_corpus_frame

    # the bucketed frame feeds the per-bucket partials AND the final
    # carry join — persist once (corpus-sized → DISK_ONLY; r13 scan
    # audit: 6 events scans -> the bounds agg + one cached assignment)
    t = persist_shared_corpus_frame(range_bucket(ev, "event_id", WM_BUCKETS))
    btot = t.groupBy("bucket").agg(F.max("ts").alias("bmax"))
    carry = exclusive_prefix(btot, "bucket", "bmax", "max", "carry_max")
    in_w = W.partitionBy("bucket").orderBy("event_id").rowsBetween(W.unboundedPreceding, -1)
    return (
        t.join(F.broadcast(carry), "bucket")
        .withColumn("run_max", F.max("ts").over(in_w))
        .withColumn(
            "wm",
            F.greatest(F.col("carry_max"), F.col("run_max"))
            - F.expr("INTERVAL 30 SECOND"),
        )
        .drop("bucket", "carry_max", "run_max")
    )


@query(
    "watermark_late_data",
    section="2.G5",
    doc="Watermark semantics (WaterMarkEventGenerator.java:84-122): watermark = "
    "running max event-ts (arrival order = event_id) − 30s lag; an event is LATE "
    "if its ts < watermark at arrival. Late events are rejected at track() — "
    "count kept vs late per event_type. Streaming equivalent: withWatermark + "
    "the late-data side topic (G6, WindowConfig.lateDataTopic).",
    oracle="""
        WITH tracked AS (
            SELECT *, MAX(ts) OVER (ORDER BY event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      - INTERVAL 30 SECOND AS wm
            FROM events
        )
        SELECT event_type,
               COUNT(*) FILTER (WHERE wm IS NULL OR ts >= wm) AS n_on_time,
               COUNT(*) FILTER (WHERE ts < wm)                AS n_late
        FROM tracked GROUP BY event_type
    """,
)
def watermark_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The watermark is a running max over arrival order — sequential by
    # definition, but max is associative, so it distributes exactly like a
    # prefix sum: see watermark_tracked / operators/prefixops.py.
    tracked = watermark_tracked(load(spark, sf_dir, "events"))
    late = F.col("ts") < F.col("wm")
    return tracked.groupBy("event_type").agg(
        F.count(F.when(F.col("wm").isNull() | ~late, 1)).alias("n_on_time"),
        F.count(F.when(late, 1)).alias("n_late"),
    )


@query(
    "count_window_sliding",
    section="2.G2",
    doc="Count-based SLIDING window (windowLengthCount=100, slidingIntervalCount=50, "
    "WindowConfig.java:33-39): a window starts every 50 records per event_type and "
    "spans 100 — each record lands in ≤2 windows; only full windows emit "
    "(WindowManager semantics).",
    oracle="""
        WITH ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) - 1 AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS total
            FROM events
        ),
        assigned AS (  -- window w covers rn in [w*50, w*50 + 100)
            SELECT event_type, value, total, (rn // 50) AS w FROM ranked
            UNION ALL
            SELECT event_type, value, total, (rn // 50) - 1 AS w FROM ranked WHERE rn // 50 >= 1
        )
        SELECT event_type, CAST(w AS BIGINT) AS win_id, COUNT(*) AS n,
               ROUND(SUM(value), 2) AS total_value
        FROM assigned
        WHERE w >= 0 AND (w * 50 + 100) <= total  -- only complete windows
        GROUP BY event_type, w
    """,
)
def count_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w) - 1).withColumn(
        "total", F.count(F.lit(1)).over(W.partitionBy("event_type"))
    )
    cur = ranked.withColumn("w", F.floor(F.col("rn") / 50))
    prev = ranked.withColumn("w", F.floor(F.col("rn") / 50) - 1).filter(F.col("w") >= 0)
    assigned = cur.unionByName(prev)
    return (
        assigned.filter((F.col("w") * 50 + 100) <= F.col("total"))
        .groupBy("event_type", F.col("w").alias("win_id"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@query(
    "ohlc_resample",
    section="2.M-window",
    doc="Time-series OHLC resampling: per (event_type, hour) open/high/low/"
    "close of the value stream — open/close via min_by/max_by on the "
    "(timestamp, event_id) tuple (deterministic ties), one hash-agg "
    "shuffle with map-side combine; the canonical downsampling rollup for "
    "metric/market feeds.",
    oracle="""
        WITH r AS (
            SELECT event_type, date_trunc('hour', ts) AS h, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                      ORDER BY ts, event_id) AS rn_a,
                   ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events)
        SELECT event_type,
               STRFTIME(h, '%Y-%m-%d %H:%M:%S') AS hour,
               ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
               ROUND(MAX(value), 4) AS high,
               ROUND(MIN(value), 4) AS low,
               ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 4) AS close,
               COUNT(*) AS n_ticks
        FROM r
        GROUP BY 1, 2
    """,
)
def ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    tup = F.struct("ts", "event_id")
    return (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        )
        .agg(
            F.round(F.min_by("value", tup), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", tup), 4).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )
