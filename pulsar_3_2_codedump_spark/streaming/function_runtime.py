"""Pulsar Functions runtime surface on Spark (SURVEY §2.G/H/I, §7 M6).

Reference:
  - ``Function<X,T>``: per-message ``T process(X, Context)``; a null return
    filters the message out; the result is auto-published to the output topic
    (pulsar-functions/api-java/.../api/Function.java:34,40; output publish
    JavaInstanceRunnable.java:425,445). Python runtime:
    pulsar-functions/instance/src/main/python/python_instance.py.
  - ``WindowFunction``: ``T process(Collection<Record<X>>, WindowContext)``
    over tumbling/sliding windows configured by count or duration
    (WindowFunction.java:32,38; WindowConfig.java:33-47).
  - Keyed state + counters backed by BK table service
    (BaseContext.java:115-170, JavaInstanceRunnable.java:384).

Spark re-expression: a Function is a vectorized transform inside ``select``
(Arrow-batched pandas UDF — NOT a row loop like the reference's Python
instance, which processes one message per gRPC callback); a WindowFunction is
``groupBy(window(...)).applyInPandas``; counters/state are
``applyInPandasWithState`` with an explicit state schema. Count-based windows
(no Spark native) are a stateful counter that emits a batch every N records
per key.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DataType, LongType, StringType, StructField, StructType


@dataclass
class WindowConfig:
    """Mirror of pulsar-client-admin-api WindowConfig.java:33-47."""

    window_length_count: int | None = None
    window_length_duration: str | None = None  # e.g. "1 hour"
    sliding_interval_count: int | None = None
    sliding_interval_duration: str | None = None
    late_data_mode: str = "drop"  # Pulsar: route to lateDataTopic (G6)
    watermark_lag: str = "30 seconds"  # maxLagMs analogue


def pulsar_function(
    df: DataFrame,
    fn: Callable[[pd.Series], pd.Series],
    input_col: str,
    output_col: str,
    output_type: DataType,
) -> DataFrame:
    """Function<X,T> adapter: vectorized per-message transform; null → filtered
    (Function.java:40 'null means no output')."""
    udf = F.pandas_udf(fn, output_type)
    out = df.withColumn(output_col, udf(F.col(input_col)))
    return out.filter(F.col(output_col).isNotNull())


def window_function(
    df: DataFrame,
    cfg: WindowConfig,
    process: Callable[[pd.DataFrame], pd.DataFrame],
    output_schema: StructType,
    event_time_col: str = "event_time",
    key_cols: tuple[str, ...] = (),
    streaming: bool = False,
) -> DataFrame:
    """WindowFunction adapter for DURATION windows: the user fn sees the whole
    window's records as a pandas DataFrame (WindowFunction.java:38's
    Collection<Record>) and returns arbitrary rows."""
    if not cfg.window_length_duration:
        raise ValueError("duration windows here; count windows → count_window_function")
    slide = cfg.sliding_interval_duration or cfg.window_length_duration
    src = df.withWatermark(event_time_col, cfg.watermark_lag) if streaming else df
    win = F.window(F.col(event_time_col), cfg.window_length_duration, slide)
    return src.groupBy(win.alias("window"), *[F.col(c) for c in key_cols]).applyInPandas(
        lambda pdf: process(pdf), output_schema
    )


_COUNT_STATE = StructType(
    [StructField("win_id", LongType()), StructField("buffered", StringType())]
)


def count_window_function(
    env_stream: DataFrame,
    n: int,
    key_col: str,
    seq_col: str,
    output_schema: StructType | None = None,
):
    """Count-based tumbling window (windowLengthCount, WindowConfig.java:33):
    stateful counter per key emits one aggregate row per N records.

    Batch oracle: operators/windows.count_window_tumbling (floor(rank/N)).
    """
    out_schema = output_schema or StructType(
        [
            StructField("key", StringType()),
            StructField("win_id", LongType()),
            StructField("n", LongType()),
            StructField("first_seq", LongType()),
            StructField("last_seq", LongType()),
        ]
    )

    def emit(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        win_id, buffered = (state.get if state.exists else (0, ""))
        buf = [int(x) for x in buffered.split(",") if x] if buffered else []
        for pdf in pdfs:
            buf.extend(int(s) for s in sorted(pdf[seq_col].tolist()))
        rows = []
        while len(buf) >= n:
            chunk, buf = buf[:n], buf[n:]
            rows.append((str(key[0]), int(win_id), len(chunk), chunk[0], chunk[-1]))
            win_id += 1
        state.update((int(win_id), ",".join(str(x) for x in buf)))
        if rows:
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return env_stream.groupBy(F.col(key_col)).applyInPandasWithState(
        emit,
        outputStructType=out_schema,
        stateStructType=_COUNT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_COUNTER_STATE = StructType([StructField("count", LongType())])


def keyed_counter(env_stream: DataFrame, key_col: str = "key"):
    """BaseContext.incrCounter/getCounter (BaseContext.java:141-170): a
    durable per-key counter in the state store (was: BK table service)."""
    out_schema = StructType(
        [StructField("key", StringType()), StructField("count", LongType())]
    )

    def bump(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((int(total),))
        yield pd.DataFrame([(str(key[0]), int(total))], columns=["key", "count"])

    return env_stream.groupBy(F.col(key_col)).applyInPandasWithState(
        bump,
        outputStructType=out_schema,
        stateStructType=_COUNTER_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def with_metrics(df: DataFrame, name: str, *metric_cols: Column) -> DataFrame:
    """User metrics (§2.H2, ContextImpl.recordMetric:516): Spark's observe()
    API attaches named aggregates evaluated per batch/action; read them from
    QueryProgress (streaming) or via Observation (batch)."""
    return df.observe(name, *metric_cols)
