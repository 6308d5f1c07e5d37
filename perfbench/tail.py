"""``tail``: one streaming query catches up on a backlog, then tails a
topic that an open-loop generator appends to.

The query reads an 8-partition topic through the ``pulsarlike`` stream
source from the earliest offset with ``maxRecordsPerTrigger`` (flow
control), runs the keyed Pulsar Function counter
(``function_runtime.keyed_counter``) and hands every micro-batch to a
``foreachBatch`` sink. The backlog is generated envelope rows whose keys
follow a power law, preloaded during set-up. Once the sink has processed
all of it, one generator thread calls ``topic.append`` with a ~500-row
batch every ``INTERVAL_S`` seconds, for ``--seconds`` seconds, on a
schedule that does not slow down when the system does (open loop).
Batches spread over a pool of producer names. Each batch first resends the last tenth of the batch
before it, as a producer replays the messages it holds no receipt for; the
broker-side dedup must drop those rows.

Delivery latency runs from when a batch was due until the sink has
processed all its fresh rows, so a late append counts against every batch
queued behind it.
"""

from __future__ import annotations

import ast
import math
import threading
import time

import numpy as np
import pandas as pd

from perfbench import common, engine, inputs, stats

BACKLOG_ROWS = 32_000
POOL_ROWS = 50_000  # keys and payloads the generated rows draw from
CATCHUP_BATCHES = 4  # maxRecordsPerTrigger is sized so that the catch-up takes this many
LIVE_ROWS = 500
INTERVAL_S = 3.3  # above one append plus one trigger, so latency stays flat
RESEND_SHARE = 0.1
PRODUCER_NAMES = 16
FIRST_DUE_S = 0.5  # after the backlog is drained
BACKLOG_APPENDS = 2
WARMUP_ROWS = 4_000
DRAIN_TIMEOUT_S = 60.0


class Sink:
    """foreachBatch sink: keeps the latest count per key and when each
    micro-batch finished. In a traced run it also reads the topic's end
    offsets at that moment, for the lag figure."""

    def __init__(self, ctx: common.Ctx, topic_path: str):
        self.ctx, self.topic_path = ctx, topic_path
        self.counts: dict[str, int] = {}
        self.done: dict[int, float] = {}
        self.topic_ends: dict[int, dict] = {}
        self.processed = 0
        self.cv = threading.Condition()

    def __call__(self, df, batch_id: int) -> None:
        from pulsar_3_2_codedump_spark import topic

        rows = df.collect()
        with self.cv:
            for key, count in rows:
                self.processed += count - self.counts.get(key, 0)
                self.counts[key] = count
            if self.ctx.tracer.enabled:
                with self.ctx.tracer.bookkeeping():
                    self.topic_ends[batch_id] = common.ends_str(topic.end_offsets(topic.read_manifest(self.topic_path)))
            self.done[batch_id] = time.perf_counter()
            self.cv.notify_all()

    def wait_for(self, rows: int, timeout_s: float) -> float | None:
        """Block until the sink has processed ``rows`` rows; returns the
        time the micro-batch that got there finished, or None on timeout."""
        deadline = time.perf_counter() + timeout_s
        with self.cv:
            while self.processed < rows:
                left = deadline - time.perf_counter()
                if left <= 0:
                    return None
                self.cv.wait(left)
            return self.done[max(self.done)]


def start_query(ctx: common.Ctx, topic_path: str, sink: Sink, name: str, cap: int):
    from pulsar_3_2_codedump_spark.streaming.function_runtime import keyed_counter

    src = (
        ctx.spark.readStream.format("pulsarlike")
        .option("path", topic_path)
        .option("startingOffsets", "earliest")
        .option("maxRecordsPerTrigger", str(cap))
        .load()
    )
    return (
        keyed_counter(src.select("key"))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ctx.path("checkpoints", name))
        .outputMode("append")
        .start()
    )


def wait_for_progress(q, batch_id: int, timeout_s: float) -> None:
    """Wait until the query has reported progress for ``batch_id``: the
    sink returns before the batch's offsets are committed and reported."""
    deadline = time.perf_counter() + timeout_s
    while time.perf_counter() < deadline:
        last = q.lastProgress
        if last is not None and last.batchId >= batch_id:
            return
        time.sleep(0.02)


class Generator:
    """The open-loop producer: a fixed schedule of due times, one append
    of fresh rows plus resent rows per due time."""

    def __init__(self, ctx: common.Ctx, topic_path: str, source: inputs.EnvelopeSource, seed: int):
        self.ctx, self.topic_path, self.source = ctx, topic_path, source
        self.rng = np.random.default_rng(seed)
        self.prev: pd.DataFrame | None = None
        self.fresh_rows = 0
        # one record per timed append: due time, send time, seconds, rows
        # sent, topic end offsets after it (None if it failed)
        self.sends: list[dict] = []

    def frame(self) -> pd.DataFrame:
        fresh = self.source.batch(int(LIVE_ROWS * self.rng.uniform(0.9, 1.1)))
        self.fresh_rows += len(fresh)
        resend = self.prev.tail(int(len(self.prev) * RESEND_SHARE)) if self.prev is not None else fresh.iloc[:0]
        self.prev = fresh
        return pd.concat([resend, fresh], ignore_index=True)

    def send(self, due: float) -> None:
        pdf = self.frame()
        df = self.ctx.spark.createDataFrame(pdf)
        sent = time.perf_counter()
        dt, ends = self.ctx.attempt(common.append, self.ctx, df, self.topic_path)
        self.sends.append({"due": due, "sent": sent, "s": dt, "rows": len(pdf),
                           "ends": None if ends is None else common.ends_str(ends)})

    def run(self, start: float, seconds: float) -> None:
        """One append at each due time in [start, start + seconds)."""
        for k in range(math.ceil(seconds / INTERVAL_S)):
            due = start + k * INTERVAL_S
            time.sleep(max(0.0, due - time.perf_counter()))
            self.send(due)


def envelope_source(ctx: common.Ctx, stream: int, prefix: str, pool, publish_start: np.datetime64):
    rng = np.random.default_rng([ctx.seed, stream])
    names = [f"{prefix}-{j:02d}" for j in range(PRODUCER_NAMES)]
    return inputs.EnvelopeSource(int(rng.integers(2**31)), names, *pool, 4, publish_start)


def flow_cap(topic_path: str, batches: int) -> int:
    """``maxRecordsPerTrigger`` (per partition) that drains the topic in
    ``batches`` micro-batches. Keys are skewed, so the fullest partition
    sets the count; sizing the cap from it fixes the count for every seed."""
    from pulsar_3_2_codedump_spark import topic

    return math.ceil(max(topic.end_offsets(topic.read_manifest(topic_path)).values()) / batches)


def setup(ctx: common.Ctx) -> dict:
    from pulsar_3_2_codedump_spark import topic

    pool = inputs.key_value_pool(np.random.default_rng([ctx.seed, 0]), POOL_ROWS)
    root = ctx.path("topics")

    # warm the stream path (planner worker, state store, pandas UDF) on a
    # throwaway topic, so JIT and worker start-up stay out of the window;
    # the backlog is appended while the warm-up batch drains
    wp = topic.create_topic(root, "warmup", 8)
    warm = envelope_source(ctx, 2, "warmup", pool, inputs.EPOCH)
    common.append(ctx, ctx.spark.createDataFrame(warm.batch(WARMUP_ROWS)), wp)
    wsink = Sink(ctx, wp)
    wq = start_query(ctx, wp, wsink, "warmup", WARMUP_ROWS)
    try:
        # several appends, so each partition has several segments
        tp = topic.create_topic(root, "tail", 8)
        backlog = envelope_source(ctx, 3, "backlog", pool, inputs.EPOCH)
        for _ in range(BACKLOG_APPENDS):
            common.append(ctx, ctx.spark.createDataFrame(backlog.batch(BACKLOG_ROWS // BACKLOG_APPENDS)), tp)
        drained = wsink.wait_for(WARMUP_ROWS, DRAIN_TIMEOUT_S)
    finally:
        wq.stop()
    if drained is None:
        raise RuntimeError("warm-up query did not drain its topic")

    # the live rows are published after the backlog
    gen = Generator(ctx, tp, envelope_source(ctx, 1, "generator", pool, inputs.EPOCH + np.timedelta64(1, "D")),
                    ctx.seed + 1)
    gen.fresh_rows = BACKLOG_APPENDS * (BACKLOG_ROWS // BACKLOG_APPENDS)  # counts as sent, for the dedup check
    backlog_ends = common.ends_str(topic.end_offsets(topic.read_manifest(tp)))
    cap = flow_cap(tp, CATCHUP_BATCHES)
    # the warm-up's appends are not attempts of the timed window
    ctx.attempted = ctx.failed = 0
    return {"topic": tp, "gen": gen, "backlog": backlog_ends, "cap": cap}


def run(ctx: common.Ctx, state: dict) -> dict:
    """Catch-up, then the live phase. The end-to-end figures are CPU time of
    the whole process tree: per live batch (its append and its delivery,
    plus the idle wait before the next) and per backlog row caught up."""
    tp, gen = state["topic"], state["gen"]
    backlog_rows = sum(state["backlog"].values())
    sink = Sink(ctx, tp)
    t0, c0 = time.perf_counter(), engine.cpu_snapshot()
    q = start_query(ctx, tp, sink, "tail", state["cap"])
    caught = sink.wait_for(backlog_rows, DRAIN_TIMEOUT_S)
    c1 = engine.cpu_snapshot()
    if caught is None:
        q.stop()
        raise RuntimeError("stream did not drain the backlog")

    gen.run(caught + FIRST_DUE_S, ctx.seconds)
    final = max((s["ends"] for s in gen.sends if s["ends"]), key=lambda e: sum(e.values()), default=state["backlog"])
    drained = sink.wait_for(sum(final.values()), DRAIN_TIMEOUT_S)
    c2 = engine.cpu_snapshot()
    if drained is not None:
        wait_for_progress(q, max(sink.done), DRAIN_TIMEOUT_S)
    q.stop()
    ctx.check(drained is not None, f"sink processed {sink.processed} of {sum(final.values())} rows before the timeout")

    progress = sorted(q.recentProgress, key=lambda p: p.batchId)
    completions = [(sink.done[p.batchId], _offsets(p.sources[0].endOffset)) for p in progress if p.batchId in sink.done]
    delivered = iter(stats.delivery_times([s["ends"] for s in gen.sends if s["ends"]], completions))
    # a failed append is never delivered: it counts as a missed latency
    done = [next(delivered) if s["ends"] else None for s in gen.sends]
    latency = [math.inf if x is None else x for x in stats.open_loop_latencies([s["due"] for s in gen.sends], done)]
    publish = [s["s"] for s in gen.sends]
    catchup_cpu, live_cpu = engine.cpu_between(c0, c1).work_s, engine.cpu_between(c1, c2).work_s
    state.update(sink=sink, progress=progress, caught=caught, end=sum(final.values()))
    return {
        "e2e": {"op_cpu_s": live_cpu / len(gen.sends), "row_cpu_us": catchup_cpu / backlog_rows * 1e6},
        "figures": {
            "tail.catchup_rows_per_s": common.figure(backlog_rows / (caught - t0), "rows/s"),
            **common.timing_figures("tail.delivery", latency),
            **common.timing_figures("tail.publish", publish),
        },
        "detail": {
            "delivery_s": latency,
            "publish_s": publish,
            "backlog_rows": backlog_rows,
            "catchup_s": caught - t0,
            "catchup_cpu_s": catchup_cpu,
            "live_cpu_s": live_cpu,
            "appends": len(gen.sends),
            "micro_batches": len(progress),
        },
    }


def _offsets(s: str | None) -> dict[str, int]:
    """Source offsets from a progress record. PySpark renders them with
    ``str()`` of the parsed JSON, so they read as a Python literal."""
    if s in (None, "None", "null"):
        return {}
    return {str(k): int(v) for k, v in ast.literal_eval(s).items()}


def layers(ctx: common.Ctx, state: dict) -> dict[str, float]:
    """Per-layer figures. Trigger-cost figures are medians over the live
    micro-batches (small, fixed cost dominates); throughput figures are
    medians over the catch-up ones (big, reader throughput dominates)."""
    sink, progress, caught, gen = state["sink"], state["progress"], state["caught"], state["gen"]
    live = [p for p in progress if sink.done.get(p.batchId, 0) > caught]
    catchup = [p for p in progress if sink.done.get(p.batchId, 0) <= caught]
    dur = lambda p, k: p.durationMs.get(k)  # noqa: E731
    lag = [
        sum(sink.topic_ends[p.batchId].values()) - sum(_offsets(p.sources[0].endOffset).values())
        for p in live
        if p.batchId in sink.topic_ends
    ]
    state_ops = [p.stateOperators[0] for p in live if p.stateOperators]
    sent = sum(s["rows"] for s in gen.sends)
    out = common.append_metrics(ctx, caught)
    out.update(
        {
            "topic.append.useful_ratio": (state["end"] - sum(state["backlog"].values())) / sent if sent else 0.0,
            "sources.latest_offset_ms": common.median_or_zero([dur(p, "latestOffset") for p in live]),
            "sources.rows_per_batch": common.median_or_zero([p.numInputRows for p in catchup]),
            "sources.processed_rows_per_s": common.median_or_zero([p.processedRowsPerSecond for p in catchup]),
            "sources.lag_rows": common.median_or_zero(lag),
            "streaming.trigger_ms": common.median_or_zero([dur(p, "triggerExecution") for p in live]),
            "streaming.query_planning_ms": common.median_or_zero([dur(p, "queryPlanning") for p in live]),
            "streaming.add_batch_ms": common.median_or_zero([dur(p, "addBatch") for p in live]),
            "streaming.commit_ms": common.median_or_zero(
                [(dur(p, "walCommit") or 0) + (dur(p, "commitOffsets") or 0) for p in live]
            ),
            "streaming.state_rows": common.median_or_zero([s.numRowsTotal for s in state_ops]),
            "streaming.state_bytes": common.median_or_zero([s.memoryUsedBytes for s in state_ops]),
            "streaming.state_commit_ms": common.median_or_zero([s.commitTimeMs for s in state_ops]),
            "bench.generator_late_max_s": max((s["sent"] - s["due"] for s in gen.sends), default=0.0),
        }
    )
    out.update(common.topic_shape(state["topic"]))
    return out


def check(ctx: common.Ctx, state: dict) -> None:
    """Every message is delivered exactly once — consecutive micro-batches
    consume adjacent offset ranges that end at the topic's end — and the
    final keyed counts equal a batch count over the topic. On the write
    side, offsets are dense per partition, the committed rows equal the
    distinct (producer_name, sequence_id) pairs sent, and every resend was
    dropped."""
    from pyspark.sql import functions as F

    from pulsar_3_2_codedump_spark import topic

    tp, sink, progress = state["topic"], state["sink"], state["progress"]
    ends = common.ends_str(topic.end_offsets(topic.read_manifest(tp)))
    prev = {p: 0 for p in ends}
    for p in progress:
        src = p.sources[0]
        start = _offsets(src.startOffset) or {k: 0 for k in ends}
        ctx.check(start == prev, f"batch {p.batchId} starts at {start}, previous ended at {prev}")
        prev = _offsets(src.endOffset)
    ctx.check(prev == ends, f"stream stopped at {prev}, topic ends at {ends}")
    consumed = sum(p.numInputRows for p in progress)
    ctx.check(consumed == sum(ends.values()), f"stream consumed {consumed} rows, topic holds {sum(ends.values())}")

    with ctx.tracer.span("topic.read_topic"):
        log = topic.read_topic(ctx.spark, tp).select("key", "partition", "offset", "producer_name", "sequence_id").persist()
    try:
        batch = {r["key"]: r["n"] for r in log.groupBy("key").agg(F.count(F.lit(1)).alias("n")).collect()}
        ctx.check(sink.counts == batch,
                  f"keyed counts differ from the batch count on {len(set(sink.counts.items()) ^ set(batch.items()))} keys")
        for r in log.groupBy("partition").agg(
            F.count(F.lit(1)).alias("n"), F.min("offset").alias("lo"),
            F.max("offset").alias("hi"), F.countDistinct("offset").alias("d"),
        ).collect():
            dense = r["lo"] == 0 and r["hi"] == r["n"] - 1 == r["d"] - 1 and r["n"] == ends[str(r["partition"])]
            ctx.check(dense, f"partition {r['partition']} offsets are not dense: {r.asDict()}")
        total = sum(ends.values())
        distinct = log.select("producer_name", "sequence_id").distinct().count()
    finally:
        log.unpersist()
    fresh = state["gen"].fresh_rows
    ctx.check(total == fresh, f"committed {total} rows, sent {fresh} distinct (producer, sequence) pairs")
    ctx.check(distinct == total, f"{total - distinct} resent rows were committed twice")
