"""Every metric the benchmark reports, with the layer it belongs to, the
end-to-end metric it should move and the workloads it should move on.

``BENCHMARK.json`` lists the same names, units and directions; a test
keeps the two in step. A later performance change names its claim from
this map: the per-layer metric it moves, the end-to-end metric that
should follow on the listed workloads, and the workloads in ``quiet_on``
where the prediction is no change.
"""

from __future__ import annotations

from dataclasses import dataclass

RUN_SECONDS = 10

WORKLOADS = {
    "tail": "stream source drains a backlog, then tails an open-loop producer that resends rows: append, dedup, micro-batch loop, keyed state",
    "analytics": "compaction, seek and reads of a stored topic plus operator and function queries: no appends, no stream",
}


@dataclass(frozen=True)
class EndToEnd:
    name: str
    unit: str
    better: str
    bound: float
    meaning: str


@dataclass(frozen=True)
class Layer:
    name: str
    unit: str
    better: str
    moves: str  # end-to-end metric (workload.metric) it should move
    on: tuple[str, ...]  # workloads where it should move
    quiet_on: tuple[str, ...] = ()  # workloads where no change is expected


# End-to-end metrics are CPU time of the benchmark's whole process tree
# (driver, JVM, Python workers) from the scheduler's per-thread run time,
# leaving out the JVM's JIT compiler threads (``engine.cpu_between``). On a
# shared host the wall time of the same run moved by up to a half between
# minutes, because other guests took CPU time. Wall-clock figures (delivery
# latency, catch-up rate, cycle time) are in every run's detail record.
END_TO_END = (
    EndToEnd("setup_s", "s", "lower", 0.25,
             "CPU seconds from process start to the timed window: session start, input generation, "
             "warm-up, topic preload"),
    EndToEnd("op_cpu_s", "s", "lower", 0.25,
             "CPU seconds per operation: tail = one live batch (its append, its delivery and the idle wait "
             "before the next); analytics = one mix cycle (median)"),
    EndToEnd("row_cpu_us", "us", "lower", 0.25,
             "CPU microseconds per row: tail = catch-up CPU per backlog row; "
             "analytics = cycle CPU per row the cycle reads"),
)

_ANALYTICS_QUERIES = (
    "operators.tableview_latest_s",
    "operators.dedup_producer_sequence_s",
    "operators.key_shared_assignment_s",
    "operators.tumbling_window_counts_s",
    "operators.session_window_gaps_s",
    "operators.pricing_summary_s",
    "operators.shipping_priority_s",
    "operators.stats_summary_s",
    "functions.minhash_lsh_dedup_s",
    "functions.cosine_topk_s",
)

PER_LAYER = (
    Layer("topic.append.p50_s", "s", "lower", "tail.op_cpu_s", ("tail",), ("analytics",)),
    Layer("topic.append.tail_s", "s", "lower", "tail.op_cpu_s", ("tail",), ("analytics",)),
    Layer("topic.append.spark_jobs_per_call", "count", "lower", "tail.op_cpu_s", ("tail",), ("analytics",)),
    Layer("topic.append.useful_ratio", "ratio", "higher", "tail.op_cpu_s", ("tail",)),
    Layer("topic.manifest_bytes", "bytes", "lower", "tail.op_cpu_s", ("tail",)),
    Layer("topic.segments", "count", "lower", "analytics.op_cpu_s", ("tail", "analytics")),
    Layer("topic.compact_s", "s", "lower", "analytics.op_cpu_s", ("analytics",), ("tail",)),
    Layer("topic.read_compacted_s", "s", "lower", "analytics.op_cpu_s", ("analytics",), ("tail",)),
    Layer("topic.seek_s", "s", "lower", "analytics.op_cpu_s", ("analytics",), ("tail",)),
    Layer("topic.read_topic_s", "s", "lower", "analytics.op_cpu_s", ("analytics",), ("tail",)),
    Layer("sources.latest_offset_ms", "ms", "lower", "tail.op_cpu_s", ("tail",), ("analytics",)),
    Layer("sources.rows_per_batch", "rows", "higher", "tail.row_cpu_us", ("tail",), ("analytics",)),
    Layer("sources.processed_rows_per_s", "rows/s", "higher", "tail.row_cpu_us", ("tail",), ("analytics",)),
    Layer("sources.lag_rows", "rows", "lower", "tail.op_cpu_s", ("tail",), ("analytics",)),
    Layer("streaming.trigger_ms", "ms", "lower", "tail.op_cpu_s", ("tail",), ("analytics",)),
    Layer("streaming.query_planning_ms", "ms", "lower", "tail.op_cpu_s", ("tail",), ("analytics",)),
    Layer("streaming.add_batch_ms", "ms", "lower", "tail.op_cpu_s", ("tail",), ("analytics",)),
    Layer("streaming.commit_ms", "ms", "lower", "tail.op_cpu_s", ("tail",), ("analytics",)),
    Layer("streaming.state_rows", "rows", "lower", "tail.op_cpu_s", ("tail",), ("analytics",)),
    Layer("streaming.state_bytes", "bytes", "lower", "tail.op_cpu_s", ("tail",), ("analytics",)),
    Layer("streaming.state_commit_ms", "ms", "lower", "tail.op_cpu_s", ("tail",), ("analytics",)),
    *(Layer(q, "s", "lower", "analytics.op_cpu_s", ("analytics",), ("tail",)) for q in _ANALYTICS_QUERIES),
    Layer("envelope.cached_envelope_s", "s", "lower", "setup_s", ("analytics",), ("tail",)),
    Layer("catalog.load_s", "s", "lower", "setup_s", ("analytics",), ("tail",)),
    Layer("session.spark_jobs", "count", "lower", "op_cpu_s", ("tail", "analytics")),
    Layer("session.tasks", "count", "lower", "op_cpu_s", ("tail", "analytics")),
    Layer("session.shuffle_bytes", "bytes", "lower", "op_cpu_s", ("tail", "analytics")),
    Layer("session.busy_share", "ratio", "higher", "op_cpu_s", ("tail", "analytics")),
    # peak resident memory of the driver Python process plus its JVM; JVM
    # heap growth varies from run to run, too much for an end-to-end bound
    Layer("session.peak_rss_mb", "MB", "lower", "setup_s", ("tail", "analytics")),
    # CPU time of the JVM's JIT compiler threads in the window: left out of
    # the end-to-end figures, reported so that a change in it can be seen
    Layer("session.jit_cpu_s", "s", "lower", "none: compilation, not the engine's work", ("tail", "analytics")),
    Layer("bench.generator_late_max_s", "s", "lower", "none: checks the load itself", ("tail",)),
    Layer("bench.trace_overhead_s", "s", "lower", "none: the tracer's own bookkeeping", ("tail", "analytics")),
)

UNITS = {m.name: m.unit for m in (*END_TO_END, *PER_LAYER)}


def benchmark_json() -> dict:
    """The BENCHMARK.json this module describes."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOADS.items()],
        "end_to_end": [{"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound} for m in END_TO_END],
        "per_layer": [{"name": m.name, "unit": m.unit, "better": m.better} for m in PER_LAYER],
    }
