"""State and layer calls shared by the workloads.

Every call into the program that a workload times goes through here, so
that it is counted as an attempt and, in a traced run, wrapped in a span
named after the module function it calls.
"""

from __future__ import annotations

import math
import os
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench import stats
from perfbench.spans import Tracer


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work_dir: str
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    def check(self, ok: bool, what: str) -> None:
        """Record a failed correctness check (checks never raise)."""
        if not ok:
            self.problems.append(what)

    def attempt(self, fn, *args, **kwargs):
        """Run one timed operation. Returns (seconds, result); a failure
        returns (inf, None): it counts as failed and as a missed latency."""
        with self._lock:
            self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — a failed operation is a measured outcome
            traceback.print_exc(file=sys.stderr)
            with self._lock:
                self.failed += 1
            return math.inf, None
        return time.perf_counter() - t0, res


def window_spans(ctx: Ctx, name: str, t0: float, t1: float | None = None) -> list[float]:
    """Durations of spans called ``name`` that started inside [t0, t1]."""
    return [
        s.end - s.start
        for s in ctx.tracer.named(name)
        if s.start >= t0 and (t1 is None or s.start <= t1)
    ]


def median_or_zero(values) -> float:
    """Median of the samples; 0 when the layer had no calls."""
    values = [v for v in values if v is not None and math.isfinite(v)]
    return stats.quantile(values, 0.5) if values else 0.0


def tail_or_zero(values) -> float:
    values = [v for v in values if v is not None and math.isfinite(v)]
    return stats.summarize(values)["tail"] if values else 0.0


def figure(value: float, unit: str, **extra) -> dict:
    """A named figure of the detail record: its value, unit and any sample
    facts (percentile, count)."""
    return {"value": value, "unit": unit, **extra}


def timing_figures(name: str, samples: list[float]) -> dict[str, dict]:
    """``<name>_p50_s`` and ``<name>_tail_s``: the median and the highest
    percentile with ten samples beyond it (the median when there are too
    few samples), each with the sample count."""
    s = stats.summarize(samples)
    return {
        f"{name}_p50_s": figure(s["p50"], "s", n=s["n"]),
        f"{name}_tail_s": figure(s["tail"], "s", q=s["tail_q"], n=s["n"]),
    }


def append(ctx: Ctx, df, topic_path: str) -> dict[int, int]:
    """``topic.append``; in a traced run the span records how many Spark
    jobs the call ran, counted by a per-call job group."""
    from pulsar_3_2_codedump_spark import topic

    tracer = ctx.tracer
    with tracer.span("topic.append") as sp:
        if sp is None:
            return topic.append(ctx.spark, df, topic_path)
        sc = ctx.spark.sparkContext
        group = f"perfbench-append-{sp.id}"
        with tracer.bookkeeping():
            sc.setJobGroup(group, "topic.append")
        try:
            return topic.append(ctx.spark, df, topic_path)
        finally:
            with tracer.bookkeeping():
                sp.attrs["spark_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                sc.setLocalProperty("spark.jobGroup.id", None)


def append_metrics(ctx: Ctx, t0: float, t1: float | None = None) -> dict[str, float]:
    spans = [s for s in ctx.tracer.named("topic.append") if s.start >= t0 and (t1 is None or s.start <= t1)]
    durs = [s.end - s.start for s in spans]
    jobs = [s.attrs.get("spark_jobs", 0) for s in spans]
    return {
        "topic.append.p50_s": median_or_zero(durs),
        "topic.append.tail_s": tail_or_zero(durs),
        "topic.append.spark_jobs_per_call": float(np.mean(jobs)) if jobs else 0.0,
    }


def topic_shape(topic_path: str) -> dict[str, float]:
    from pulsar_3_2_codedump_spark import topic

    manifest = topic.read_manifest(topic_path)
    return {
        "topic.manifest_bytes": os.path.getsize(os.path.join(topic_path, topic.MANIFEST)),
        "topic.segments": sum(len(s) for s in manifest["segments"].values()),
    }


def load_envelope(ctx: Ctx, fixture_dir: str):
    """Load the events fixture and materialise its envelope, each in a
    span (``catalog.load``, ``envelope.cached_envelope``)."""
    from pulsar_3_2_codedump_spark import catalog, envelope

    with ctx.tracer.span("catalog.load"):
        catalog.load(ctx.spark, fixture_dir, "events")
    with ctx.tracer.span("envelope.cached_envelope"):
        env = envelope.cached_envelope(ctx.spark, fixture_dir)
        n = env.count()
    return env, n


def ends_str(ends: dict) -> dict[str, int]:
    return {str(p): int(e) for p, e in ends.items()}
