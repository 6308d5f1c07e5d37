"""Pure helpers behind the benchmark's numbers: percentiles, open-loop
timing from due times, delivery matching and span self time."""

from __future__ import annotations

import math
import statistics
from collections import defaultdict
from collections.abc import Iterable, Sequence

# Percentiles a tail figure may be reported at, highest first.
TAIL_LADDER = (0.99, 0.95, 0.9, 0.75, 0.5)
MIN_BEYOND = 10


def quantile(values: Sequence[float], q: float) -> float:
    """Linearly interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the ``q`` percentile."""
    return n - math.ceil(q * n - 1e-9)


def tail_quantile(n: int, ladder: Sequence[float] = TAIL_LADDER, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest percentile in ``ladder`` with at least ``min_beyond``
    samples beyond it, or None when ``n`` supports none of them."""
    for q in ladder:
        if samples_beyond(n, q) >= min_beyond:
            return q
    return None


def summarize(values: Sequence[float]) -> dict:
    """Median plus the highest supported tail percentile, with the sample
    count. When the sample supports no tail percentile the tail falls back
    to the median (``tail_q`` 0.5), never to a thinner percentile."""
    if not values:
        return {"n": 0, "p50": None, "tail": None, "tail_q": None}
    q = tail_quantile(len(values)) or 0.5
    return {"n": len(values), "p50": quantile(values, 0.5), "tail": quantile(values, q), "tail_q": q}


def open_loop_latencies(due: Sequence[float], done: Sequence[float | None]) -> list[float | None]:
    """Latency of each open-loop request measured from when it was DUE, not
    from when it was sent: a stall then counts against every request queued
    behind it. ``None`` (never completed) stays ``None``."""
    if len(due) != len(done):
        raise ValueError("due and done differ in length")
    return [None if d is None else d - t for t, d in zip(due, done)]


def covers(end: dict, target: dict) -> bool:
    """True when the offsets ``end`` reach ``target`` on every partition."""
    return all(int(end.get(p, 0)) >= int(o) for p, o in target.items())


def delivery_times(
    targets: Sequence[dict], completions: Sequence[tuple[float, dict]]
) -> list[float | None]:
    """For each produced batch (the topic end offsets right after its
    commit), the time of the first sink completion whose consumed end
    offsets cover it. Both inputs are in commit / batch order and offsets
    only grow, so one forward pass matches them."""
    out: list[float | None] = []
    j = 0
    for target in targets:
        while j < len(completions) and not covers(completions[j][1], target):
            j += 1
        out.append(completions[j][0] if j < len(completions) else None)
    return out


def _union_length(intervals: Iterable[tuple[float, float]]) -> float:
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: Iterable) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part of
    its interval that its child spans cover. Spans need ``id``, ``parent``,
    ``name``, ``start`` and ``end``."""
    spans = list(spans)
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = _union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ())
            if c.end > s.start and c.start < s.end
        )
        out[s.name] += (s.end - s.start) - covered
    return dict(out)


def iqr_share(values: Sequence[float]) -> float:
    """Distance between the first and third quartiles as a share of the
    median (``statistics.quantiles`` with n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
