"""``analytics``: a read-only mix over data at rest, in a fixed order per
cycle.

Each cycle compacts a preloaded topic (``topic.compact_topic``), counts its
compacted view (``topic.read_topic_compacted``), seeks to a seed-chosen
publish time through the stream source's timestamp seek and reads a
bounded range from there (``topic.read_topic``), then runs registry
queries from ``operators/`` and ``functions/`` over the fixture tables,
releasing shared frames after each. Nothing is appended and no stream
runs while the cycle is timed.
"""

from __future__ import annotations

import datetime as dt
import math
import time

import numpy as np

from perfbench import common, engine, inputs, stats

SCALE = 0.01  # TPC-H scale factor of the fixture tables
TABLES = ("events", "customer", "orders", "lineitem", "documents", "embeddings")
QUERIES = {
    # query -> fixture tables it reads
    "tableview_latest": ("events",),
    "dedup_producer_sequence": ("events",),
    "key_shared_assignment": ("events",),
    "tumbling_window_counts": ("events",),
    "session_window_gaps": ("events",),
    "pricing_summary": ("lineitem",),
    "shipping_priority": ("customer", "orders", "lineitem"),
    "stats_summary": ("lineitem",),
    "minhash_lsh_dedup": ("documents",),
    "cosine_topk": ("embeddings",),
}
TOPIC_APPENDS = 2  # segments per partition in the preloaded topic
SEEK_ROWS = 500  # rows per partition read after a seek


def layer_name(q) -> str:
    """``operators.<query>_s`` or ``functions.<query>_s`` by the package
    the query is registered from."""
    return f"{q.fn.__module__.split('.')[-2]}.{q.name}_s"


def setup(ctx: common.Ctx) -> dict:
    from pulsar_3_2_codedump_spark import catalog, topic
    from pulsar_3_2_codedump_spark.queries import load_all

    fix = ctx.path("fixtures")
    rows = inputs.write_fixtures(fix, ctx.seed, SCALE, TABLES)
    for name in TABLES:
        if name != "events":
            with ctx.tracer.span("catalog.load"):
                catalog.load(ctx.spark, fix, name)
    env, n_env = common.load_envelope(ctx, fix)
    tp = topic.create_topic(ctx.path("topics"), "analytics", 8)
    bounds = np.linspace(0, n_env, TOPIC_APPENDS + 1).astype(int)
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        part = env.filter((env.sequence_id >= int(lo)) & (env.sequence_id < int(hi)))
        common.append(ctx, part.drop("offset"), tp)
    registry = load_all()
    state = {
        "fixtures": fix,
        "topic": tp,
        "queries": [registry[name] for name in QUERIES],
        "rows_per_cycle": 3 * n_env + sum(rows[t] for ts in QUERIES.values() for t in ts),
        "rng": np.random.default_rng([ctx.seed, 7]),
        "results": {},
    }
    cycle(ctx, state, timed=False)  # warm-up: JIT, codegen and worker start-up
    return state


def _seek_time(ctx: common.Ctx, state: dict) -> str:
    from pulsar_3_2_codedump_spark import topic

    segs = [s for ss in topic.read_manifest(state["topic"])["segments"].values() for s in ss]
    lo, hi = min(s["min_pt"] for s in segs), max(s["max_pt"] for s in segs)
    us = int(lo + state["rng"].uniform(0.2, 0.8) * (hi - lo))
    return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)).isoformat()


def _seek_read(ctx: common.Ctx, tp: str, ts: str) -> dict:
    from pulsar_3_2_codedump_spark import topic
    from pulsar_3_2_codedump_spark.sources.pulsarlike import PulsarLikeStreamReader

    with ctx.tracer.span("topic.seek"):
        start = PulsarLikeStreamReader({"path": tp, "startingoffsets": f"timestamp:{ts}"}).initialOffset()
    start = {int(p): int(o) for p, o in start.items()}
    with ctx.tracer.span("topic.read_topic"):
        n = topic.read_topic(ctx.spark, tp, start_offsets=start, end={p: o + SEEK_ROWS for p, o in start.items()}).count()
    return {"ts": ts, "start": start, "rows": n}


def _compact(ctx: common.Ctx, tp: str) -> None:
    from pulsar_3_2_codedump_spark import topic

    with ctx.tracer.span("topic.compact"):
        topic.compact_topic(ctx.spark, tp)


def _read_compacted(ctx: common.Ctx, tp: str) -> int:
    from pulsar_3_2_codedump_spark import topic

    with ctx.tracer.span("topic.read_compacted"):
        return topic.read_topic_compacted(ctx.spark, tp).count()


def _query(ctx: common.Ctx, q, fix: str):
    from pulsar_3_2_codedump_spark.catalog import release_shared_frames

    with ctx.tracer.span(layer_name(q)):
        try:
            df = q.fn(ctx.spark, fix)
            return df.columns, [tuple(r) for r in df.collect()]
        finally:
            release_shared_frames()


def cycle(ctx: common.Ctx, state: dict, timed: bool) -> float:
    """One pass of the mix; returns its wall time (inf if an op failed)."""
    tp, fix = state["topic"], state["fixtures"]
    call = ctx.attempt if timed else (lambda fn, *a: (0.0, fn(*a)))
    ts = _seek_time(ctx, state)
    t0 = time.perf_counter()
    ok = True
    # the cycle's own span: its self time is the glue between the calls
    with ctx.tracer.span("analytics.cycle"):
        ok &= math.isfinite(call(_compact, ctx, tp)[0])
        dt_, state["compacted_rows"] = call(_read_compacted, ctx, tp)
        ok &= math.isfinite(dt_)
        dt_, state["seek"] = call(_seek_read, ctx, tp, ts)
        ok &= math.isfinite(dt_)
        for q in state["queries"]:
            dt_, res = call(_query, ctx, q, fix)
            ok &= math.isfinite(dt_)
            state["results"][q.name] = res
    return time.perf_counter() - t0 if ok else math.inf


def run(ctx: common.Ctx, state: dict) -> dict:
    """Whole cycles until ``--seconds``, at least one. The end-to-end
    figures are CPU time of the whole process tree: the median cycle's, and
    the same per row the cycle reads."""
    cycles, cpu = [], []
    t0 = time.perf_counter()
    # after the first, only cycles expected to end within --seconds (so the
    # count does not hinge on a cycle ending just before or after the deadline)
    while not cycles or time.perf_counter() - t0 + cycles[-1] <= ctx.seconds:
        c0 = engine.cpu_snapshot()
        cycles.append(cycle(ctx, state, timed=True))
        cpu.append(engine.cpu_between(c0, engine.cpu_snapshot()).work_s)
    state["window"] = (t0, time.perf_counter())
    cycle_s, cycle_cpu_s = stats.quantile(cycles, 0.5), stats.quantile(cpu, 0.5)
    return {
        "e2e": {"op_cpu_s": cycle_cpu_s, "row_cpu_us": cycle_cpu_s / state["rows_per_cycle"] * 1e6},
        "figures": {
            "analytics.cycle_s": common.figure(cycle_s, "s", n=len(cycles)),
            "analytics.rows_per_s": common.figure(state["rows_per_cycle"] / cycle_s, "rows/s"),
        },
        "detail": {"cycles_s": cycles, "cycles_cpu_s": cpu, "rows_per_cycle": state["rows_per_cycle"]},
    }


def layers(ctx: common.Ctx, state: dict) -> dict[str, float]:
    t0, t1 = state["window"]
    out = common.append_metrics(ctx, t0, t1)
    for name in ("topic.compact", "topic.read_compacted", "topic.seek", "topic.read_topic"):
        out[f"{name}_s"] = common.median_or_zero(common.window_spans(ctx, name, t0, t1))
    for q in state["queries"]:
        out[layer_name(q)] = common.median_or_zero(common.window_spans(ctx, layer_name(q), t0, t1))
    out.update(common.topic_shape(state["topic"]))
    return out


# --------------------------------------------------------------------------
# correctness
# --------------------------------------------------------------------------


def _sort_key(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, f"{v:.6g}")
    return (2, str(v))


def _cells_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        # engines may round the last printed digit differently
        return abs(a - b) <= 1.5e-4 or abs(a - b) <= 1e-9 * max(abs(a), abs(b))
    return a == b or str(a) == str(b)


def same_rows(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """Order-insensitive comparison of two results by column name; returns
    a description of the first difference, or None."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} rows vs {len(rows_b)}"

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [tuple(r[i] for i in order) for r in rows]
        return sorted(out, key=lambda r: tuple(_sort_key(v) for v in r))

    for ra, rb in zip(canon(cols_a, rows_a), canon(cols_b, rows_b)):
        if not all(_cells_equal(x, y) for x, y in zip(ra, rb)):
            return f"row {ra} vs {rb}"
    return None


def check(ctx: common.Ctx, state: dict) -> None:
    """Each registry query matches its DuckDB oracle on the same parquet,
    the compacted view equals a batch latest-per-key over the log, and the
    seek landed on the first offset at or after the seek time."""
    import duckdb

    from pulsar_3_2_codedump_spark import topic

    fix, tp = state["fixtures"], state["topic"]
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fix}/{t}.parquet')")
        for q in state["queries"]:
            res = con.execute(q.oracle)
            diff = same_rows(*state["results"][q.name], [d[0] for d in res.description], res.fetchall())
            ctx.check(diff is None, f"{q.name} differs from its oracle: {diff}")
    finally:
        con.close()

    with ctx.tracer.span("topic.read_topic"):
        log = topic.read_topic(ctx.spark, tp).select("key", "partition", "offset", "publish_time").toPandas()
    with ctx.tracer.span("topic.read_compacted"):
        comp = topic.read_topic_compacted(ctx.spark, tp).select("key", "partition", "offset").toPandas()
    latest = log.sort_values(["partition", "offset"]).groupby("key").tail(1)
    want = set(latest[["key", "partition", "offset"]].itertuples(index=False, name=None))
    got = set(comp.itertuples(index=False, name=None))
    ctx.check(got == want, f"compacted view differs from latest-per-key on {len(got ^ want)} rows")
    ctx.check(state["compacted_rows"] == len(want), f"compacted count {state['compacted_rows']} vs {len(want)} keys")

    seek = state["seek"]
    ts = np.datetime64(seek["ts"])
    for p, off in seek["start"].items():
        part = log[log["partition"] == p]
        first = part.loc[part["publish_time"].to_numpy() >= ts, "offset"]
        want_off = int(first.min()) if len(first) else int(part["offset"].max()) + 1
        ctx.check(off == want_off, f"seek on partition {p} landed at {off}, first offset at/after {seek['ts']} is {want_off}")
