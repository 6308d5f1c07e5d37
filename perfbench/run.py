"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {tail,analytics} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics. The line before it is a JSON detail record (sizing, sample counts,
every end-to-end figure with its unit, set-up phases, correctness
problems). The run exits 1 when a correctness check fails or a workload
raises, and 2 without a result when the program is not next to perfbench/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, REPO_ROOT)

from perfbench import metrics as metrics_mod  # noqa: E402

PACKAGE = "pulsar_3_2_codedump_spark"
OUT_DIR = os.path.join(REPO_ROOT, ".perfbench_out")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=list(metrics_mod.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def untraced_reference(workload: str) -> dict | None:
    """The most recent untraced result of this workload in this checkout."""
    path = os.path.join(OUT_DIR, f"{workload}-untraced.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO_ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/ — run from a full checkout", file=sys.stderr)
        return 2

    from perfbench import common, engine, stats
    from perfbench.spans import Tracer

    workload = __import__(f"perfbench.{args.workload}", fromlist=["setup"])
    work_dir = os.path.join(REPO_ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    os.makedirs(OUT_DIR, exist_ok=True)
    sizing = engine.configure(REPO_ROOT, work_dir)
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        t_session = time.perf_counter()
        spark = engine.start(sizing)
        session_s = time.perf_counter() - t_session
        ctx = common.Ctx(spark, tracer, args.seed, args.seconds, work_dir)
        t_setup = time.perf_counter()
        state = workload.setup(ctx)
        t_window = time.perf_counter()
        # end-to-end metrics are CPU time, not wall time (perfbench/metrics.py)
        cpu0 = engine.cpu_snapshot()
        setup_cpu = engine.cpu_between({}, cpu0)
        with tracer.bookkeeping():
            before = engine.counters(spark) if args.trace else None
        result = workload.run(ctx, state)
        with tracer.bookkeeping():
            after = engine.counters(spark) if args.trace else None
        window_cpu = engine.cpu_between(cpu0, engine.cpu_snapshot())
        workload.check(ctx, state)
        peak_rss = engine.peak_rss_mb(spark)

        e2e = {"setup_s": setup_cpu.work_s, **result["e2e"]}
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": sizing.cpus,
            "driver_memory": sizing.driver_memory,
            "setup_wall_s": {"session": session_s, "workload": t_window - t_setup, "total": t_window - T_START},
            "jit_cpu_s": {"setup": setup_cpu.jit_s, "window": window_cpu.jit_s},
            "figures": {
                **result["figures"],
                "peak_rss_mb": common.figure(peak_rss, "MB"),
                **{k: common.figure(v, metrics_mod.UNITS[k]) for k, v in e2e.items()},
            },
            **result["detail"],
            "problems": ctx.problems,
        }
        if args.trace:
            per_layer = workload.layers(ctx, state)
            per_layer.update(engine.session_metrics(before, after, sizing.cpus))
            per_layer["session.peak_rss_mb"] = peak_rss
            per_layer["session.jit_cpu_s"] = window_cpu.jit_s
            per_layer["envelope.cached_envelope_s"] = sum(tracer.durations("envelope.cached_envelope"))
            per_layer["catalog.load_s"] = sum(tracer.durations("catalog.load"))
            per_layer["bench.trace_overhead_s"] = tracer.bookkeeping_s
            ref = untraced_reference(args.workload)
            if ref:
                # relative change of each end-to-end metric over the last
                # untraced run of this workload in this checkout
                detail["trace_overhead_vs_untraced"] = {k: (v - ref[k]) / ref[k] for k, v in e2e.items() if ref.get(k)}
            # self time per span name over the timed window and the checks
            detail["span_self_s"] = stats.self_times(s for s in tracer.spans if s.start >= t_window)
            tracer.write(os.path.join(OUT_DIR, f"{args.workload}-{args.seed}-spans.jsonl"))
            values = per_layer
        else:
            with open(os.path.join(OUT_DIR, f"{args.workload}-untraced.json"), "w") as f:
                json.dump(e2e, f)
            values = e2e
    finally:
        if spark is not None:
            engine.stop(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    # every declared metric is printed; a layer the workload never calls
    # reads 0 (no calls), as its map in perfbench/metrics.py predicts
    declared = metrics_mod.PER_LAYER if args.trace else metrics_mod.END_TO_END
    unknown = set(values) - {m.name for m in declared}
    if unknown:
        raise RuntimeError(f"undeclared metrics: {sorted(unknown)}")
    correct = not ctx.problems
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {m.name: {"value": float(values.get(m.name, 0.0)), "unit": m.unit} for m in declared},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
