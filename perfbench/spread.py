"""Run one workload once per seed and report how far each end-to-end metric
spreads: the distance between its first and third quartile as a share of
its median, over the runs.

    python3 perfbench/spread.py --workload tail --seeds 1-10 [--seconds S]

Run from the repository root. Each run is a separate ``run.py`` process,
one after another; the seconds default to ``run_seconds`` of
BENCHMARK.json. Every run's result line and detail record are appended to
``.perfbench_out/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, REPO_ROOT)

from perfbench import metrics, stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    """``1-10`` or ``3,5,8``."""
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",")]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=list(metrics.WORKLOADS))
    ap.add_argument("--seeds", required=True, type=seeds)
    ap.add_argument("--seconds", type=int, default=metrics.RUN_SECONDS)
    args = ap.parse_args(argv)

    out_path = os.path.join(REPO_ROOT, ".perfbench_out", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=REPO_ROOT, capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result, detail = json.loads(lines[-1]), json.loads(lines[-2])
        with open(out_path, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, "result": result, "detail": detail}) + "\n")
        row = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: {row} correct={result['correct']} failed={result['failed']} wall={wall:.1f}s", flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if len(args.seeds) >= 2:
        for k, v in values.items():
            print(f"{k}: median {statistics.median(v):.6g}  spread {stats.iqr_share(v):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
