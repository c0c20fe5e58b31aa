#!/usr/bin/env python3
"""Steadiness report: run workloads repeatedly, one seed per run, and
print the median, quartiles and relative spread (quartile distance ÷
median) of every metric.

    python3 perfbench/steady.py --workloads lakehouse_etl,corpus_prep \
        --seeds 1-10 --seconds 12

Runs are sequential, from the current directory (a checkout's root).
Quartiles are those of ``statistics.quantiles(values, n=4)``. The
operation wall times a run prints on stderr are summarised too, marked
"(stderr)". The full results are also written to
``.bench_work/steady-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def one_run(workload: str, seed: int, seconds: float) -> tuple[dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {proc.returncode}")
    result = json.loads(lines[-1])
    # operation wall times, printed on stderr as "wall: name value, ..."
    for line in proc.stderr.splitlines():
        if line.startswith("wall: "):
            for item in line[6:].split(" (")[0].split(", "):
                name, value = item.split()
                result["metrics"][f"{name} (stderr)"] = {"value": float(value), "unit": ""}
    return result, wall


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default="lakehouse_etl,corpus_prep")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=12)
    args = p.parse_args()
    report = {}
    for workload in args.workloads.split(","):
        runs = []
        for seed in seeds(args.seeds):
            result, wall = one_run(workload, seed, args.seconds)
            runs.append({"seed": seed, "wall_s": wall, **result})
            print(f"{workload} seed {seed}: {wall:.1f} s, attempted {result['attempted']}, "
                  f"failed {result['failed']}, correct {result['correct']}", flush=True)
        names = runs[0]["metrics"]
        stats = {m: summary([r["metrics"][m]["value"] for r in runs]) for m in names}
        report[workload] = {"runs": runs, "summary": stats}
        print(f"\n{workload}: {len(runs)} runs, run wall "
              f"{statistics.median(r['wall_s'] for r in runs):.1f} s (median)")
        print(f"  {'metric':62s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s}")
        for m, s in stats.items():
            print(f"  {m:62s} {s['median']:12.5g} {s['q1']:12.5g} {s['q3']:12.5g} "
                  f"{s['spread']:7.3f}")
        print(flush=True)
    out_dir = os.path.join(os.getcwd(), ".bench_work")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"steady-{int(time.time())}.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
