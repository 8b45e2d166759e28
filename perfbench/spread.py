#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's median and
spread, the way a change is judged against its parent.

Usage (from the repository root)::

    python3 perfbench/spread.py --workload near_dedup --seeds 1-10 [--trace 1]

For every metric it prints the median, the quartiles and the spread
``(Q3 - Q1) / median`` (quartiles from ``statistics.quantiles(n=4)``), and,
for end-to-end metrics, the bound from ``BENCHMARK.json``. ``--json PATH``
also writes the per-run results and the summary.
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
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed} exited {proc.returncode}: {proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["seed"], result["wall_s"] = seed, wall
    return result


def summarize(runs: list, bounds: dict) -> dict:
    summary = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        summary[name] = {
            "unit": runs[0]["metrics"][name]["unit"],
            "median": med,
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
            "bound": bounds.get(name),
        }
    return summary


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--json")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in _seeds(args.seeds):
        r = run_once(args.workload, seed, bench["run_seconds"], args.trace)
        runs.append(r)
        print(f"seed {seed}: wall {r['wall_s']:.1f} s correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']}", flush=True)
    summary = summarize(runs, bounds)
    for name, s in summary.items():
        bound = "" if s["bound"] is None else f"  bound {s['bound']:.2f}"
        print(f"{name:32s} median {s['median']:.4g} {s['unit']:6s} "
              f"IQR [{s['q1']:.4g}, {s['q3']:.4g}]  spread {s['spread']:.3f}{bound}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "trace": args.trace,
                       "runs": runs, "summary": summary}, f, indent=1)
    return 0 if all(r["correct"] and r["failed"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
