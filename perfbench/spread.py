#!/usr/bin/env python3
"""Run the benchmark once per seed and report, per metric, the median and
the interquartile spread as a share of the median (the figure BENCHMARK.json
bounds). Run from the repository root:

    python3 perfbench/spread.py --workload ingest --seeds 1-10 --seconds 5
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="'1-10' or '3,5,8'")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in parse_seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, check=False,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", flush=True)
            continue
        res = json.loads(lines[-1])
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        shown = " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items())
        print(f"seed {seed}: {wall:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} {shown}", flush=True)
    summary = {
        name: {
            "median": statistics.median(xs),
            "spread": stats.spread(xs) if len(xs) >= 2 and statistics.median(xs) else None,
            "n": len(xs),
        }
        for name, xs in values.items()
    }
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
