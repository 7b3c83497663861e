#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload query_mix --seeds 1-10 [--trace 0]

For every metric: the median of the runs and the inter-quartile distance
(statistics.quantiles(values, n=4)) as a share of that median — the figure
each end-to-end bound in BENCHMARK.json is checked against.  Also prints
each run's wall time.  Run from the repository root.
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


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(spec["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            return 1
        res = json.loads(lines[-1])
        detail = json.loads(lines[-2])
        print(f"seed {seed}: wall {wall:.1f}s attempted {res['attempted']} "
              f"failed {res['failed']} steal {detail['steal_pct']:.2f}% "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _q2, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med,) * 3
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(k)
        note = f" bound {b} ({spread / b:.2f} of it)" if b else ""
        print(f"{k:45s} median {med:12.5g}  spread {spread:.3f}{note}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
