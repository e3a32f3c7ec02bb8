#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload batch_mixed --seeds 1-10

For every end-to-end metric it prints the median, the quartiles
(``statistics.quantiles(n=4)``), the sample count and the spread, the
distance between the quartiles as a share of the median, next to the
metric's bound from BENCHMARK.json. It also prints each run's pass
samples and steal. Run from the repository root.
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


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode or len(lines) < 2:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        summ = json.loads(lines[-2])["summary"]
        res = json.loads(lines[-1])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(json.dumps({
            "seed": seed, "run_s": round(time.time() - t0, 1), "correct": res["correct"],
            **{k: round(v["value"], 4) for k, v in res["metrics"].items()},
            "pass_s": [round(x, 3) for x in summ["pass_s"]["samples"]],
            "steal_pct": summ["pass_steal_pct"],
            "warmup_task_ms": [round(x, 3) for x in summ["warmup_task_cpu_ms_per_line"]],
            "pass_task_ms": [round(x, 3) for x in summ["task_cpu_ms_per_line"]["samples"]],
            "pass_cpu_ms_per_line": [round(x, 3) for x in summ["cpu_ms_per_line"]["samples"]],
            "wall_lines_per_s": round(summ["lines_per_s"]["median"], 1),
        }), flush=True)
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{m['name']:22s} n={len(v):2d} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
              f"spread={spread:.3f} bound={m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
