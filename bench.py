#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the flagship end-to-end pipeline (tokenized corpus → detokenize →
parse → route → JSON encode → counts) plus every `__spark_entry__`
query at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use),
and prints ONE JSON line:

    {"metric": "pipeline lines/sec", "value": <lines/s>, "unit": "lines/s",
     "queries": {name: sec, ...}, "sf": 0.1, ...}

Every timed leg is STEAL-STAMPED: /proc/stat's steal counter (hypervisor
CPU time stolen from this VM — BASELINE.md documents co-tenant bursts up
to 17% that depress identical runs ~30%) is sampled around the leg and
the percentage is emitted next to the seconds, so a regression can be
told apart from a noisy-neighbour window. A leg whose steal exceeds
``$SPARK_GRAFT_STEAL_MAX`` (default 2.0%) is re-run (up to
``$SPARK_GRAFT_STEAL_RETRIES``, default 2) and the lowest-steal
measurement is kept.

Env knobs:
    SPARK_GRAFT_SF_DIR        parquet table dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS          local[] parallelism (default: the CPUs this
                              process may use, os.sched_getaffinity)
    SPARK_GRAFT_BENCH_LINES   corpus size for the throughput leg (default 2_000_000)
    SPARK_GRAFT_SKIP_QUERIES  set to skip the per-query leg (scaling runs)
    SPARK_GRAFT_STEAL_MAX     steal %% above which a leg re-runs (default 2.0)
    SPARK_GRAFT_STEAL_RETRIES max re-runs per noisy leg (default 2)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def force(df) -> int:
    """Fully execute a DataFrame without sink cost (noop source keeps
    every projected column alive, unlike count()'s pruned scan)."""
    df.write.format("noop").mode("overwrite").save()
    return 0


# ---------------------------------------------------------------------------
# steal stamping


def _cpu_sample() -> tuple[int, int]:
    """(total_jiffies, steal_jiffies) from the aggregate /proc/stat line."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except OSError:  # non-Linux fallback: stamp zeros, never retry
        return 0, 0


def _steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return round(100.0 * (after[1] - before[1]) / dt, 2) if dt > 0 else 0.0


STEAL_MAX = float(os.environ.get("SPARK_GRAFT_STEAL_MAX", "2.0"))
STEAL_RETRIES = int(os.environ.get("SPARK_GRAFT_STEAL_RETRIES", "2"))


def timed(
    fn, retries: int = STEAL_RETRIES, min_runs: int = 1
) -> tuple[float, float, int, list[float], list[float]]:
    """Run ``fn``, return (wall_sec, steal_pct, n_runs, all_walls,
    clean_walls).

    Re-runs on a stolen window (keeping the lowest-steal run, NOT the
    fastest — a fast-but-stolen run would still be biased). With
    ``min_runs`` > 1 it always runs at least that many times and
    reports the MEDIAN wall among steal-clean runs (the mean of the two
    middle walls for an even count; steal is the larger of theirs), so
    the headline number is never a single sample on a host documented
    to swing ±10%. ``clean_walls`` are the steal-clean walls, sorted."""
    samples: list[tuple[float, float]] = []  # (wall, steal)
    for i in range(max(min_runs, 1) + retries):
        s0 = _cpu_sample()
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        sp = _steal_pct(s0, _cpu_sample())
        samples.append((wall, sp))
        clean = [s for s in samples if s[1] <= STEAL_MAX]
        if len(clean) >= min_runs:
            break
    clean = sorted(s for s in samples if s[1] <= STEAL_MAX)
    if clean:
        mid = clean[(len(clean) - 1) // 2 : len(clean) // 2 + 1]
        wall = sum(w for w, _ in mid) / len(mid)
        sp = max(s for _, s in mid)
    else:
        wall, sp = min(samples, key=lambda s: s[1])  # least-stolen
    return (
        wall, sp, len(samples),
        [round(w, 2) for w, _ in samples], [round(w, 2) for w, _ in clean],
    )


def main() -> int:
    # --quick: smoke mode for interactive verification — small corpus,
    # one pipeline run, no per-query leg. Same output shape.
    if "--quick" in sys.argv[1:]:
        os.environ.setdefault("SPARK_GRAFT_BENCH_LINES", "100000")
        os.environ.setdefault("SPARK_GRAFT_PIPE_RUNS", "1")
        os.environ.setdefault("SPARK_GRAFT_SKIP_QUERIES", "1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    n_lines = int(os.environ.get("SPARK_GRAFT_BENCH_LINES", "2000000"))

    from hnormalise_spark import get_spark

    spark = get_spark(master=f"local[{cpus}]", app_name=f"bench-{cpus}")
    spark.range(10).count()  # JVM warm-up

    # --- leg 1: end-to-end normalisation throughput --------------------
    # Corpus lives in /tmp keyed by size, generated once (datagen is
    # deterministic, so every run and both parallelism levels see the
    # exact same input bytes).
    from hnormalise_spark import datagen
    from hnormalise_spark.pipeline import normalise_tokens

    corpus = f"/tmp/hnorm_bench_corpus_v{datagen.DATAGEN_VERSION}_{n_lines}"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        shutil.rmtree(corpus, ignore_errors=True)
        datagen.write_corpus(spark, corpus, n_lines, partitions=int(cpus) * 4 if cpus.isdigit() else None)

    from hnormalise_spark import sinks

    # warm-up: run the identical plan over a small slice so one-time
    # codegen/janino/JIT compilation is excluded from the measured
    # window (it is a constant, not a per-line cost, and would skew the
    # N-vs-4N scaling ratio)
    warm_dir = f"/tmp/hnorm_bench_warm_{cpus}"
    shutil.rmtree(warm_dir, ignore_errors=True)
    sinks.run_batch(
        spark, normalise_tokens(spark.read.parquet(corpus).limit(20000)),
        warm_dir, json_line=True,
    )

    out_dir = f"/tmp/hnorm_bench_out_{cpus}"
    count_box = {}

    def pipeline_leg():
        shutil.rmtree(out_dir, ignore_errors=True)
        parsed = normalise_tokens(spark.read.parquet(corpus))
        paths = sinks.run_batch(spark, parsed, out_dir, json_line=True)
        count_box["rows"] = {
            (r["source"], r["parser"], r["parse_ok"]): r["n"]
            for r in spark.read.parquet(paths["counts"]).collect()
        }

    min_runs = int(os.environ.get("SPARK_GRAFT_PIPE_RUNS", "3"))
    wall, pipe_steal, pipe_runs, pipe_walls, clean_walls = timed(
        pipeline_leg, min_runs=min_runs
    )
    lps = n_lines / wall

    # --- leg 2: per-query wall clock -----------------------------------
    q_secs: dict[str, float] = {}
    q_steal: dict[str, float] = {}
    if not os.environ.get("SPARK_GRAFT_SKIP_QUERIES"):
        import __spark_entry__ as entry

        for name, fn in entry.queries().items():
            # warm run: same policy as the pipeline leg — one-time
            # Janino compilation of the plan's projections + HotSpot
            # JIT of the compiled classes is a per-plan-shape constant
            # (measured: json_encode_snoopy 7.0 s first run, 1.4 s
            # every run after, any fresh identically-shaped plan), not
            # a per-row cost, and amortizes to zero at scale. Cold
            # numbers also made early-alphabet queries look slower
            # than late ones for no data reason.
            force(fn(spark, sf_dir))
            w, sp, *_ = timed(lambda: force(fn(spark, sf_dir)))
            q_secs[name] = round(w, 3)
            q_steal[name] = sp

    n_success = sum(v for (s, p, ok), v in count_box["rows"].items() if ok)
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    full = {
        "metric": "normalised lines/sec (tokens->parse->route->json->counts)",
        "value": round(lps, 1),
        "unit": "lines/s",
        "queries": q_secs,
        "query_steal_pct": q_steal,
        "sf": sf,
        "bench_lines": n_lines,
        "pipeline_wall_sec": round(wall, 2),
        "pipeline_steal_pct": pipe_steal,
        "pipeline_runs": pipe_runs,
        "pipeline_walls_sec": pipe_walls,
        # min / median / max of the steal-clean walls (empty when every
        # run was stolen and the least-stolen one is reported instead)
        "pipeline_clean_walls_sec": (
            {"min": clean_walls[0], "median": round(wall, 2), "max": clean_walls[-1]}
            if clean_walls else {}
        ),
        "steal_max_pct": STEAL_MAX,
        "success_lines": n_success,
        "fail_lines": n_lines - n_success,
        "cpus": cpus,
    }
    # Full record first (humans, logs, BENCH_FULL.json survives on disk)…
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    print(json.dumps(full))

    # …then ONE COMPACT FINAL LINE sized for the driver's 2000-char
    # stdout tail capture (round 4's full line was ~4 KB, so the tail
    # cut its head off and the driver recorded parsed=null). Keep the
    # headline + the complete per-leg seconds dict; if a grown registry
    # ever pushes past the budget, drop the FASTEST legs first and say
    # how many were omitted rather than truncate mid-JSON.
    compact = {
        "metric": "pipeline lines/s",
        "value": round(lps, 1),
        "unit": "lines/s",
        "sf": sf,
        "pipeline_wall_sec": round(wall, 2),
        "pipeline_steal_pct": pipe_steal,
        "pipeline_runs": pipe_runs,
        "n_queries": len(q_secs),
        "queries": {k: round(v, 2) for k, v in q_secs.items()},
    }
    budget = 1900
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > budget:
        by_speed = sorted(compact["queries"], key=lambda k: compact["queries"][k])
        omitted = 0
        while len(line) > budget and by_speed:
            compact["queries"].pop(by_speed.pop(0))
            omitted += 1
            compact["queries_omitted_fastest"] = omitted
            line = json.dumps(compact, separators=(",", ":"))
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
