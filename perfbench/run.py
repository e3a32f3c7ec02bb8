#!/usr/bin/env python3
"""hnormalise_spark batch benchmark: one workload, one fresh JVM.

    python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 8 --trace 0

Run from the repository root. A run:

1. starts the session (``get_spark`` on ``local[nproc]`` plus a first
   action);
2. generates the seeded input, or reuses it from the cache (not timed);
3. warms up: builds the parsed plan with ``pipeline.normalise_tokens``
   and makes ``WARMUP_PASSES`` full ``sinks.run_batch`` passes, so the
   timed passes run past the steepest part of the JIT ramp;
4. makes timed ``run_batch`` passes until ``--seconds`` have passed
   (at least ``MIN_PASSES``) and reports the median pass's executor
   task CPU per line;
5. checks the last pass's sinks against the generator (check.py).

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a traced run (tracing.py).
The line before it is a summary with every sample, its quartiles and
the steal of each pass. Work files live under ``.bench_build/perfbench``
in the checkout; generated inputs are cached there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# Lines per pass: a failheavy line costs 1.5-2 times the task CPU of a mixed one.
ROWS = {"batch_mixed": 8000, "batch_failheavy": 3000}
WARMUP_PASSES = 2
MIN_PASSES = 2


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, help="lines per pass (default per workload)")
    return ap.parse_args(argv)


def _isolate(run_dir: str) -> dict:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    return {
        "spark.ui.showConsoleProgress": "false",
        # A fixed, pre-touched heap: otherwise the task threads take the
        # page faults of a growing heap, which showed as 0.5-1.3 s
        # bursts of system CPU in random passes.
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        from hnormalise_spark import get_spark, sinks
        from hnormalise_spark.pipeline import normalise_tokens
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    import check
    import gen
    from stats import Jvm, Window, process_age_s, summary

    if args.workload not in gen.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    rows = args.rows or ROWS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = _isolate(run_dir)
    cpus = os.cpu_count() or 1
    spark = get_spark(master=f"local[{cpus}]", app_name="perfbench", extra_conf=conf)
    try:
        spark.range(10).count()
        session_s = process_age_s()
        jvm = Jvm(spark)

        with Window() as gen_w:
            meta = gen.ensure_inputs(
                spark, os.path.join(WORK, "inputs"), args.workload, args.seed, rows
            )
        out_dir = os.path.join(run_dir, "out")

        def one_pass():
            shutil.rmtree(out_dir, ignore_errors=True)
            with Window(jvm) as w:
                paths = sinks.run_batch(spark, parsed, out_dir, json_line=True)
            return w, paths

        with Window(jvm) as warm_w:
            with Window() as build_w:
                parsed = normalise_tokens(spark.read.parquet(meta["input"]))
            warm = [one_pass()[0] for _ in range(WARMUP_PASSES)]
        setup_s = session_s + warm_w.wall

        if args.trace:
            import tracing

            metrics, correct, attempted = tracing.run(
                spark, jvm, meta, parsed, run_dir, one_pass,
                os.path.join(WORK, "traces", f"{os.path.basename(run_dir)}.json"),
                {"session.start_s": session_s, "pipeline.warmup_s": warm_w.wall,
                 "pipeline.plan_build_s": build_w.wall},
            )
            failed = 0
        else:
            passes, attempted, failed = [], 0, 0
            t_end = time.perf_counter() + args.seconds
            while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
                attempted += meta["rows"]
                try:
                    w, paths = one_pass()
                except Exception:  # a crashed pass is a failed operation
                    traceback.print_exc()
                    failed += meta["rows"]
                    if failed >= 2 * meta["rows"]:
                        break
                    continue
                passes.append(w)
            if not passes:
                print("perfbench: every timed pass failed", file=sys.stderr)
                return 1
            res = check.check_pass(check.read_expect(meta["expect"]), paths)
            correct = failed == 0 and res["wrong"] == res["known_defect"]
            walls = [w.wall for w in passes]
            lps = summary([meta["rows"] / x for x in walls])
            cpu = summary([1000 * w.cpu / meta["rows"] for w in passes])
            task = summary([1000 * w.task_cpu / meta["rows"] for w in passes])
            sb = check.sink_bytes(paths)
            metrics = {
                "task_cpu_ms_per_line": (task["median"], "ms/line"),
                "setup_s": (setup_s, "s"),
                "line_correct_share": (1 - res["wrong"] / res["lines"], "ratio"),
                "sink_bytes_per_line": (sum(b for b, _ in sb.values()) / meta["rows"], "B/line"),
            }
            print(json.dumps({
                "summary": {
                    "workload": args.workload, "seed": args.seed, "rows": meta["rows"],
                    "cache_hit": meta["cache_hit"], "gen_s": gen_w.wall,
                    "session_s": session_s, "plan_build_s": build_w.wall,
                    "warmup_pass_s": [w.wall for w in warm],
                    "pass_s": summary(walls),
                    "lines_per_s": lps,
                    "task_cpu_ms_per_line": task,
                    "cpu_ms_per_line": cpu,
                    "warmup_task_cpu_ms_per_line": [
                        1000 * w.task_cpu / meta["rows"] for w in warm],
                    "pass_steal_pct": [round(w.steal, 2) for w in passes],
                    "warmup_steal_pct": round(warm_w.steal, 2),
                    "check": res,
                },
            }))
        print(json.dumps({
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
