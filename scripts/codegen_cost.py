#!/usr/bin/env python
"""Per-task fixed cost of the staging write, Project by Project.

Whole-stage codegen is off (session.py), so every task of the staging
write calls ``UnsafeProjection.create`` once per Project and generates
that Project's Java source again (the compiled class comes from the
cache). This script builds ``sinks.write_staging``'s plan over the
fixture corpus, read as token input the way ``run_batch`` sees it, and
prints:

* for each Project of the physical plan: its expression node count and
  the warm ``UnsafeProjection.create`` time in ms (median of ``--reps``
  calls after one cold call, py4j round trip included);
* for each stage of the last of ``--passes`` staging writes: its task
  count, executor CPU and task-deserialization CPU in ms, read from the
  Spark status store.

Usage: python scripts/codegen_cost.py [--master local[4]] [--reps 5]
           [--passes 3] [--copies 1]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _seq(jseq) -> list:
    it, out = jseq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def _projects(plan) -> list:
    """Project nodes of a physical plan, root first."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if node.nodeName() == "Project":
            out.append(node)
        stack.extend(reversed(_seq(node.children())))
    return out


def _create_ms(jvm, node, reps: int) -> float:
    create = jvm.org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create
    exprs, inputs = node.projectList(), node.child().output()
    create(exprs, inputs)  # cold: compiles, fills the class cache
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        create(exprs, inputs)
        walls.append(1000 * (time.perf_counter() - t0))
    return statistics.median(walls)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--reps", type=int, default=5, help="warm create calls per Project")
    ap.add_argument("--passes", type=int, default=3, help="staging writes; the last is reported")
    ap.add_argument("--copies", type=int, default=1, help="copies of the corpus in the input")
    args = ap.parse_args(argv)

    from hnormalise_spark import get_spark, sinks
    from hnormalise_spark.fixtures import CORPUS
    from hnormalise_spark.pipeline import normalise_tokens

    spark = get_spark(master=args.master, app_name="codegen-cost")
    sc, jvm = spark.sparkContext, spark.sparkContext._jvm
    try:
        rows = [
            (f"{i}#{k}", [ord(c) for c in line], len(line), source)
            for k in range(args.copies)
            for (i, source, _, line) in CORPUS
        ]
        tokens = spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, source string"
        )
        parsed = normalise_tokens(tokens)
        plan = sinks.staging_frame(parsed, json_line=True)._jdf.queryExecution().executedPlan()

        print(f"{'project':>7} {'nodes':>6} {'create_ms':>9}")
        total_nodes, total_ms = 0, 0.0
        for k, node in enumerate(_projects(plan)):
            nodes = sum(len(e.treeString().splitlines()) for e in _seq(node.projectList()))
            ms = _create_ms(jvm, node, args.reps)
            total_nodes, total_ms = total_nodes + nodes, total_ms + ms
            print(f"{k:>7} {nodes:>6} {ms:>9.1f}")
        print(f"{'total':>7} {total_nodes:>6} {total_ms:>9.1f}")

        with tempfile.TemporaryDirectory(prefix="codegen_cost_") as tmp:
            for p in range(args.passes):
                group = f"codegen-cost-{p}"
                sc.setJobGroup(group, "staging write")
                sinks.write_staging(parsed, os.path.join(tmp, "staging"), json_line=True)
            sc.setJobGroup("", "")
            store = sc._jsc.sc().statusStore()
            tracker = sc.statusTracker()
            print(f"\n{'stage':>5} {'tasks':>5} {'cpu_ms':>8} {'deser_cpu_ms':>12}  name")
            for job in sorted(tracker.getJobIdsForGroup(group)):
                for sid in sorted(tracker.getJobInfo(job).stageIds):
                    st = store.lastStageAttempt(sid)
                    print(
                        f"{sid:>5} {st.numTasks():>5} {st.executorCpuTime() / 1e6:>8.1f} "
                        f"{st.executorDeserializeCpuTime() / 1e6:>12.1f}  {st.name()}"
                    )
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
