"""Traced run: split one batch pass across the pipeline's layers.

Everything is measured from outside the program. Cumulative prefixes
of the parsed plan are forced, one leg each:

* scan (``spark.read.parquet``)
* + ``detokenize_col``
* + ``_envelope_stage``
* + each family's ``layers()``, in ``pipeline.FAMILIES`` order
* + the routing columns (the rest of ``normalise``)
* + ``encode_normalised`` (with the lineage columns)
* + retokenize (``write_staging``'s lean failure columns)
* the real ``write_staging``
* the real ``write_counts``

The prefix legs write to the ``noop`` sink and are run once untimed
first (the real writes are warm from the warm-up pass). A layer's self
time is its leg's wall minus the previous leg's, so the self times add
up to the walls of the last two legs, one pass done in two calls.
``write_staging`` builds the JSON column inside the call; the trace
builds it once up front and moves that build time from the staging
write to the encode layer, which leaves the sum unchanged. The
family legs and the routing leg together make ``pipeline.payload_s``;
each family's share is reported per thousand lines of that family.
After the legs, three untraced ``run_batch`` passes (as warm as the
legs) give the base wall, their median; the first, inside a
benchmark-set job group, gives the Spark, JVM, sink and correctness
counters. A two-trigger ``start_pipeline``
drain gives the streaming sink's micro-batch times.

Spans (name, start, end, parent id) are kept in memory and written to
``.bench_build/perfbench/traces`` when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import pyarrow.parquet as pq

BASE_PASSES = 3
STREAM_TRIGGERS = 2
STREAM_FILES_PER_TRIGGER = 16  # streaming.read_token_stream's maxFilesPerTrigger


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.id = len(tracer.spans)
                tracer.spans.append({
                    "id": self.id, "name": name,
                    "parent": tracer._stack[-1] if tracer._stack else None,
                    "start": time.perf_counter(), "end": None,
                })
                tracer._stack.append(self.id)
                return self

            def __exit__(self, *exc):
                tracer._stack.pop()
                s = tracer.spans[self.id]
                s["end"] = time.perf_counter()
                self.wall = s["end"] - s["start"]
                return False

        return _Span()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=0)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _job_counters(spark, group: str) -> dict:
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            s = st.getStageInfo(sid)
            if s is not None:
                stages += 1
                tasks += s.numTasks
                failed += s.numFailedTasks
    return {"spark.jobs": len(jobs), "spark.stages": stages,
            "spark.tasks": tasks, "spark.tasks_failed": failed}


def _stream_drain(spark, meta, run_dir, tr) -> dict:
    from hnormalise_spark import streaming

    import gen

    in_dir = os.path.join(run_dir, "stream_in")
    files = STREAM_TRIGGERS * STREAM_FILES_PER_TRIGGER
    gen.write_stream_files(meta, in_dir, files)
    with tr.span("streaming.drain"):
        q = streaming.start_pipeline(
            spark, in_dir, os.path.join(run_dir, "stream_out"), available_now=True
        )
        q.awaitTermination()
    prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
    trig = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in prog]
    add = [p["durationMs"].get("addBatch", 0) / 1000 for p in prog]
    return {
        "streaming.batches": len(prog),
        "streaming.add_batch_s_p50": statistics.median(add),
        "streaming.overhead_s_p50": statistics.median(t - a for t, a in zip(trig, add)),
        "streaming.batch_max_s": max(trig),
    }


def run(spark, jvm, meta, parsed, run_dir, one_pass, trace_path: str, setup: dict):
    """→ (metrics {name: (value, unit)}, correct, attempted lines)."""
    from pyspark.sql import functions as F

    from hnormalise_spark import jsonout, sinks
    from hnormalise_spark import pipeline as P
    from hnormalise_spark.tokenizer import detokenize_col, retokenize_col

    import check

    tr = Tracer()
    rows = meta["rows"]
    m: dict[str, tuple[float, str]] = {k: (v, "s") for k, v in setup.items()}

    # --- cumulative prefix legs ----------------------------------------
    scan = spark.read.parquet(meta["input"])
    detok = scan.withColumn("raw", detokenize_col("tokens")).drop("tokens")
    with tr.span("build_prefixes"):
        prefixes = [("pipeline.envelope_s", P._envelope_stage(detok, "raw"))]
        df = prefixes[0][1]
        # _payload_stage's family loop, one prefix per family
        for fam, mod, _, _ in P.FAMILIES:
            gate = F.col("_family") == fam
            barriers = getattr(mod, "LAYER_BARRIERS", ())
            if 0 in barriers:
                df = P.codegen_barrier(df)
            for idx, layer in enumerate(mod.layers(gate, F.col("msg")), 1):
                df = df.withColumns(layer)
                if idx in barriers:
                    df = P.codegen_barrier(df)
            prefixes.append((f"parsing.{fam}", df))

    # write_staging builds these columns inside the call; here they are
    # built once, and the build is charged to the encode layer below
    with tr.span("build_json") as build_json:
        with_json = sinks.with_lineage(parsed).withColumn(
            "json", F.when(F.col("parse_ok"), jsonout.encode_normalised())
        )
        # write_staging's lean failure columns, ahead of its parquet write
        ok = F.col("parse_ok")
        with_retok = with_json
        for c in ("tokens", "raw", "n_tok"):
            if c in with_retok.columns:
                with_retok = with_retok.withColumn(c, F.when(~ok, F.col(c)))
        with_retok = with_retok.withColumn(
            "tokens", F.when(~ok, retokenize_col("raw"))
        ).withColumn("route", F.when(ok, "success").otherwise("failure"))

    staging = os.path.join(run_dir, "trace_out", "staging")
    counts_path = os.path.join(run_dir, "trace_out", "counts")
    legs = [("pipeline.scan_s", lambda: _noop(scan)),
            ("tokenizer.detokenize_s", lambda: _noop(detok))]
    legs += [(name, lambda df=df: _noop(df)) for name, df in prefixes]
    legs += [
        ("pipeline.routing_s", lambda: _noop(parsed)),
        ("jsonout.encode_s", lambda: _noop(with_json)),
        ("tokenizer.retokenize_s", lambda: _noop(with_retok)),
    ]
    n_noop = len(legs)
    legs += [
        ("sinks.write_staging_s", lambda: sinks.write_staging(parsed, staging, json_line=True)),
        ("sinks.write_counts_s",
         lambda: sinks.write_counts(spark.read.parquet(staging), counts_path)),
    ]
    with tr.span("warm_legs"):
        # the real writes are warm from the warm-up pass
        for name, fn in legs[:n_noop]:
            with tr.span(f"warm:{name}"):
                fn()
    self_s: dict[str, float] = {}
    prev = 0.0
    with tr.span("legs") as legs_span:
        for name, fn in legs:
            with tr.span(name) as s:
                fn()
            # write_counts is its own job over staging: no prefix below it
            self_s[name] = s.wall if name == "sinks.write_counts_s" else s.wall - prev
            prev = s.wall
    # the family legs and routing together are the payload layer
    src = pq.read_table(meta["expect"], columns=["source"])["source"].to_pylist()
    payload = self_s.pop("pipeline.routing_s")
    for fam, *_ in P.FAMILIES:
        fam_s = self_s.pop(f"parsing.{fam}")
        payload += fam_s
        m[f"parsing.{fam}.s_per_kline"] = (fam_s / (max(src.count(fam), 1) / 1000), "s/kline")
    self_s["pipeline.payload_s"] = payload
    self_s["jsonout.encode_s"] += build_json.wall
    self_s["sinks.write_staging_s"] -= build_json.wall
    m.update({k: (v, "s") for k, v in self_s.items()})

    # --- untraced base pass (as warm as the legs) and counters ---------
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-base", "untraced run_batch pass")
    with tr.span("base_pass"):
        w, paths = one_pass()
    sc.setLocalProperty("spark.jobGroup.id", None)
    # the shares compare the legs with the median of three untraced passes
    base_walls = [w.wall]
    for _ in range(BASE_PASSES - 1):
        with tr.span("base_pass"):
            base_walls.append(one_pass()[0].wall)
    base_wall = statistics.median(base_walls)
    res = check.check_pass(check.read_expect(meta["expect"]), paths)
    sb = check.sink_bytes(paths)
    m.update({k: (v, "count") for k, v in _job_counters(spark, "perfbench-base").items()})
    m["pass.lines_per_s"] = (rows / base_wall, "lines/s")
    m["jvm.cpu_s_per_mline"] = (w.cpu / (rows / 1e6), "s/Mline")
    m["jvm.gc_s"] = (w.gc, "s")
    m["host.steal_pct"] = (w.steal, "%")
    m["check.error_share"] = (res["wrong"] / res["lines"], "ratio")
    for sink in ("success", "failure", "counts"):
        m[f"sinks.{sink}_bytes"] = (sb[sink][0], "B")
    for sink in ("success", "failure"):
        m[f"sinks.{sink}_files"] = (sb[sink][1], "count")
    counts = pq.read_table(paths["counts"], columns=["parse_ok", "n"]).to_pylist()
    m["sinks.success_lines"] = (sum(r["n"] for r in counts if r["parse_ok"]), "count")
    m["sinks.failure_lines"] = (sum(r["n"] for r in counts if not r["parse_ok"]), "count")
    m["input.mean_line_chars"] = (meta["mean_line_chars"], "chars")
    m["input.expected_success_share"] = (meta["expected_success_share"], "ratio")
    m["input.non_ascii_share"] = (meta["non_ascii_share"], "ratio")

    m["trace.layer_sum_share"] = (sum(self_s.values()) / base_wall, "ratio")
    m["trace.overhead_share"] = (legs_span.wall / base_wall - 1, "ratio")

    with tr.span("streaming"):
        stream = _stream_drain(spark, meta, run_dir, tr)
    m.update({k: (v, "s" if k.endswith("_s") or "_s_" in k else "count")
              for k, v in stream.items()})
    m["jvm.peak_rss_mb"] = (jvm.peak_rss_mb(), "MB")
    tr.write(trace_path)
    correct = res["wrong"] == res["known_defect"]
    return m, correct, rows
