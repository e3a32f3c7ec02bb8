"""Seeded input generator with per-line expectations.

Lines are built from ``hnormalise_spark.datagen``'s column builders.
datagen hashes the row ``id`` with a fixed module seed, so the workload
seed selects an ``id`` range instead. The first run of a workload in a
checkout generates a base corpus of ids ``[0, BASE_ROWS)`` once; each
seed then slices its range from it, which costs no Spark job. The same
seed gives the same bytes; another seed gives other lines.

Every line carries what the generator intended for it: the expected
route, the stage that should reject it, and the ``msg`` a successful
parse must report. The correctness check (check.py) compares the sinks
with these expectations and never with the program's own view.

Workloads:

* ``batch_mixed``: datagen's production mix unchanged (about 92% parse).
* ``batch_failheavy``: the same lines, with ``BROKEN_PCT`` percent broken
  at one of three stages: a timestamp of the wrong shape (envelope
  fails), a msg that starts with no family prefix, or a family body cut
  short. ``NON_ASCII_PCT`` percent of the lines also get codepoints
  >= 256 appended to their (already broken) msg.

Generated inputs are cached under the work directory, keyed by
(workload, seed, rows, DATAGEN_VERSION, GEN_VERSION); the base corpus
by (workload, BASE_ROWS and the same versions).
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

# Lines of the per-workload base corpus the seeds slice.
BASE_ROWS = 100_000
SEED_STRIDE = 7919
BROKEN_PCT = 80
NON_ASCII_PCT = 2
NON_ASCII_TEXT = " (ł 日本)"
# Bump when this module changes the generated bytes.
GEN_VERSION = 2
INPUT_FILES = 8

WORKLOADS = ("batch_mixed", "batch_failheavy")

def _lines(spark, workload: str, first_id: int, rows: int):
    """→ DataFrame (doc_id, source, raw, exp_route, fail_stage, exp_msg)."""
    from pyspark.sql import functions as F

    from hnormalise_spark import datagen as D
    from hnormalise_spark.pipeline import FAMILIES

    h = D._h
    src = F.col("source")
    msg = (
        F.when(src == "torque", D._torque_msg())
        .when(src == "lmod", D._lmod_msg())
        .when(src == "shorewall", D._shorewall_msg())
        .when(src == "snoopy", D._snoopy_msg())
        .when(src == "slurm", D._slurm_msg())
        .otherwise(D._junk_msg())
    )
    tag = (
        F.when(src == "torque", F.lit("torque"))
        .when(src == "lmod", F.lit("lmod:"))
        .when(src == "shorewall", F.lit("kernel:"))
        .when(src == "snoopy", F.lit("snoopy:"))
        .when(src == "slurm", F.lit("slurmctld:"))
        .otherwise(F.lit("misc:"))
    )
    junk_kind = h(110) % 4
    # datagen's junk: 0 random text, 1 truncated torque, 2 sshd, 3 empty
    junk_stage = (
        F.when(junk_kind == 1, F.lit("body"))
        .when(junk_kind == 3, F.lit("envelope"))
        .otherwise(F.lit("no_family"))
    )
    df = spark.range(first_id, first_id + rows, 1, 4)
    df = df.withColumn("source", D._source_col()).withColumn("msg", msg)
    df = df.withColumns(
        {
            "stage": F.when(src == "junk", junk_stage).otherwise(F.lit("")),
            "tag": tag,
        }
    )
    if workload == "batch_failheavy":
        # independent hash streams, far above datagen's (< 140)
        broken = (h(900) % 100) < BROKEN_PCT
        kind = h(901) % 3
        non_ascii = broken & ((h(902) % 1000) < NON_ASCII_PCT * 1000 // BROKEN_PCT)
        # each family's dispatch prefix (datagen's sources are the family names)
        plen = F.coalesce(
            *[F.when(src == fam, F.lit(len(prefix))) for fam, _, prefix, _ in FAMILIES],
            F.lit(0),
        )
        frac = (h(903) % 31 + 30) / 100.0  # keep 30-60% of the body
        cut = plen + F.floor((F.length("msg") - plen) * frac).cast("int")
        truncated = F.substring("msg", 1, cut)
        can_cut = plen > 0
        kind = F.when(~can_cut & (kind == 2), F.lit(1)).otherwise(kind)
        bad_msg = (
            F.when(kind == 1, F.concat(F.lit("#"), F.col("msg")))
            .when(kind == 2, truncated)
            .otherwise(F.col("msg"))
        )
        bad_stage = (
            F.when(kind == 0, F.lit("envelope"))
            .when(kind == 1, F.lit("no_family"))
            .otherwise(F.lit("body"))
        )
        df = df.withColumns(
            {
                "_bad_ts": broken & (kind == 0),
                "msg": F.when(broken, bad_msg).otherwise(F.col("msg")),
                "stage": F.when(broken, bad_stage).otherwise(F.col("stage")),
            }
        ).withColumn(
            "msg",
            F.when(non_ascii, F.concat("msg", F.lit(NON_ASCII_TEXT))).otherwise(
                F.col("msg")
            ),
        )
    raw = D._envelope(F.col("msg"), F.col("tag"))
    if workload == "batch_failheavy":
        # "2017-05-24T13:..." → "2017-05-24_13:...": not RFC 3339
        raw = F.when(
            F.col("_bad_ts"),
            F.regexp_replace(raw, r"^(<\d+>1 \d{4}-\d{2}-\d{2})T", "$1_"),
        ).otherwise(raw)
    empty = (src == "junk") & (junk_kind == 3)
    raw = F.when(empty, F.lit("")).otherwise(raw)
    stage = F.when(empty, F.lit("envelope")).otherwise(F.col("stage"))
    ok = stage == ""
    return df.select(
        F.format_string("%s-%012d", src, F.col("id")).alias("doc_id"),
        src,
        raw.alias("raw"),
        F.when(ok, F.lit("success")).otherwise(F.lit("failure")).alias("exp_route"),
        stage.alias("fail_stage"),
        F.when(ok, F.col("msg")).alias("exp_msg"),
    )


def _key(*parts) -> str:
    from hnormalise_spark.datagen import DATAGEN_VERSION

    return "-".join(map(str, parts)) + f"-d{DATAGEN_VERSION}-g{GEN_VERSION}"


def _atomic_dir(d: str):
    """→ a fresh temporary directory; rename it to ``d`` when complete."""
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def _base(spark, cache_root: str, workload: str) -> str:
    """The workload's base corpus of ``BASE_ROWS`` lines with their
    expectations, generated once per checkout (ids ``[0, BASE_ROWS)``)."""
    d = os.path.join(cache_root, _key(workload, "base", BASE_ROWS))
    path = os.path.join(d, "base.parquet")
    if os.path.exists(path):
        return path
    pdf = _lines(spark, workload, 0, BASE_ROWS).toPandas()
    tokens = [[ord(c) for c in s] for s in pdf["raw"]]
    table = pa.table(
        {
            "doc_id": pa.array(pdf["doc_id"].tolist(), pa.string()),
            "source": pa.array(pdf["source"].tolist(), pa.string()),
            "tokens": pa.array(tokens, pa.list_(pa.int32())),
            "exp_route": pa.array(pdf["exp_route"].tolist(), pa.string()),
            "fail_stage": pa.array(pdf["fail_stage"].tolist(), pa.string()),
            "exp_msg": pa.array(pdf["exp_msg"].tolist(), pa.string()),
            "non_ascii": pa.array([any(t >= 256 for t in ts) for ts in tokens], pa.bool_()),
        }
    )
    tmp = _atomic_dir(d)
    pq.write_table(table, os.path.join(tmp, "base.parquet"))
    os.rename(tmp, d)
    return path


def ensure_inputs(spark, cache_root: str, workload: str, seed: int, rows: int) -> dict:
    """The seed's inputs (cached); → dict of paths and properties.

    The seed picks the id range ``[offset, offset + rows)`` of the base
    corpus, ``offset = seed * SEED_STRIDE mod (BASE_ROWS - rows + 1)``.
    ``input/`` holds the program's input table (doc_id, tokens, n_tok,
    source) in ``INPUT_FILES`` parquet files; ``expect.parquet`` holds
    the per-line expectations and the input tokens.
    """
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    if not 0 < rows <= BASE_ROWS:
        raise ValueError(f"rows must be in 1..{BASE_ROWS}")
    d = os.path.join(cache_root, _key(workload, f"s{seed}", f"n{rows}"))
    meta_path = os.path.join(d, "meta.json")
    paths = {
        "input": os.path.join(d, "input"),
        "expect": os.path.join(d, "expect.parquet"),
    }
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return {**json.load(fh), **paths, "cache_hit": True}
    base = pq.read_table(_base(spark, cache_root, workload))
    offset = seed * SEED_STRIDE % (BASE_ROWS - rows + 1)
    expect = base.slice(offset, rows)
    tokens = expect["tokens"]
    n_tok = pa.compute.list_value_length(tokens).cast(pa.int32())
    table = pa.table(
        {"doc_id": expect["doc_id"], "tokens": tokens, "n_tok": n_tok,
         "source": expect["source"]}
    )
    tmp = _atomic_dir(d)
    os.makedirs(os.path.join(tmp, "input"))
    step = -(-rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(tmp, "input", f"part-{i:03d}.parquet"),
        )
    pq.write_table(expect, os.path.join(tmp, "expect.parquet"))
    meta = {
        "rows": rows,
        "id_offset": offset,
        "mean_line_chars": pa.compute.sum(n_tok).as_py() / rows,
        "expected_success_share": expect["exp_route"].to_pylist().count("success") / rows,
        "non_ascii_share": sum(expect["non_ascii"].to_pylist()) / rows,
    }
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    os.rename(tmp, d)
    return {**meta, **paths, "cache_hit": False}


def write_stream_files(meta: dict, out_dir: str, files: int) -> None:
    """Split the input table into ``files`` small parquet files (the
    file-stream source reads a fixed number of files per trigger)."""
    table = pq.read_table(meta["input"])
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(out_dir, f"part-{i:04d}.parquet")
        )
