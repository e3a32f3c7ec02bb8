"""Sinks: the success/failure fan-out + counts, batch and staged.

The reference pushes each record to a success or failure socket and
keeps running counters (src/HNormalise/Util.hs:74-98). At Spark scale
the equivalent contract is: two routed tables whose row sets partition
the input, plus a counts table — all derived from ONE parse pass.

Scale design (SURVEY §4b): the parsed result is written once to a
*staging* table partitioned by ``route``; the success and failure
sinks ARE its ``route=success|failure`` partitions and counts is a
cheap aggregate scan of it (the fan-out never re-parses). The staging
write doubles as the checkpoint: re-running any sink is idempotent.
Batch (``run_batch``) and every streaming micro-batch write it through
the same ``write_fanout``.

File layout: one writer per route, not one per scan task. The parse
and the lineage stamps (``with_lineage``: scan partition id and input
file) run in the scan tasks; only then does a rebalance on ``route``
move the staged rows to the writers. A small batch writes one file
per route, so it pays each file's footer and page index (one entry per
leaf column) once per route rather than once per task. A route larger
than AQE's advisory partition size
(``spark.sql.adaptive.advisoryPartitionSizeInBytes``) is split across
several writers of about that size, so no route is ever written by a
single task at scale. The counts job reads the few files this leaves.

Success rows keep the typed payload structs and (optionally) the
reference-shaped JSON line; failure rows carry the ORIGINAL input
untouched and nothing of the parse (HNormalise.hs:69-73): ``tokens``
is the input's own array, so token-array equality holds for any
codepoint, and ``raw`` is kept only where the input was a text line.
Envelope fields a body-failed row did parse are nulled here, so a
failed line is written once, not as its array, its text and its
``msg`` (``staging_frame`` has the keep-set).

On disk every sink is parquet with zstd pages (``SINK_CODEC``, the
library's default level), not Spark's default snappy: the bytes
written per routed line are the pipeline's output cost, and zstd
writes markedly fewer of them at task CPU inside its run-to-run band
(CHANGES.md records the measured bytes per line on each workload).
``scripts/sink_bytes.py`` attributes a run's bytes per sink, column,
footer and page index.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hnormalise_spark import jsonout
from hnormalise_spark.pipeline import counts as _counts
from hnormalise_spark.tokenizer import retokenize_col

SINK_CODEC = "zstd"


def with_lineage(df: DataFrame) -> DataFrame:
    """Per-partition lineage stamps (north_rule): partition id +
    input file, so every output row is traceable to its input split."""
    return df.withColumns(
        {
            "lineage_partition": F.spark_partition_id(),
            "lineage_file": F.input_file_name(),
        }
    )


def with_observed_metrics(parsed: DataFrame, name: str = "hnormalise_metrics") -> DataFrame:
    """Spark observed metrics — the increaseCount (Util.hs:93-98)
    equivalent: success/fail counters collected with the job, no extra
    pass. Read them from the QueryExecutionListener or, in streaming,
    from StreamingQueryProgress.observedMetrics."""
    return parsed.observe(
        name,
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col("parse_ok"), 1)).alias("success"),
        F.count(F.when(~F.col("parse_ok"), 1)).alias("fail"),
    )


def write_staging(parsed: DataFrame, path: str, json_line: bool = True) -> None:
    """One-pass write of the parsed result, partitioned by route so the
    success/failure scans are partition-pruned (not even a filter)."""
    _write_routed(staging_frame(parsed, json_line), path)


def _write_routed(staged: DataFrame, path: str) -> None:
    """One writer per route: the rebalance hashes the staged rows on
    ``route`` after the scan tasks have parsed and stamped them, and
    AQE splits a route bigger than its advisory partition size across
    several writers."""
    staged.hint("rebalance", "route").write.mode("overwrite").partitionBy("route").parquet(
        path, compression=SINK_CODEC
    )


def write_fanout(staged: DataFrame, staging_path: str, counts_path: str) -> None:
    """The fan-out of an already staged frame (``staging_frame``): the
    route-partitioned staging write, then counts over what it wrote.
    ``run_batch`` and every streaming micro-batch end here. The
    read-back takes the staged schema: a zero-row write leaves only
    ``_SUCCESS``, which has no schema to infer (an empty input file, or
    an empty micro-batch after a log rotation)."""
    _write_routed(staged, staging_path)
    write_counts(
        staged.sparkSession.read.schema(staged.schema).parquet(staging_path), counts_path
    )


# kept on every row of both routes: the line's identity, its route
# and its lineage stamps
ROW_KEYS = ("doc_id", "source", "parse_ok", "lineage_partition", "lineage_file")


def staging_frame(
    parsed: DataFrame, json_line: bool = True,
    fields: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """The rows ``write_staging`` writes, with their ``route`` column.
    ``fields`` is the config's output projection for the JSON line
    (``jsonout.encode_normalised``).

    Beyond ``ROW_KEYS`` the two routes keep disjoint columns, so a line
    is written once. A failure row keeps only its input
    (HNormalise.hs:69-73): ``tokens``, ``n_tok`` and, where no token
    array came in (text and %jsonmesg% lines), ``raw``, the line itself.
    On token input ``raw`` is only the array decoded, so it stays null.
    A success row keeps everything else: the envelope fields, payload
    structs, routing and enrichment columns and the JSON line. The
    staged schema is one for both routes, batch and stream."""
    out = with_lineage(parsed) if "lineage_partition" not in parsed.columns else parsed
    if json_line:
        out = out.withColumn("json", jsonout.encode_normalised(fields))
    if "tokens" in out.columns:
        # the input's own array (normalise_tokens carries it)
        failure_only = {"tokens": F.col("tokens"), "raw": F.lit(None).cast("string")}
    else:
        # text input never had an array, so derive it from the line
        failure_only = {"tokens": retokenize_col("raw"), "raw": F.col("raw")}
    if "n_tok" in out.columns:
        failure_only["n_tok"] = F.col("n_tok")
    ok = F.col("parse_ok")

    def staged(c: str) -> Column:
        if c in ROW_KEYS:
            return F.col(c)
        if c in failure_only:
            return F.when(~ok, failure_only[c]).alias(c)
        return F.when(ok, F.col(c)).alias(c)

    # tokens is the last data column whatever the input, so every input
    # stages one column order. Partition directories by route so the
    # sink scans are pruned; keep parse_ok itself as a data column
    # (partition values read back as strings otherwise).
    names = [c for c in out.columns if c != "tokens"] + ["tokens"]
    return out.select(
        *map(staged, names), F.when(ok, "success").otherwise("failure").alias("route")
    )


def write_counts(staging: DataFrame, path: str) -> None:
    _counts(staging).write.mode("overwrite").parquet(path, compression=SINK_CODEC)


def write_debug(parsed: DataFrame, path: str) -> None:
    """S7 test/debug sink (mySink, Communication/File.hs:50-67): one
    text line per row — ``success: <json>`` for parsed rows,
    ``fail - original: <original line>`` for failures (the text writer
    supplies the trailing newline the conduit yields explicitly)."""
    original = F.col("raw") if "raw" in parsed.columns else F.col("msg")
    line = F.when(
        F.col("parse_ok"),
        F.concat(F.lit("success: "), jsonout.encode_normalised()),
    ).otherwise(F.concat(F.lit("fail - original: "), F.coalesce(original, F.lit(""))))
    parsed.select(line.alias("value")).write.mode("overwrite").text(path)


def run_batch(
    spark: SparkSession,
    parsed: DataFrame,
    out_dir: str,
    json_line: bool = True,
    snapshot_id: str | None = None,
    fields: list[tuple[str, str]] | None = None,
) -> dict[str, str]:
    """Staged fan-out: ONE parse pass writes the route-partitioned
    staging table; the success/failure sinks ARE its partitions
    (``staging/route=success|failure``) — no second write of the bulk
    data — and counts is a column-pruned aggregate scan of staging.

    Each step is idempotent (mode=overwrite), so a crashed run resumes
    by re-invoking: a finished staging write skips straight to counts.

    ``snapshot_id`` turns the whole fan-out into one snapshot-committed
    unit (table.py — Iceberg-style commit-then-visible): an id already
    in the manifest returns immediately with no work (resume after
    success); an id missing from the manifest re-runs everything and
    commits last, so a crash anywhere before the commit re-runs on the
    next invocation (resume after failure), overwriting partial output.
    """
    paths = {
        "staging": os.path.join(out_dir, "staging"),
        "success": os.path.join(out_dir, "staging", "route=success"),
        "failure": os.path.join(out_dir, "staging", "route=failure"),
        "counts": os.path.join(out_dir, "counts"),
    }
    if snapshot_id is not None:
        from hnormalise_spark import table as T

        if T.is_committed(out_dir, snapshot_id):
            return paths
    write_fanout(staging_frame(parsed, json_line, fields), paths["staging"], paths["counts"])
    if snapshot_id is not None:
        T._commit_manifest(
            out_dir, {"snapshot_id": snapshot_id, "paths": paths}
        )
    return paths
