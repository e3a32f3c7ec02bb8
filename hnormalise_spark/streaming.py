"""Structured Streaming variant of the pipeline.

The reference is a daemon: an endless ZeroMQ/TCP byte stream with
graceful shutdown and running counters (reference
Communication/ZeroMQ.hs:69-111). The Spark-native equivalent is
readStream → the SAME parse and staging columns as batch →
foreachBatch writing the batch fan-out per micro-batch, with
exactly-once resume via checkpointLocation (north_rule:
checkpoint/resume) and windowed watermarked counts for the
time-bucketed variant.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hnormalise_spark.pipeline import normalise, normalise_json, normalise_tokens
from hnormalise_spark.schemas import INPUT_SCHEMA
from hnormalise_spark import sinks

MAX_FILES_PER_TRIGGER = 16  # every file stream's micro-batch size
RAW_SCHEMA = "doc_id string, source string, raw string"


def _tail_parquet(spark: SparkSession, in_dir: str, schema: str) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(in_dir)
    )


def read_token_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    """File-based token stream: tail a directory of tokenized-sequence
    parquet files (the INPUT_SCHEMA shape)."""
    return _tail_parquet(spark, in_dir, INPUT_SCHEMA)


def read_raw_text(spark: SparkSession, path: str, source: str = "file") -> DataFrame:
    """Raw syslog text file(s) → the pipeline's input shape — the
    reference's native file input (Main.hs file source): one log line
    per row, no tokenization step.

    ``doc_id`` is input_file_name + a partition-local counter
    (monotonically_increasing_id): unique and stable for a fixed file
    layout, but NOT replay-stable across different splits — raw text
    carries no record coordinates (unlike the parquet doc_id column).
    Downstream routing/counts never key on doc_id, so this only affects
    lineage labels."""
    return spark.read.text(path).select(
        F.concat_ws(
            "-",
            F.element_at(F.split(F.input_file_name(), "/"), -1),
            F.monotonically_increasing_id().cast("string"),
        ).alias("doc_id"),
        F.lit(source).alias("source"),
        F.col("value").alias("raw"),
    )


def read_raw_text_stream(spark: SparkSession, in_dir: str, source: str = "file") -> DataFrame:
    """Streaming variant of read_raw_text: tail a directory of raw
    syslog files (the rsyslog omfile → collector handoff). Same output
    shape, so the identical normalise() transform runs on it.

    monotonically_increasing_id is not allowed on streams, so the
    lineage id is file + content hash: byte-identical duplicate lines
    in one file share an id (routing/counts never key on doc_id; feed
    a deduplicating op from a coordinate-bearing source instead)."""
    lines = spark.readStream.option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER).text(in_dir)
    return lines.select(
        F.concat_ws(
            "-",
            F.element_at(F.split(F.input_file_name(), "/"), -1),
            F.hex(F.xxhash64(F.col("value"))),
        ).alias("doc_id"),
        F.lit(source).alias("source"),
        F.col("value").alias("raw"),
    )


def read_socket_stream(
    spark: SparkSession, host: str = "127.0.0.1", port: int = 9999,
    source: str = "syslog",
) -> DataFrame:
    """Live TCP byte-stream source — the in-sandbox analogue of the
    reference's socket listen mode (Communication/TCP.hs:43-64,
    ZeroMQ.hs:69-111): newline-framed UTF-8 syslog lines over a TCP
    connection, one record per line, entering the SAME normalise()
    transform as every other source. Spark's built-in socket source
    CONNECTS to the peer (the rsyslog omfwd side listens), the mirror
    image of the reference's accept loop; the byte-stream semantics —
    live lines, no record coordinates, no replay — are identical.

    doc_id is a content hash (the read_raw_text_stream convention:
    routing/counts never key on doc_id). The socket source keeps no
    offsets, so it has no exactly-once resume; the file sources
    (``start_pipeline``) do. A closed peer ends the stream."""
    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", int(port))
        .load()
    )
    return lines.select(
        F.hex(F.xxhash64(F.col("value"))).alias("doc_id"),
        F.lit(source).alias("source"),
        F.col("value").alias("raw"),
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# The one input table, format → (batch reader, stream reader, parse),
# that run.py and start_pipeline both dispatch through (the reference
# reads plain or --jsoninput lines on one path, 0mq/Main.hs:215-220).
# raw_parquet is parquet already in RAW_SCHEMA, the replayable corpus
# of the stream/batch parity checks; json is text of rsyslog %jsonmesg%.
INPUTS = {
    "parquet": (_read_parquet, read_token_stream, normalise_tokens),
    "raw_parquet": (_read_parquet, lambda spark, d: _tail_parquet(spark, d, RAW_SCHEMA), normalise),
    "text": (read_raw_text, read_raw_text_stream, normalise),
    "json": (read_raw_text, read_raw_text_stream, normalise_json),
}


def start_pipeline(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    available_now: bool = False,
    input_format: str = "parquet",
) -> StreamingQuery:
    """Tail ``in_dir`` as ``input_format`` (a key of ``INPUTS``), parse
    it and ``stream_fanout`` the result to ``out_dir``."""
    _, read_stream, parse = INPUTS[input_format]
    return stream_fanout(parse(read_stream(spark, in_dir)), out_dir, available_now)


def stream_fanout(
    parsed: DataFrame,
    out_dir: str,
    available_now: bool = False,
    json_line: bool = True,
    fields: list[tuple[str, str]] | None = None,
) -> StreamingQuery:
    """The streaming ``sinks.run_batch``: parsed stream →
    success/failure/counts per micro-batch.

    ``sinks.staging_frame`` joins the stream once, before foreachBatch,
    so no micro-batch rebuilds an expression; each one writes the batch
    fan-out (``sinks.write_fanout``; the reference's two-socket fan-out,
    Util.hs:74-90), so both modes write the same sink schemas:

        <out_dir>/staging/batch_id=<id>/route=success|failure
        <out_dir>/counts/batch_id=<id>

    Total counts = SUM over batch counts — the reference's *running*
    counter semantics. Restart-safe via the checkpoint: a re-delivered
    batch overwrites its own batch_id partitions, never double-counts.
    ``json_line`` and ``fields`` shape the JSON line as in ``run_batch``.
    """
    staged = sinks.staging_frame(sinks.with_observed_metrics(parsed), json_line, fields)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        part = f"batch_id={batch_id}"
        sinks.write_fanout(
            batch, os.path.join(out_dir, "staging", part), os.path.join(out_dir, "counts", part)
        )

    writer = (
        staged.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .queryName("hnormalise")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    window: str = "1 minute",
    watermark: str = "10 minutes",
) -> StreamingQuery:
    """Tumbling-window, watermarked per-(source,parser,ok) counts —
    the stateful-aggregation variant (SURVEY §2.7). Late rows beyond
    the watermark are dropped; state is bounded."""
    stream = read_token_stream(spark, in_dir)
    parsed = normalise_tokens(stream)
    agg = (
        parsed.withWatermark("timereported", watermark)
        .groupBy(
            F.window("timereported", window), "source", "parser", "parse_ok"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "windowed_counts"))
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint_wc"))
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup_rows(rows: DataFrame, out_dir: str) -> StreamingQuery:
    """Streaming exact-dedup with custom state
    (applyInPandasWithState) over ANY streaming frame of
    ``(doc_id string, raw string, fingerprint string)`` — the
    registered ``stream_dedup`` driver query feeds it the documents
    table as a file stream. Emits one row per fingerprint (the
    string-min ``doc_id`` of the first micro-batch it appears in,
    which is the GLOBAL min — and ``n_batch_dups`` the global
    duplicate count — whenever the bounded replay lands in a single
    micro-batch); suppresses every later occurrence."""
    import pandas as pd

    out_schema = "fingerprint string, doc_id string, raw string, n_batch_dups long"
    state_schema = "n_seen long"

    def dedup_fn(key, pdf_iter, state):
        (fp,) = key
        seen = state.get[0] if state.exists else 0
        # keep the MIN doc_id of the first batch the fingerprint
        # appears in — arrival order inside a micro-batch is not
        # deterministic, min is
        first_row = None
        n_new = 0
        for pdf in pdf_iter:
            if seen == 0 and len(pdf):
                i = pdf["doc_id"].astype(str).idxmin()
                cand = (str(pdf["doc_id"][i]), pdf["raw"][i])
                if first_row is None or cand[0] < first_row[0]:
                    first_row = cand
            n_new += len(pdf)
        state.update((seen + n_new,))
        if seen == 0 and first_row is not None:
            yield pd.DataFrame(
                {
                    "fingerprint": [fp],
                    "doc_id": [first_row[0]],
                    "raw": [first_row[1]],
                    "n_batch_dups": [n_new - 1],
                }
            )

    deduped = rows.groupBy("fingerprint").applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "deduped"))
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint_dd"))
        .trigger(availableNow=True)
        .start()
    )


def streaming_hll_sketch(
    spark: SparkSession,
    in_dir: str,
    sketch_path: str,
    group_col: str,
    value_col: str,
    p: int = 6,
    max_files: int = 1,
    snapshot_prefix: str = "hll",
    value_type: str = "long",
) -> StreamingQuery:
    """Streaming HyperLogLog over the durable snapshot table: each
    micro-batch computes its own partial register set
    (ops/sketches.hll_sketch) and APPENDS it as one committed snapshot
    — no read-modify-write, no state store. All merging moves to read
    time (``read_hll_sketch``). Per-batch write is ≤ groups × 2^p rows
    of (group, j, reg) regardless of batch volume.

    Replays are safe: snapshot ids derive from the checkpoint's
    batch_id, so ``write_snapshot`` of a replayed batch no-ops, and
    even a double-counted batch is absorbed by max's idempotence.
    """
    from hnormalise_spark.ops.sketches import hll_sketch

    stream = (
        spark.readStream.schema(f"{group_col} string, {value_col} {value_type}")
        .option("maxFilesPerTrigger", max_files)
        .parquet(in_dir)
    )

    def _sink(batch: DataFrame, batch_id: int) -> None:
        from hnormalise_spark import table as T

        T.write_snapshot(
            hll_sketch(batch, [group_col], value_col, p=p),
            sketch_path,
            f"{snapshot_prefix}-b{batch_id}",
        )

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(sketch_path, "_ck"))
        .trigger(availableNow=True)
        .start()
    )


def read_hll_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Merged HLL registers from all committed partial snapshots:
    union + per-(group, j) re-max == the batch sketch of everything
    ever streamed (max is associative, commutative and idempotent)."""
    from hnormalise_spark import table as T

    parts = T.read_committed(spark, sketch_path).drop("snapshot_id")
    group_cols = [c for c in parts.columns if c != "reg"]
    return parts.groupBy(*group_cols).agg(F.max("reg").alias("reg"))
