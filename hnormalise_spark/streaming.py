"""Structured Streaming variant of the pipeline.

The reference is a daemon: an endless ZeroMQ/TCP byte stream with
graceful shutdown and running counters
(/root/reference/src/HNormalise/Communication/ZeroMQ.hs:69-111). The
Spark-native equivalent is readStream → the SAME normalise() transform
→ foreachBatch running the batch fan-out (sinks.write_staging +
sinks.write_counts) per micro-batch, with exactly-once resume via
checkpointLocation (north_rule: checkpoint/resume) and windowed
watermarked counts for the time-bucketed variant.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hnormalise_spark.pipeline import normalise_tokens
from hnormalise_spark.schemas import INPUT_SCHEMA
from hnormalise_spark import sinks


def read_token_stream(spark: SparkSession, in_dir: str, max_files: int = 16) -> DataFrame:
    """File-based token stream (the sandbox stand-in for Kafka/socket;
    on a cluster swap format('kafka') — the transform is unchanged)."""
    return (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(in_dir)
    )


def read_raw_text(spark: SparkSession, path: str, source: str = "file") -> DataFrame:
    """Raw syslog text file(s) → the pipeline's input shape — the
    reference's native file input (Main.hs file source): one log line
    per row, no tokenization step.

    ``doc_id`` is input_file_name + a partition-local counter
    (monotonically_increasing_id): unique and stable for a fixed file
    layout, but NOT replay-stable across different splits — raw text
    carries no record coordinates (unlike Kafka's topic/partition/
    offset or the parquet doc_id column). Downstream routing/counts
    never key on doc_id, so this only affects lineage labels."""
    return spark.read.text(path).select(
        F.concat_ws(
            "-",
            F.element_at(F.split(F.input_file_name(), "/"), -1),
            F.monotonically_increasing_id().cast("string"),
        ).alias("doc_id"),
        F.lit(source).alias("source"),
        F.col("value").alias("raw"),
    )


def read_raw_text_stream(
    spark: SparkSession, in_dir: str, source: str = "file", max_files: int = 16
) -> DataFrame:
    """Streaming variant of read_raw_text: tail a directory of raw
    syslog files (the rsyslog omfile → collector handoff). Same output
    shape, so the identical normalise() transform runs on it.

    monotonically_increasing_id is not allowed on streams, so the
    lineage id is file + content hash: byte-identical duplicate lines
    in one file share an id (routing/counts never key on doc_id; feed
    a deduplicating op from a coordinate-bearing source instead)."""
    lines = (
        spark.readStream.option("maxFilesPerTrigger", max_files)
        .text(in_dir)
    )
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
    offsets, so it is a dev/test source by design — production
    deployments use the Kafka reader, which has coordinates and
    exactly-once resume. A closed peer ends the stream."""
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


def kafka_stream_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
):
    """Configured Kafka stream reader — the cluster-grade source the
    reference's real ZeroMQ path maps to (ZeroMQ.hs:69-111). Returns
    the *builder*; call ``.load()`` where the spark-sql-kafka connector
    jar is on the classpath (not in this sandbox), then
    ``decode_kafka_lines`` to enter the same normalise() transform the
    file stream uses."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )


def decode_kafka_lines(kafka_df: DataFrame) -> DataFrame:
    """Kafka value bytes → the pipeline's input shape (raw line +
    doc_id/source derived from the record coordinates)."""
    return kafka_df.select(
        F.concat_ws(
            "-", F.col("topic"), F.col("partition"), F.col("offset")
        ).alias("doc_id"),
        F.col("topic").alias("source"),
        F.col("value").cast("string").alias("raw"),
    )


def start_pipeline(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    available_now: bool = False,
    input_format: str = "parquet",
) -> StreamingQuery:
    """stream → parse → success/failure/counts per micro-batch.

    foreachBatch runs the batch fan-out on each micro-batch (the
    reference's two-socket fan-out, Util.hs:74-90), so both modes write
    the same sink schemas:

        <out_dir>/staging/batch_id=<id>/route=success|failure
        <out_dir>/counts/batch_id=<id>

    Success rows carry the typed payloads, the JSON line and the lineage
    columns; failure rows carry the original input (sinks.write_staging).
    Total counts = SUM over batch counts — the reference's *running*
    counter semantics. Restart-safe via the checkpoint: a re-delivered
    batch overwrites its own batch_id partitions, never double-counts.

    ``input_format``: 'parquet' tails tokenized-sequence files;
    'text' tails raw syslog files (read_raw_text_stream);
    'raw_parquet' tails parquet files already in the raw input shape
    (doc_id, source, raw) — the replayable-corpus variant used by the
    stream/batch parity checks.
    """
    from hnormalise_spark.pipeline import normalise

    if input_format == "text":
        parsed = sinks.with_observed_metrics(normalise(read_raw_text_stream(spark, in_dir)))
    elif input_format == "raw_parquet":
        raw = (
            spark.readStream.schema("doc_id string, source string, raw string")
            .option("maxFilesPerTrigger", 16)
            .parquet(in_dir)
        )
        parsed = sinks.with_observed_metrics(normalise(raw))
    else:
        parsed = sinks.with_observed_metrics(normalise_tokens(read_token_stream(spark, in_dir)))

    def _sink(batch: DataFrame, batch_id: int) -> None:
        part = f"batch_id={batch_id}"
        staging = os.path.join(out_dir, "staging", part)
        sinks.write_staging(batch, staging, json_line=True)
        sinks.write_counts(
            batch.sparkSession.read.parquet(staging),
            os.path.join(out_dir, "counts", part),
        )

    writer = (
        parsed.writeStream.foreachBatch(_sink)
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


def streaming_sessions(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    key_col: str = "source",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Watermarked session-window aggregation over the token stream:
    Spark's native ``session_window`` merges events into dynamic
    per-key windows that close after ``gap`` of silence — the
    streaming counterpart of ops.timeseries.sessionize (which is the
    batch/backfill formulation of the same rule). State per open
    session is bounded by the watermark; closed sessions emit in
    append mode exactly once per trigger."""
    stream = read_token_stream(spark, in_dir)
    parsed = normalise_tokens(stream)
    agg = (
        parsed.withWatermark("timereported", watermark)
        .groupBy(
            F.session_window("timereported", gap).alias("session"),
            F.col(key_col),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("session")["start"].alias("session_start"),
            F.col("session")["end"].alias("session_end"),
            "n_events",
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "sessions"))
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint_sess"))
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    max_files: int = 16,
) -> StreamingQuery:
    """Streaming exact-dedup with CUSTOM state (applyInPandasWithState):
    the first row of every fingerprint is emitted, every later
    occurrence — in the same micro-batch OR any later one — is
    suppressed. This is the stateful operator Spark's built-ins cannot
    express (dropDuplicates' state cannot report the kept row's
    payload + a running duplicate count, and built-in windows cannot
    keep arbitrary per-key values).

    Scale shape: state is keyed by the 32-hex md5 fingerprint, so the
    stateful shuffle is on a fixed-width skew-immune key and per-key
    state is ~50 bytes (first doc_id + count). State here is UNBOUNDED
    by design (NoTimeout): this variant is the bounded-BACKFILL form,
    where the universe of fingerprints is finite and exact global
    suppression is the contract. For an endless production stream use
    ``streaming_dedup_bounded`` — same operator plus watermark +
    EventTimeTimeout state expiry.
    """
    from hnormalise_spark.ops.dedup import normalized_text

    stream = read_token_stream(spark, in_dir, max_files=max_files)
    from hnormalise_spark.tokenizer import detokenize_col

    rows = stream.select(
        "doc_id",
        detokenize_col(F.col("tokens")).alias("raw"),
    ).select(
        "doc_id", "raw", F.md5(normalized_text(F.col("raw"))).alias("fingerprint")
    )
    return streaming_dedup_rows(rows, out_dir)


def streaming_dedup_rows(rows: DataFrame, out_dir: str) -> StreamingQuery:
    """Core of ``streaming_dedup``, reusable over ANY streaming frame
    of ``(doc_id string, raw string, fingerprint string)`` — the
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


def streaming_dedup_bounded(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    ttl_seconds: int = 7 * 24 * 3600,
    watermark: str = "1 second",
    max_files: int = 1,
) -> StreamingQuery:
    """Streaming exact-dedup with BOUNDED state: the production form of
    ``streaming_dedup`` for an endless stream. Fingerprint state is
    watermarked on the parsed ``timereported`` event time and expires
    via ``GroupStateTimeout.EventTimeTimeout`` once the watermark
    passes last-seen + ``ttl_seconds`` — a fingerprint unseen for the
    TTL is forgotten (its next occurrence re-admits, which is the
    documented semantics: "suppress duplicates within N days", not
    "forever"). State size is therefore O(distinct fingerprints per
    TTL window), not O(all history) — the difference between a bounded
    state store and an OOM at 100 TB of stream.

    Each occurrence refreshes the expiry (last-seen + TTL); the expiry
    is clamped above the current watermark because Spark rejects
    timeout timestamps at or below it (a key whose refreshed expiry
    already trails the watermark times out at the next trigger).

    The fingerprint covers the message PAYLOAD (``msg``; ``raw`` as
    fallback for unparseable envelopes), not the whole line: the
    envelope embeds the event timestamp, so whole-line duplicates are
    always same-instant and a time-bounded dedup of them would be
    vacuous — payload dedup is the "same content re-logged later"
    semantics the TTL exists for.
    """
    import pandas as pd

    from hnormalise_spark.ops.dedup import normalized_text

    stream = read_token_stream(spark, in_dir, max_files=max_files)
    parsed = normalise_tokens(stream)
    rows = (
        parsed.select(
            "doc_id",
            "raw",
            "timereported",
            F.md5(
                normalized_text(F.coalesce(F.col("msg"), F.col("raw")))
            ).alias("fingerprint"),
        )
        .filter(F.col("timereported").isNotNull())
        .withWatermark("timereported", watermark)
    )

    out_schema = (
        "fingerprint string, doc_id string, raw string, n_batch_dups long"
    )
    state_schema = "n_seen long"
    ttl_ms = int(ttl_seconds) * 1000

    def dedup_fn(key, pdf_iter, state):
        (fp,) = key
        if state.hasTimedOut:
            # watermark passed last-seen + TTL with no new occurrence:
            # forget the fingerprint (next occurrence re-admits)
            state.remove()
            return
        seen = state.get[0] if state.exists else 0
        first_row = None
        n_new = 0
        max_ts_ms = None
        for pdf in pdf_iter:
            if len(pdf):
                ts_ms = int(pdf["timereported"].max().value // 1_000_000)
                max_ts_ms = ts_ms if max_ts_ms is None else max(max_ts_ms, ts_ms)
                if seen == 0:
                    i = pdf["doc_id"].astype(str).idxmin()
                    cand = (str(pdf["doc_id"][i]), pdf["raw"][i])
                    if first_row is None or cand[0] < first_row[0]:
                        first_row = cand
            n_new += len(pdf)
        state.update((seen + n_new,))
        if max_ts_ms is not None:
            state.setTimeoutTimestamp(
                max(max_ts_ms + ttl_ms, state.getCurrentWatermarkMs() + 1)
            )
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
        timeoutConf="EventTimeTimeout",
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "deduped"))
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint_ddb"))
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup_indexed(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    index_path: str,
    max_files: int = 1,
    snapshot_prefix: str = "stream",
) -> StreamingQuery:
    """Incremental-ingestion dedup as a stream over the DURABLE
    fingerprint index: each micro-batch collapses its own duplicates,
    probes the snapshot-committed index (partition-pruned to the
    batch's fp_buckets), emits only novel rows, and commits the novel
    fingerprints back as a new index snapshot — so later micro-batches,
    restarts, AND other pipelines all see them.

    This is the table-layer counterpart of ``streaming_dedup``'s
    state-store fingerprints: the state here is queryable, compactable
    (``table.compact``), shared across jobs, and survives checkpoint
    loss. Idempotent per micro-batch: the output overwrites its own
    ``batch_id`` partition and the index commit is a snapshot keyed by
    batch_id (``write_snapshot`` of an already-committed id is a
    no-op), so a replayed batch neither duplicates rows nor re-grows
    the index. Snapshot ids derive from the batch_id of ONE checkpoint
    lineage — a second stream writing the same index must use its own
    ``snapshot_prefix`` or its commits would no-op against the first
    stream's ids.
    """
    from pyspark.sql import Window

    from hnormalise_spark.ops.dedup import FP_BUCKETS, dedup_against_index

    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", max_files)
        .parquet(in_dir)
    )
    deduped_path = os.path.join(out_dir, "deduped")

    def _sink(batch: DataFrame, batch_id: int) -> None:
        from hnormalise_spark import table as T

        sess = batch.sparkSession
        probed = dedup_against_index(sess, batch, index_path).persist()
        try:
            # collapse batch-internal duplicates: keep min doc_id
            w = Window.partitionBy("fingerprint")
            wr = w.orderBy(F.asc("doc_id"))
            firsts = (
                probed.withColumn("_rn", F.row_number().over(wr))
                .withColumn("n_batch_dups", (F.count(F.lit(1)).over(w) - 1).cast("int"))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            novel = firsts.filter(F.col("is_known_dup") == 0).persist()
            (
                novel.drop("is_known_dup", "dup_of")
                .write.mode("overwrite")
                .parquet(os.path.join(deduped_path, f"batch_id={batch_id}"))
            )
            from hnormalise_spark.ops.dedup import fingerprint_bucket

            fps = novel.select(
                "fingerprint",
                F.col("doc_id").alias("keeper_id"),
                fingerprint_bucket(F.col("fingerprint"), FP_BUCKETS).alias(
                    "fp_bucket"
                ),
            )
            T.write_snapshot(
                fps, index_path, f"{snapshot_prefix}-b{batch_id}", partition_by=("fp_bucket",)
            )
            novel.unpersist()
        finally:
            probed.unpersist()

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(out_dir, "_ck"))
        .trigger(availableNow=True)
        .start()
    )


def failure_rate_alerts(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    window: str = "1 minute",
    watermark: str = "10 minutes",
    threshold: float = 0.2,
    min_lines: int = 10,
) -> StreamingQuery:
    """Windowed failure-rate alerting — the operational closure of the
    parse → route pipeline: per (window, source), emit an alert row
    when the parse-failure fraction exceeds ``threshold`` (ignoring
    windows with fewer than ``min_lines`` lines, where a rate is
    noise). The canonical "a log producer changed its format" pager.

    Same bounded-state shape as ``windowed_counts``: watermarked
    tumbling windows, append mode (an alert is emitted once, when its
    window closes — exactly the at-most-once-per-window semantics a
    pager needs). State is |windows × sources|, independent of line
    volume.
    """
    stream = read_token_stream(spark, in_dir)
    parsed = normalise_tokens(stream)
    agg = (
        parsed.withWatermark("timereported", watermark)
        .groupBy(F.window("timereported", window), "source")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(~F.col("parse_ok"), 1).otherwise(0)).alias("n_fail"),
        )
        .withColumn(
            "fail_rate_x1e6",
            F.floor(F.col("n_fail") * F.lit(1e6) / F.col("n_lines") + F.lit(0.5))
            .cast("long"),
        )
        .filter(
            (F.col("n_lines") >= min_lines)
            & (F.col("fail_rate_x1e6") > int(threshold * 1e6))
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "alerts"))
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint_alerts"))
        .trigger(availableNow=True)
        .start()
    )


def _streaming_sketch(
    spark: SparkSession,
    in_dir: str,
    sketch_path: str,
    group_col: str,
    value_col: str,
    value_type: str,
    max_files: int,
    snapshot_prefix: str,
    build,
) -> StreamingQuery:
    """Shared scaffold for snapshot-table streaming sketches: each
    micro-batch runs ``build`` (any mergeable per-batch sketch) and
    APPENDS the result as one committed snapshot; checkpoint layout,
    trigger, and replay semantics live HERE once, so a fix cannot
    silently apply to one sketch family and not the other."""
    stream = (
        spark.readStream.schema(f"{group_col} string, {value_col} {value_type}")
        .option("maxFilesPerTrigger", max_files)
        .parquet(in_dir)
    )

    def _sink(batch: DataFrame, batch_id: int) -> None:
        from hnormalise_spark import table as T

        T.write_snapshot(build(batch), sketch_path, f"{snapshot_prefix}-b{batch_id}")

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(sketch_path, "_ck"))
        .trigger(availableNow=True)
        .start()
    )


def _read_merged_sketch(
    spark: SparkSession, sketch_path: str, value_cols: tuple, agg
) -> DataFrame:
    """Union all committed partial snapshots and re-aggregate — by the
    merge law this equals the batch sketch of everything streamed."""
    from hnormalise_spark import table as T

    parts = T.read_committed(spark, sketch_path).drop("snapshot_id")
    group_cols = [c for c in parts.columns if c not in value_cols]
    return parts.groupBy(*group_cols).agg(agg)


def streaming_kmin_sketch(
    spark: SparkSession,
    in_dir: str,
    sketch_path: str,
    group_col: str,
    value_col: str,
    k: int = 128,
    max_files: int = 1,
    snapshot_prefix: str = "sketch",
    value_type: str = "long",
) -> StreamingQuery:
    """Streaming cardinality sketching over the durable snapshot
    table: each micro-batch computes its own k-mins partial sketch
    (ops/sketches.kmin_sketch) and APPENDS it as one committed
    snapshot — no read-modify-write, no state store. The merge law
    (min is associative/commutative/idempotent) moves all merging to
    read time: ``read_kmin_sketch`` unions the snapshots and re-mins.

    Why this shape scales: the per-batch write is groups x k BIGINT
    rows regardless of batch volume; concurrent writers and replays
    are safe (snapshot ids derive from the checkpoint's batch_id, so
    ``write_snapshot`` of a replayed batch no-ops, and even a
    DOUBLE-counted batch would be absorbed by min's idempotence —
    the sketch is the rare state whose merge tolerates both at-least-
    and at-most-once delivery); history stays queryable per snapshot
    (distinct-users-as-of-batch-N) and ``table.compact`` can fold old
    snapshots into one without changing any read.
    """
    from hnormalise_spark.ops.sketches import kmin_sketch

    return _streaming_sketch(
        spark, in_dir, sketch_path, group_col, value_col, value_type,
        max_files, snapshot_prefix,
        lambda b: kmin_sketch(b, [group_col], value_col, k=k),
    )


def read_kmin_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Resolve the merged k-mins sketch from all committed partial
    snapshots: union + per-(group, i) re-min — by the merge law this
    EQUALS the batch sketch of everything ever streamed. One
    broadcast-sized aggregate over groups x k x snapshots rows."""
    return _read_merged_sketch(
        spark, sketch_path, ("min_hash",), F.min("min_hash").alias("min_hash")
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
    """Streaming HyperLogLog over the durable snapshot table — the
    :func:`streaming_kmin_sketch` shape with max-registers instead of
    min-hashes: each micro-batch appends its own partial register set
    as one committed snapshot and all merging moves to read time
    (max is associative/commutative/idempotent, so replays and
    at-least-once delivery are absorbed exactly like the k-mins
    case). Per-batch write is ≤ groups × 2^p rows of (group, j, reg)
    regardless of batch volume.
    """
    from hnormalise_spark.ops.sketches import hll_sketch

    return _streaming_sketch(
        spark, in_dir, sketch_path, group_col, value_col, value_type,
        max_files, snapshot_prefix,
        lambda b: hll_sketch(b, [group_col], value_col, p=p),
    )


def read_hll_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Merged HLL registers from all committed partial snapshots:
    union + per-(group, j) re-max == the batch sketch of everything
    ever streamed."""
    return _read_merged_sketch(
        spark, sketch_path, ("reg",), F.max("reg").alias("reg")
    )
