"""Snapshot-manifest table layer, S7 debug sink, windowed watermarked
counts."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hnormalise_spark import pipeline as P, sinks, streaming, table as T
from hnormalise_spark.datagen import raw_sequences

N = 1000


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus_extras"))
    raw_sequences(spark, N, partitions=2).write.mode("overwrite").parquet(d)
    return d


# ---------------------------------------------------------------------------
# table.py — snapshot manifest


def test_snapshot_commit_then_visible(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    df = spark.range(10).toDF("id")
    assert T.write_snapshot(df, tbl, "s1") is True
    # second write of the same id is a committed no-op
    assert T.write_snapshot(df, tbl, "s1") is False
    assert T.committed_snapshot_ids(tbl) == ["s1"]
    assert T.read_committed(spark, tbl).count() == 10
    assert T.read_snapshot(spark, tbl, "s1").count() == 10

    # an uncommitted orphan data dir is invisible to readers
    spark.range(5).toDF("id").write.parquet(T.snapshot_data_path(tbl, "s2"))
    assert T.read_committed(spark, tbl).count() == 10
    with pytest.raises(FileNotFoundError):
        T.read_snapshot(spark, tbl, "s2")
    # a retried snapshot overwrites the orphan, then commits
    assert T.write_snapshot(spark.range(7).toDF("id"), tbl, "s2") is True
    assert T.read_committed(spark, tbl).count() == 17


def test_run_batch_snapshot_resume(spark, corpus_dir, tmp_path):
    out = str(tmp_path / "out")
    df = spark.read.parquet(corpus_dir)
    parsed = P.normalise_tokens(df)
    paths = sinks.run_batch(spark, parsed, out, snapshot_id="batch-001")
    assert T.is_committed(out, "batch-001")
    n1 = spark.read.parquet(paths["counts"]).agg(F.sum("n")).collect()[0][0]
    assert n1 == N

    # committed id: resume is a no-op (staging untouched)
    mtime = os.path.getmtime(os.path.join(paths["staging"], "_SUCCESS"))
    sinks.run_batch(spark, parsed, out, snapshot_id="batch-001")
    assert os.path.getmtime(os.path.join(paths["staging"], "_SUCCESS")) == mtime

    # crash before commit (manifest wiped): rerun redoes the work
    os.remove(T._manifest_path(out))
    sinks.run_batch(spark, parsed, out, snapshot_id="batch-001")
    assert os.path.getmtime(os.path.join(paths["staging"], "_SUCCESS")) > mtime
    assert T.is_committed(out, "batch-001")


def test_iceberg_probe_is_honest(spark):
    # the sandbox image has no Iceberg runtime jar; the probe must say
    # so (on a cluster with the jar this flips and write_snapshot uses
    # the writeTo path)
    assert T.iceberg_available(spark) is False


# ---------------------------------------------------------------------------
# S7 debug sink (mySink, Communication/File.hs:50-67)


def test_debug_sink_prefixes(spark, corpus_dir, tmp_path):
    out = str(tmp_path / "debug")
    parsed = P.normalise_tokens(spark.read.parquet(corpus_dir))
    sinks.write_debug(parsed, out)
    lines = [r["value"] for r in spark.read.text(out).collect()]
    assert len(lines) == N
    ok = [l for l in lines if l.startswith("success: ")]
    fail = [l for l in lines if l.startswith("fail - original: ")]
    assert len(ok) + len(fail) == N and ok and fail
    # success lines carry the reference-shaped JSON object
    assert ok[0][len("success: "):].startswith("{")
    # failure lines carry the ORIGINAL line verbatim
    raws = {r["raw"] for r in parsed.filter(~F.col("parse_ok")).select("raw").collect()}
    assert {l[len("fail - original: "):] for l in fail} == raws


# ---------------------------------------------------------------------------
# windowed watermarked counts (§2.7) — previously untested


def test_windowed_counts_match_batch(spark, corpus_dir, tmp_path):
    out = str(tmp_path / "wc")
    q = streaming.windowed_counts(spark, corpus_dir, out, window="1 hour", watermark="10 minutes")
    q.awaitTermination(300)

    wc = spark.read.parquet(os.path.join(out, "windowed_counts"))
    batch = P.normalise_tokens(spark.read.parquet(corpus_dir))

    # Append mode emits a window only once the watermark passes its
    # end; the final (still-open) hour window is withheld when the
    # availableNow query drains. Emitted set = windows whose end <=
    # max(event_time) - watermark delay.
    ts = F.col("timereported")
    stamped = batch.filter(ts.isNotNull()).withColumn(
        "_wend", F.date_trunc("hour", ts) + F.expr("INTERVAL 1 HOUR")
    )
    wm = stamped.agg(
        F.max(ts) - F.expr("INTERVAL 10 MINUTES")
    ).collect()[0][0]
    closed = stamped.filter(F.col("_wend") <= F.lit(wm))
    assert wc.agg(F.sum("n")).collect()[0][0] == closed.count()

    # per-(source, parser, ok) sums equal the batch aggregation over
    # the closed windows
    summed = {
        (r["source"], r["parser"], r["parse_ok"]): r["t"]
        for r in wc.groupBy("source", "parser", "parse_ok").agg(F.sum("n").alias("t")).collect()
    }
    direct = {
        (r["source"], r["parser"], r["parse_ok"]): r["n"]
        for r in P.counts(closed).collect()
    }
    assert summed == direct

    # window boundaries are hour-aligned tumbling windows
    w = wc.select("window.start", "window.end").first()
    assert (w["end"] - w["start"]).total_seconds() == 3600


def test_windowed_counts_drops_late_rows(spark, corpus_dir, tmp_path):
    """Restart with a file whose event times are far behind the
    checkpointed watermark: the late rows must not change the counts."""
    out = str(tmp_path / "wc_late")
    src = str(tmp_path / "src")
    import shutil

    shutil.copytree(corpus_dir, src)
    q = streaming.windowed_counts(spark, src, out, window="1 hour", watermark="10 minutes")
    q.awaitTermination(300)
    wc_path = os.path.join(out, "windowed_counts")
    n_before = spark.read.parquet(wc_path).agg(F.sum("n")).collect()[0][0]

    # late file: corpus timestamps span 2017-05-24; watermark after
    # batch 1 sits near 23:59 - 10min, so 00:00:05 rows are late
    from hnormalise_spark.tokenizer import retokenize_col

    late_line = (
        "<13>1 2017-05-24T00:00:05+02:00 h snoopy[1]: - snoopy[1]::  "
        "[uid:1 sid:1 tty:(none) cwd:/ filename:/bin/ls]: /bin/ls"
    )
    late = (
        spark.createDataFrame([("late-1", "snoopy", late_line)],
                              "doc_id string, source string, raw string")
        .select(
            "doc_id",
            retokenize_col("raw").alias("tokens"),
            F.length("raw").cast("int").alias("n_tok"),
            "source",
        )
    )
    late.write.mode("append").parquet(src)

    q2 = streaming.windowed_counts(spark, src, out, window="1 hour", watermark="10 minutes")
    q2.awaitTermination(300)
    n_after = spark.read.parquet(wc_path).agg(F.sum("n")).collect()[0][0]
    assert n_after == n_before
