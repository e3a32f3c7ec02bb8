"""Routing/sink invariants, enrichment joins, streaming parity.

Checks the north-rule contracts: per-sink routed-row set equality,
failure sink carries originals (token-array equality) and nothing
else, on token and text input alike, counts match,
streaming foreachBatch produces the same routed sets as batch (token
and rsyslog JSON input alike, with the staging columns built once per
query), every sink is zstd parquet that pyarrow reads back, a small
batch writes one file per route while a large route is split across
writers, the lineage stamps name the scan that read each row, and
enrichment joins are broadcast (no shuffle of the fact side).
"""

from __future__ import annotations

import glob
import json
import os
import re

import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hnormalise_spark import enrich, pipeline as P, sinks, streaming
from hnormalise_spark.datagen import raw_sequences

N = 2000


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    raw_sequences(spark, N, partitions=4).write.mode("overwrite").parquet(d)
    return d


def _assert_zstd_parquet(path: str) -> int:
    """Every data file under ``path`` has only ZSTD column chunks and
    reads back with pyarrow (as perfbench's check does) → its rows."""
    files = [
        os.path.join(d, n) for d, _, names in os.walk(path)
        for n in names if not n.startswith((".", "_"))
    ]
    assert files, path
    rows = 0
    for f in files:
        meta = pq.ParquetFile(f).metadata
        codecs = {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups) for c in range(meta.num_columns)
        }
        assert codecs == {"ZSTD"}, (f, codecs)
        assert pq.read_table(f).num_rows == meta.num_rows
        rows += meta.num_rows
    return rows


def _data_files(path: str) -> list[str]:
    """The parquet data files of one route directory, as pyarrow lists
    them (``_SUCCESS`` and hidden files left out)."""
    return ds.dataset(path, format="parquet").files


# what a failure row keeps: its identity, route and lineage, and its
# input (the token array, or the text line and the array derived from it)
TOKEN_KEEP = {"doc_id", "source", "parse_ok", "lineage_partition", "lineage_file", "tokens", "n_tok"}
TEXT_KEEP = TOKEN_KEEP | {"raw"}


def _failure_extras(failure, keep: set[str]) -> dict[str, int]:
    """Non-null values per column outside ``keep`` in a failure
    partition (null-safe: a null is counted, never compared)."""
    extras = [c for c in failure.columns if c not in keep]
    assert {"msg", "hostname", "lmod", "torque", "json"} <= set(extras)
    counts = failure.select([F.count(c).alias(c) for c in extras]).first().asDict()
    return {c: n for c, n in counts.items() if n}


def test_batch_fanout_invariants(spark, corpus_dir, tmp_path):
    df = spark.read.parquet(corpus_dir)
    parsed = sinks.with_lineage(P.normalise_tokens(df))
    paths = sinks.run_batch(spark, parsed, str(tmp_path / "out"))

    staging = spark.read.parquet(paths["staging"])
    success = spark.read.parquet(paths["success"])
    failure = spark.read.parquet(paths["failure"])
    counts = spark.read.parquet(paths["counts"])

    n_s, n_f = success.count(), failure.count()
    assert n_s + n_f == N
    assert (_assert_zstd_parquet(paths["success"]), _assert_zstd_parquet(paths["failure"])) == (n_s, n_f)
    assert _assert_zstd_parquet(paths["counts"]) == counts.count()
    # routed-row set equality: success ∪ failure doc_ids == input doc_ids
    assert success.select("doc_id").union(failure.select("doc_id")).distinct().count() == N

    # failure sink carries original tokens untouched (token-array equality)
    orig = df.select("doc_id", F.col("tokens").alias("tokens_in"))
    joined = failure.join(orig, "doc_id")
    assert joined.filter(F.col("tokens") != F.col("tokens_in")).count() == 0
    # ... and nothing else: every other column, raw (the detokenized
    # line) included, is null, also on rows whose envelope parsed
    assert _failure_extras(failure, TOKEN_KEEP) == {}
    assert parsed.filter(~F.col("parse_ok") & F.col("msg").isNotNull()).count() > 0

    # counts equal direct aggregation and sum to N
    assert counts.agg(F.sum("n")).collect()[0][0] == N
    direct = {
        (r["source"], r["parser"], r["parse_ok"]): r["n"]
        for r in P.counts(staging).collect()
    }
    from_sink = {
        (r["source"], r["parser"], r["parse_ok"]): r["n"] for r in counts.collect()
    }
    assert direct == from_sink

    # lineage stamps present on both sinks
    assert "lineage_partition" in success.columns and "lineage_file" in failure.columns

    # one writer per route: a batch this small writes one file to each
    for route in ("success", "failure"):
        assert len(_data_files(paths[route])) == 1, route

    # the stamps are taken in the scan tasks, before the route
    # rebalance: each row names the input file that holds its doc_id
    # and a partition of the scan that read it
    scan = df.select("doc_id", F.input_file_name().alias("file"))
    stamped = staging.select("doc_id", "lineage_file", "lineage_partition").join(scan, "doc_id")
    assert stamped.count() == N
    assert stamped.filter(F.col("lineage_file") != F.col("file")).count() == 0
    n_scan = df.rdd.getNumPartitions()
    assert n_scan > 1
    parts = {r[0] for r in staging.select("lineage_partition").distinct().collect()}
    assert parts == set(range(n_scan))

    # success rows all have a parser + payload in the right family column
    assert success.filter(F.col("parser").isNull()).count() == 0


def test_large_route_splits_across_writers(spark, corpus_dir, tmp_path):
    """A route bigger than AQE's advisory partition size is split
    across writers, never written by a single task; the routed row
    sets still partition the input and counts still match them."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "4k")
    try:
        df = spark.read.parquet(corpus_dir)
        paths = sinks.run_batch(spark, P.normalise_tokens(df), str(tmp_path / "out"))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert len(_data_files(paths["success"])) > 1

    def ids(frame):
        rows = [r[0] for r in frame.select("doc_id").collect()]
        assert len(rows) == len(set(rows))
        return set(rows)

    ok, bad = ids(spark.read.parquet(paths["success"])), ids(spark.read.parquet(paths["failure"]))
    assert not ok & bad and ok | bad == ids(df)
    key_cols = ("source", "parser", "parse_ok")
    counts = {
        tuple(r[k] for k in key_cols): r["n"]
        for r in spark.read.parquet(paths["counts"]).collect()
    }
    routed = {
        tuple(r[k] for k in key_cols): r["n"]
        for r in P.counts(spark.read.parquet(paths["staging"])).collect()
    }
    assert counts == routed
    assert sum(n for (_, _, o), n in counts.items() if o) == len(ok)
    assert sum(n for (_, _, o), n in counts.items() if not o) == len(bad)


@pytest.fixture(scope="module")
def stream_out(spark, corpus_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream_out"))
    q = streaming.start_pipeline(spark, corpus_dir, out, available_now=True)
    q.awaitTermination(300)
    return out


def test_streaming_matches_batch(spark, corpus_dir, stream_out):
    out = stream_out
    success = spark.read.parquet(out + "/staging/batch_id=*/route=success")
    failure = spark.read.parquet(out + "/staging/batch_id=*/route=failure")
    counts = spark.read.option("basePath", out + "/counts").parquet(out + "/counts")

    df = spark.read.parquet(corpus_dir)
    batch = P.normalise_tokens(df)
    batch_ok = {r["doc_id"] for r in batch.filter("parse_ok").select("doc_id").collect()}
    stream_ok = {r["doc_id"] for r in success.select("doc_id").collect()}
    assert batch_ok == stream_ok
    assert failure.count() == N - len(batch_ok)
    # a micro-batch's failure rows keep only the input, as batch's do
    assert _failure_extras(failure, TOKEN_KEEP) == {}

    # each micro-batch writes one file per route, as a small batch does
    routes = glob.glob(os.path.join(out, "staging", "batch_id=*", "route=*"))
    assert routes
    for route in routes:
        assert len(_data_files(route)) == 1, route

    # summed batch counts == batch counts (running-counter semantics)
    summed = {
        (r["source"], r["parser"], r["parse_ok"]): r["total"]
        for r in counts.groupBy("source", "parser", "parse_ok")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    direct = {
        (r["source"], r["parser"], r["parse_ok"]): r["n"]
        for r in P.counts(batch).collect()
    }
    assert summed == direct


def test_streaming_sink_schemas_match_batch(spark, corpus_dir, stream_out, tmp_path):
    """A micro-batch writes the batch fan-out's exact sink schemas."""
    paths = sinks.run_batch(
        spark, P.normalise_tokens(spark.read.parquet(corpus_dir)), str(tmp_path / "out")
    )
    assert sorted(os.listdir(os.path.join(stream_out, "staging"))) == ["batch_id=0"]
    micro = {
        "success": os.path.join(stream_out, "staging", "batch_id=0", "route=success"),
        "failure": os.path.join(stream_out, "staging", "batch_id=0", "route=failure"),
        "counts": os.path.join(stream_out, "counts", "batch_id=0"),
    }
    for sink, path in micro.items():
        assert spark.read.parquet(path).schema == spark.read.parquet(paths[sink]).schema, sink
        assert _assert_zstd_parquet(path) == _assert_zstd_parquet(paths[sink]), sink
    assert "json" in spark.read.parquet(micro["success"]).columns


def test_streaming_resume_idempotent(spark, corpus_dir, tmp_path):
    """Restarting a drained query must not duplicate sink rows."""
    out = str(tmp_path / "resume_out")
    success = out + "/staging/batch_id=*/route=success"
    q = streaming.start_pipeline(spark, corpus_dir, out, available_now=True)
    q.awaitTermination(300)
    n1 = spark.read.parquet(success).count()
    q2 = streaming.start_pipeline(spark, corpus_dir, out, available_now=True)
    q2.awaitTermination(300)
    n2 = spark.read.parquet(success).count()
    assert n1 == n2


def test_enrichment_broadcast(spark, corpus_dir):
    df = spark.read.parquet(corpus_dir)
    parsed = P.normalise_tokens(df)
    hm, cm, um = enrich.synth_lookup_tables(spark)
    enriched = enrich.enrich(parsed, hm, cm, um)

    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan and "Exchange hashpartitioning" not in plan

    # every parsed hostname that exists in host_meta is enriched
    hit = enriched.filter(F.col("parse_ok") & F.col("host_cluster").isNotNull())
    sample = hit.select("hostname", "host_cluster", "cluster_site").limit(5).collect()
    assert sample, "expected at least some enriched rows"
    for r in sample:
        assert r["host_cluster"] in r["hostname"]
    # snoopy uid join resolves usernames
    sn = enriched.filter(F.col("parser") == "snoopy").filter(
        F.col("uid_username").isNotNull()
    )
    assert sn.count() > 0


def test_read_raw_text_batch_roundtrip(spark, tmp_path):
    """Raw syslog text files (the reference's native input) enter the
    SAME normalise() transform: every fixture line routes exactly as it
    does from the tokenized parquet path, and its failure rows keep the
    line itself."""
    from hnormalise_spark.fixtures import CORPUS
    from hnormalise_spark.streaming import read_raw_text
    from hnormalise_spark import pipeline as P

    log = tmp_path / "syslog.log"
    lines = [l for (_, _, _, l) in CORPUS if l and "\n" not in l]
    log.write_text("\n".join(lines) + "\n")
    df = read_raw_text(spark, str(log))
    assert df.columns[:3] == ["doc_id", "source", "raw"]
    parsed = P.normalise(df)
    got = {
        (r["parser"], r["parse_ok"]): r["n"]
        for r in P.counts(parsed, keys=("parser", "parse_ok")).collect()
    }
    want_ok = {}
    for (_, _, parser, l) in CORPUS:
        if l and "\n" not in l and parser:
            want_ok[parser] = want_ok.get(parser, 0) + 1
    for parser, n in want_ok.items():
        assert got.get((parser, True)) == n, parser
    assert sum(n for (p, ok), n in got.items() if not ok) == sum(
        1 for (_, _, p, l) in CORPUS if l and "\n" not in l and p is None
    )
    # doc_ids are unique and carry the file name
    ids = [r["doc_id"] for r in df.select("doc_id").collect()]
    assert len(set(ids)) == len(lines) and all(i.startswith("syslog.log-") for i in ids)

    # text input has no token array: a failure row keeps the line as
    # raw and its codepoints as tokens, and nothing of the parse, also
    # where the envelope parsed
    failure = spark.read.parquet(sinks.run_batch(spark, parsed, str(tmp_path / "out"))["failure"])
    rows = failure.select("raw", "tokens").collect()
    assert sorted(r["raw"] for r in rows) == sorted(
        l for (_, _, p, l) in CORPUS if l and "\n" not in l and p is None
    )
    assert all(r["tokens"] == [ord(c) for c in r["raw"]] for r in rows)
    assert _failure_extras(failure, TEXT_KEEP) == {}
    assert parsed.filter(~F.col("parse_ok") & F.col("msg").isNotNull()).count() > 0


def test_read_raw_text_stream_routes(spark, tmp_path):
    """The streaming text source feeds the identical transform; one
    micro-batch routes success/failure exactly like batch."""
    from hnormalise_spark.fixtures import CORPUS
    from hnormalise_spark.streaming import read_raw_text_stream
    from hnormalise_spark import pipeline as P

    in_dir = tmp_path / "logs"
    in_dir.mkdir()
    lines = [l for (_, _, _, l) in CORPUS if l and "\n" not in l]
    (in_dir / "a.log").write_text("\n".join(lines) + "\n")
    parsed = P.normalise(read_raw_text_stream(spark, str(in_dir)))
    out = parsed.groupBy("parse_ok").count()
    q = (
        out.writeStream.format("memory")
        .queryName("raw_text_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["parse_ok"]: r["count"] for r in spark.sql("select * from raw_text_counts").collect()}
    n_fail = sum(1 for (_, _, p, l) in CORPUS if l and "\n" not in l and p is None)
    assert got[False] == n_fail
    assert got[True] == len(lines) - n_fail


def _jsonmesg(line: str) -> str:
    """A fixture syslog line as an rsyslog %jsonmesg% object; a line
    with no envelope stays as it is (bad JSON routes to failure)."""
    m = re.fullmatch(r"<(\d+)>(\d+) (\S+) (\S+) (\S+) - (.*)", line)
    if m is None:
        return line
    pri, version, ts, host, tag, msg = m.groups()
    return json.dumps({
        "msg": msg, "timereported": ts, "hostname": host, "syslogtag": tag,
        "inputname": "imtcp", "fromhost": host, "fromhost-ip": "10.0.0.1",
        "pri": int(pri), "version": int(version), "syslogfacility": "1",
        "syslogseverity": "5", "timegenerated": ts, "programname": tag.rstrip(":"),
        "protocol-version": "1", "app-name": tag.rstrip(":"), "procid": "-",
    })


# more files than one trigger takes, so the drain needs two micro-batches
JSON_FILES = streaming.MAX_FILES_PER_TRIGGER + 2


@pytest.fixture(scope="module")
def json_stream(spark, tmp_path_factory):
    """FX.CORPUS as %jsonmesg% lines spread over JSON_FILES files,
    drained by ``start_pipeline(input_format="json")`` while counting
    the ``encode_normalised`` builds."""
    from hnormalise_spark import jsonout
    from hnormalise_spark.fixtures import CORPUS

    lines = [_jsonmesg(l) for (_, _, _, l) in CORPUS if l and "\n" not in l]
    in_dir = tmp_path_factory.mktemp("json_in")
    for i in range(JSON_FILES):
        (in_dir / f"part-{i:02d}.json").write_text("\n".join(lines[i::JSON_FILES]) + "\n")
    out = str(tmp_path_factory.mktemp("json_out"))
    builds = []
    encode = jsonout.encode_normalised

    def counted(*args, **kwargs):
        builds.append(1)
        return encode(*args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(jsonout, "encode_normalised", counted)
        q = streaming.start_pipeline(spark, str(in_dir), out, available_now=True, input_format="json")
        q.awaitTermination(300)
    return str(in_dir), out, len(builds)


def test_json_stream_counts_match_batch(spark, json_stream, tmp_path):
    """``--streaming --input-format json`` drains and routes like batch:
    summed per-batch counts equal run_batch's on the same lines."""
    in_dir, out, _ = json_stream
    assert len(os.listdir(os.path.join(out, "counts"))) >= 2
    key = ("source", "parser", "parse_ok")
    summed = {
        tuple(r[k] for k in key): r["n"]
        for r in spark.read.parquet(os.path.join(out, "counts"))
        .groupBy(*key).agg(F.sum("n").alias("n")).collect()
    }
    paths = sinks.run_batch(
        spark, P.normalise_json(streaming.read_raw_text(spark, in_dir)), str(tmp_path / "out")
    )
    batch = {tuple(r[k] for k in key): r["n"] for r in spark.read.parquet(paths["counts"]).collect()}
    assert summed == batch
    assert sum(n for (_, _, ok), n in batch.items() if ok) > 0
    assert sum(n for (_, _, ok), n in batch.items() if not ok) > 0


def test_stream_builds_staging_once(json_stream):
    """The staging columns join the stream once, before foreachBatch:
    a multi-batch drain builds the JSON expression exactly once."""
    _, out, builds = json_stream
    assert len(os.listdir(os.path.join(out, "counts"))) >= 2
    assert builds == 1


def test_text_stream_survives_an_empty_file(spark, tmp_path):
    """A log rotation leaves an empty file in the tailed directory: its
    micro-batch stages zero rows and must not kill the query. The next
    file streams on from the same checkpoint, and the summed counts
    equal run_batch's on the same lines."""
    from hnormalise_spark.fixtures import CORPUS

    in_dir = tmp_path / "logs"
    in_dir.mkdir()
    out = str(tmp_path / "out")
    (in_dir / "rotated.log").write_text("")
    streaming.start_pipeline(spark, str(in_dir), out, available_now=True, input_format="text").awaitTermination(300)
    empty = spark.read.parquet(os.path.join(out, "counts"))
    assert empty.count() == 0

    lines = [l for (_, _, _, l) in CORPUS if l and "\n" not in l]
    (in_dir / "syslog.log").write_text("\n".join(lines) + "\n")
    streaming.start_pipeline(spark, str(in_dir), out, available_now=True, input_format="text").awaitTermination(300)
    assert len(os.listdir(os.path.join(out, "counts"))) == 2
    key = ("source", "parser", "parse_ok")
    summed = {
        tuple(r[k] for k in key): r["n"]
        for r in spark.read.parquet(os.path.join(out, "counts"))
        .groupBy(*key).agg(F.sum("n").alias("n")).collect()
    }
    paths = sinks.run_batch(
        spark, P.normalise(streaming.read_raw_text(spark, str(in_dir / "syslog.log"))),
        str(tmp_path / "batch"),
    )
    batch = {tuple(r[k] for k in key): r["n"] for r in spark.read.parquet(paths["counts"]).collect()}
    assert summed == batch
    assert sum(batch.values()) == len(lines)
