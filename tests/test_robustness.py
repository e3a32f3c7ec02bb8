"""Adversarial-input robustness: \x01 packing-byte collisions, ANSI
cast safety, JSON required-key presence, salted repartition.

The packed-group extraction uses \x01 as its internal group separator;
these tests pin the two failure modes that would otherwise exist:
spoofing (garbage line with the right number of \x01 bytes faking a
match, then aborting the batch on an ANSI cast) and false-negative
(a genuinely valid line whose content contains \x01 being routed to
failure). The reference's attoparsec parsers are immune to both, so we
must be too.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from hnormalise_spark import pipeline as P
from hnormalise_spark.fixtures import wrap

SEP = "\x01"

# Advisor repro: 6-field arity spoof of the envelope packer; group 1
# ('x') would ANSI-cast-abort the whole batch if the spoof succeeded.
SPOOF_ENVELOPE = "x\x01y\x012017-05-24T18:01:01+02:00\x01h\x01t\x01m"


def _parse_lines(spark, lines):
    df = spark.createDataFrame(
        [(str(i), "t", l) for i, l in enumerate(lines)],
        "doc_id string, source string, raw string",
    )
    return P.normalise(df).collect()


def test_sep_spoof_routes_to_failure_not_abort(spark):
    rows = _parse_lines(
        spark,
        [
            SPOOF_ENVELOPE,
            SEP * 5,
            "torque: a;E;b;c" + SEP * 60,
            "snoopy" + SEP * 7,
        ],
    )
    for r in rows:
        assert r["parse_ok"] is False
        assert r["msg"] is None  # envelope failed cleanly


def test_valid_line_with_sep_in_msg_still_parses(spark):
    # \x01 inside a snoopy command argument: realistic (snoopy logs raw
    # command lines) and must parse exactly as without it.
    msg = (
        "snoopy[27316]::  [uid:110 sid:9379 tty:(none) cwd:/ "
        f"filename:/usr/bin/printf]: printf a{SEP}b"
    )
    rows = _parse_lines(spark, [wrap(msg, tag="snoopy[27316]:")])
    (r,) = rows
    assert r["parse_ok"] is True
    assert r["parser"] == "snoopy"
    assert r["snoopy"]["command"] == f"printf a{SEP}b"
    assert SEP in r["msg"]


def test_valid_envelope_with_sep_in_msg(spark):
    # SEP in the free-text message must not unseat the envelope parse.
    rows = _parse_lines(spark, [wrap(f"hello{SEP}world")])
    (r,) = rows
    assert r["hostname"] == "test2802"
    assert r["msg"] == f"hello{SEP}world"
    assert r["parse_ok"] is False  # no family matches — payload fail only


def test_torque_body_with_sep_uses_slow_path(spark):
    # A torque D (delete) body containing SEP: misses nothing (D has no
    # mega-regex); and an E body with SEP in a value must fall back to
    # the KV slow path and still parse.
    from hnormalise_spark.fixtures import TORQUE_EXIT_FQDN

    poisoned = TORQUE_EXIT_FQDN.replace("jobname=STDIN", f"jobname=ST{SEP}DIN")
    rows = _parse_lines(spark, [wrap(poisoned, tag="torque:")])
    (r,) = rows
    assert r["parse_ok"] is True
    assert r["parser"] == "torque_exit"
    assert r["torque"]["jobname"] == f"ST{SEP}DIN"


def test_json_mode_requires_maybe_keys_present(spark):
    base = {
        "msg": "snoopy[27316]::  [uid:110 sid:9379 tty:(none) cwd:/ "
        "filename:/usr/bin/uptime]: /usr/bin/uptime",
        "timereported": "2017-05-24T18:01:53.367275+02:00",
        "hostname": "h", "syslogtag": "snoopy[27316]:", "inputname": "imfile",
        "fromhost": "h", "fromhost-ip": "127.0.0.1", "pri": 13, "version": 1,
        "syslogfacility": "1", "syslogseverity": "5",
        "timegenerated": "2017-05-24T18:01:53.367275+02:00",
        "programname": "snoopy", "protocol-version": "0",
        "app-name": "snoopy", "procid": "27316",
    }
    missing_pri = {k: v for k, v in base.items() if k != "pri"}
    null_pri = dict(base, pri=None)
    lines = [json.dumps(o) for o in (base, missing_pri, null_pri)]
    df = spark.createDataFrame(
        [(str(i), "t", l) for i, l in enumerate(lines)],
        "doc_id string, source string, raw string",
    )
    rows = P.normalise_json(df).orderBy("doc_id").collect()
    # aeson (.:) into Maybe: key must exist, null value is fine.
    assert rows[0]["parse_ok"] is True
    assert rows[1]["parse_ok"] is False  # key absent → Original
    assert rows[2]["parse_ok"] is True
    assert rows[2]["pri"] is None


def test_salted_repartition_spreads_skewed_key(spark):
    # 10k rows, 95% one hot source: plain repartition(8, source) puts
    # the hot key in ONE partition; the salted form must spread it.
    df = spark.range(10_000).withColumn(
        "source", F.when(F.col("id") % 20 < 19, F.lit("hot")).otherwise(F.lit("cold"))
    )
    def spread(frame):
        sizes = (
            frame.groupBy(F.spark_partition_id().alias("p"))
            .count()
            .collect()
        )
        counts = [r["count"] for r in sizes]
        return max(counts), len(counts)

    plain = df.repartition(8, F.col("source"))
    salted = P.salted_repartition(df, 8, keys=("source",), salt=16)
    plain_max, _ = spread(plain)
    salted_max, salted_parts = spread(salted)
    assert plain_max >= 9_500  # hot key collapsed into one partition
    assert salted_max < 4_000  # spread across partitions
    assert salted_parts >= 4
    assert salted.count() == 10_000
    assert "_salt" not in salted.columns


def test_zero_vector_cosine_nulls_not_crash(spark):
    """A zero embedding has no defined cosine: it must drop from any
    ranking as null, never abort the batch (ANSI DIVIDE_BY_ZERO)."""
    from hnormalise_spark.ops.similarity import cosine
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8])],
        "doc_id long, embedding array<double>",
    )
    q = F.array(F.lit(1.0), F.lit(0.0))
    got = {
        r["doc_id"]: r["cos"]
        for r in df.select(
            "doc_id", cosine(F.col("embedding"), q).alias("cos")
        ).collect()
    }
    assert got[2] is None and abs(got[1] - 1.0) < 1e-12 and abs(got[3] - 0.6) < 1e-12


def test_pack_weight_zero_excludes_source(spark):
    """mix weight 0 means 'exclude this source' — previously it crashed
    the vt division under ANSI."""
    from hnormalise_spark.ops.packing import mix_sources

    df = spark.createDataFrame(
        [(f"d{i}", "a" if i % 2 else "b", 10) for i in range(20)],
        "doc_id string, source string, n_tok int",
    )
    out = mix_sources(df, {"a": 1.0, "b": 0.0}, shards=2)
    srcs = {r["source"] for r in out.select("source").distinct().collect()}
    assert srcs == {"a"}
