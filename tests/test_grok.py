"""Grok compiler: expansion, group indexing, typing, Spark extraction,
and parity of a grok-re-expressed envelope against the pipeline's
envelope stage."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hnormalise_spark import pipeline as P
from hnormalise_spark.fixtures import CORPUS
from hnormalise_spark.parsing.grok import (
    CompiledGrok,
    GrokError,
    compile_grok,
    grok_extract,
)


# --- pure compiler ---------------------------------------------------------


def test_named_and_typed_fields():
    c = compile_grok("%{WORD:w} %{INT:n:int} %{NUMBER:x:float}")
    assert [(f.name, f.type, f.group) for f in c.fields] == [
        ("w", "string", 1),
        ("n", "long", 2),
        ("x", "double", 3),
    ]
    m = re.match(c.regex, "abc -7 3.5")
    assert m and m.group(2) == "-7" and m.group(3) == "3.5"


def test_literal_capturing_group_shifts_indexes():
    c = compile_grok(r"(a|b)-%{INT:n:int}")
    (f,) = c.fields
    assert f.group == 2
    assert re.match(c.regex, "b-42").group(2) == "42"


def test_nested_library_fields_surface():
    # SYSLOGPROG carries its own named captures (program, pid)
    c = compile_grok("%{SYSLOGPROG}: %{GREEDYDATA:rest}")
    names = [f.name for f in c.fields]
    assert names == ["program", "pid", "rest"]
    m = re.match(c.regex, "sshd[314]: ok")
    got = {f.name: m.group(f.group) for f in c.fields}
    assert got == {"program": "sshd", "pid": "314", "rest": "ok"}


def test_outer_field_wrapping_nested_groups_gets_outer_index():
    c = compile_grok("%{SYSLOGPROG:tag}!", library={})
    tag = next(f for f in c.fields if f.name == "tag")
    assert tag.group == 1  # opens before program/pid inside it
    m = re.match(c.regex, "crond[9]!")
    assert m.group(tag.group) == "crond[9]"


def test_errors():
    with pytest.raises(GrokError, match="unknown"):
        compile_grok("%{NOPE:x}")
    with pytest.raises(GrokError, match="duplicate"):
        compile_grok("%{INT:x} %{WORD:x}")
    with pytest.raises(GrokError, match="depth"):
        compile_grok("%{A}", library={"A": "%{B}", "B": "%{A}"})
    with pytest.raises(GrokError, match="type"):
        compile_grok("%{INT:x:decimal}")


def test_re2_safety_no_lookaround_or_backrefs():
    """The whole library must compile to RE2-safe regex (DuckDB oracle
    parity): no lookaround, no backreferences, no atomic groups."""
    from hnormalise_spark.parsing.grok import GROK_PATTERNS

    banned = re.compile(r"\(\?[=!<>]|\\[1-9]")
    for name in GROK_PATTERNS:
        c = compile_grok(f"%{{{name}:v}}")
        assert not banned.search(c.regex), name
        re.compile(c.regex)  # and it is valid


# --- Spark-side extraction -------------------------------------------------


def test_grok_extract_types_and_nonmatch_nulls(spark):
    df = spark.createDataFrame(
        [("ok", "GET /x 200"), ("bad", "garbage")], "id string, raw string"
    )
    out = grok_extract(
        df, "raw", "%{WORD:verb} %{NOTSPACE:path} %{NONNEGINT:status:int}"
    )
    rows = {r["id"]: r for r in out.collect()}
    assert dict(rows["ok"].asDict()) == {
        "id": "ok", "raw": "GET /x 200", "verb": "GET", "path": "/x",
        "status": 200, "grok_ok": True,
    }
    bad = rows["bad"]
    assert (bad["verb"], bad["path"], bad["status"], bad["grok_ok"]) == (
        None, None, None, False,
    )
    assert dict(out.dtypes)["status"] == "bigint"


def test_commonapachelog_on_spark(spark):
    line = (
        '203.0.113.9 - alice [10/Oct/2000:13:55:36 -0700] '
        '"POST /submit HTTP/1.1" 404 512'
    )
    df = spark.createDataFrame([(line,)], "raw string")
    row = grok_extract(df, "raw", "%{COMMONAPACHELOG}").collect()[0]
    assert (row["clientip"], row["auth"], row["verb"], row["request"]) == (
        "203.0.113.9", "alice", "POST", "/submit",
    )
    assert (row["response"], row["bytes"], row["grok_ok"]) == (404, 512, True)


ENVELOPE_GROK = (
    r"(?:<%{NONNEGINT:pri:int}>%{NONNEGINT:version:int})?\s*"
    r"%{NOTSPACE:timereported_raw}\s+%{NOTSPACE:hostname}\s+%{NOTSPACE:syslogtag}"
    r"\s+-\s*%{RESTDOTALL:msg}"
)
# the envelope regexp captures msg in DOTALL mode (a message may span
# lines); GREEDYDATA is single-line by the grok standard, so extend the
# library — which also exercises the extension mechanism
ENVELOPE_LIB = {"RESTDOTALL": r"(?s:.*)"}


def test_grok_envelope_parity_with_hand_parser(spark):
    """The rsyslog logstash envelope re-expressed as a grok pattern
    extracts the same fields as the pipeline's envelope stage
    (pipeline._envelope_stage) on every fixture line that stage accepts
    (the grok variant skips the RFC3339 shape check, so compare on
    _env_ok rows). Grok reads the stage's ``_line``: the line it parses,
    trailing newline stripped."""
    rows = [(i, raw) for (i, _, _, raw) in CORPUS]
    df = spark.createDataFrame(rows, "doc_id string, raw string")
    hand = P._envelope_stage(df, "raw").select(
        "doc_id",
        "_line",
        "_env_ok",
        *[F.col(k).alias("h_" + k) for k in
          ("pri", "version", "timereported_raw", "hostname", "syslogtag", "msg")],
    )
    both = grok_extract(hand, "_line", ENVELOPE_GROK, library=ENVELOPE_LIB)
    checked = 0
    for r in both.collect():
        if not r["_env_ok"]:
            continue
        checked += 1
        assert r["grok_ok"], r["doc_id"]
        for k in ("pri", "version", "timereported_raw", "hostname",
                  "syslogtag", "msg"):
            assert r[k] == r["h_" + k], (r["doc_id"], k, r[k], r["h_" + k])
    assert checked > 20  # the corpus is mostly well-enveloped


def test_columns_dict_shape():
    c = compile_grok("%{INT:n:int}")
    assert isinstance(c, CompiledGrok)
    assert c.regex.startswith("^") and c.regex.endswith("$")
    unanchored = compile_grok("%{INT:n:int}", anchored=False)
    assert not unanchored.regex.startswith("^")


def test_typed_field_hostile_values_null_not_crash(spark):
    """An optional typed group that did not participate ('' from the
    COMMONAPACHELOG `bytes|-` alternation) and a matched number wider
    than BIGINT must null the one field — under ANSI a plain cast here
    aborted the whole batch."""
    rows = [
        ("dash", '1.2.3.4 - u [10/Oct/2000:13:55:36 +0200] "GET /x HTTP/1.1" 200 -'),
        ("wide", '1.2.3.4 - u [10/Oct/2000:13:55:36 +0200] "GET /x HTTP/1.1" 200 '
                 + "9" * 25),
        ("good", '1.2.3.4 - u [10/Oct/2000:13:55:36 +0200] "GET /x HTTP/1.1" 200 512'),
    ]
    df = spark.createDataFrame(rows, "doc_id string, raw string")
    got = {
        r["doc_id"]: r
        for r in grok_extract(df, "raw", "%{COMMONAPACHELOG}")
        .select("doc_id", "response", "bytes", "grok_ok")
        .collect()
    }
    assert got["dash"]["grok_ok"] and got["dash"]["bytes"] is None
    assert got["dash"]["response"] == 200
    assert got["wide"]["grok_ok"] and got["wide"]["bytes"] is None
    assert got["good"]["bytes"] == 512
