"""Output shape of the parse and the batch fan-out: no intermediate
columns leak, the success sink (the ``route=success`` staging
partition) keeps every family payload, and run.py honours the sink,
input and ``fields`` settings of its config file."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from hnormalise_spark import pipeline as P
from hnormalise_spark import sinks
from hnormalise_spark.fixtures import CORPUS

LINES = [l for (_, _, _, l) in CORPUS if l and "\n" not in l]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(
        [(i, s, l) for (i, s, _, l) in CORPUS], "doc_id string, source string, raw string"
    )


def test_normalise_outputs_have_no_intermediate_columns(corpus_df):
    for parsed in (P.normalise(corpus_df), P.normalise_json(corpus_df)):
        assert [c for c in parsed.columns if c.startswith("_")] == []


def test_export_success_keeps_slurm_payload(spark, corpus_df, tmp_path):
    paths = sinks.run_batch(spark, P.normalise(corpus_df), str(tmp_path / "out"))
    assert paths["success"].endswith(os.path.join("staging", "route=success"))
    success = spark.read.parquet(paths["success"])
    assert {fam for fam, *_ in P.FAMILIES} <= set(success.columns)
    slurm = success.filter(F.col("jsonkey") == "slurm")
    assert slurm.count() > 0
    assert slurm.filter(F.col("slurm").isNull()).count() == 0


def test_run_main_honours_config(spark, tmp_path, monkeypatch):
    import hnormalise_spark
    from hnormalise_spark import run

    monkeypatch.setattr(hnormalise_spark, "get_spark", lambda **_: spark)
    log = tmp_path / "syslog.log"
    log.write_text("\n".join(LINES) + "\n")
    out = tmp_path / "out"
    cfg = tmp_path / "user.json"
    cfg.write_text(json.dumps({
        "input": {"path": str(log), "format": "text"},
        "sink": {"out_dir": str(out), "json_line": False},
    }))
    assert run.main(["--config", str(cfg)]) == 0
    for route in ("success", "failure"):
        assert os.path.isdir(out / "staging" / f"route={route}")
    assert "json" not in spark.read.parquet(str(out / "staging")).columns
    counts = spark.read.parquet(str(out / "counts"))
    assert counts.filter("parse_ok").agg(F.sum("n")).first()[0] > 0

    # a CLI flag beats the config: as rsyslog JSON, no syslog line parses
    out2 = tmp_path / "out2"
    assert run.main(["--config", str(cfg), "--input-format", "json", "--output", str(out2)]) == 0
    counts2 = spark.read.parquet(str(out2 / "counts"))
    assert counts2.filter("parse_ok").count() == 0
    assert counts2.agg(F.sum("n")).first()[0] == len(LINES)


# the out-keys are config text, so one needs JSON escaping
FIELDS = [["@source_host", "hostname"], ["message", "msg"], ["level", "pri"], ['a"b\\c\td', "appname"]]


def _assert_fields_order(staged):
    rows = staged.filter("route = 'success'").select("jsonkey", "json").collect()
    assert rows
    for r in rows:
        assert list(json.loads(r["json"])) == [r["jsonkey"], *(k for k, _ in FIELDS)]


def test_run_main_applies_fields_config(spark, tmp_path, monkeypatch):
    """The config's ``fields`` projection shapes the success JSON line:
    ``<jsonkey>`` first, then the configured out-keys in their order
    (Json.hs:94-96)."""
    import hnormalise_spark
    from hnormalise_spark import run

    monkeypatch.setattr(hnormalise_spark, "get_spark", lambda **_: spark)
    log = tmp_path / "syslog.log"
    log.write_text("\n".join(LINES) + "\n")
    out = tmp_path / "out"
    cfg = tmp_path / "user.json"
    cfg.write_text(json.dumps({
        "input": {"path": str(log), "format": "text"},
        "sink": {"out_dir": str(out)},
        "fields": FIELDS,
    }))
    assert run.main(["--config", str(cfg)]) == 0
    _assert_fields_order(spark.read.parquet(str(out / "staging")))


def test_run_main_streaming_applies_sink_config(spark, tmp_path, monkeypatch):
    """--streaming takes the same sink settings as batch: the ``fields``
    projection shapes the JSON line, and --no-json drops it."""
    import hnormalise_spark
    from hnormalise_spark import run

    monkeypatch.setattr(hnormalise_spark, "get_spark", lambda **_: spark)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "syslog.log").write_text("\n".join(LINES) + "\n")
    cfg = tmp_path / "user.json"
    cfg.write_text(json.dumps({
        "input": {"path": str(in_dir), "format": "text"},
        "run": {"streaming": True},
        "fields": FIELDS,
    }))
    out = tmp_path / "out"
    assert run.main(["--config", str(cfg), "--output", str(out)]) == 0
    _assert_fields_order(spark.read.parquet(str(out / "staging")))

    out2 = tmp_path / "out2"
    assert run.main(["--config", str(cfg), "--output", str(out2), "--no-json"]) == 0
    staged = spark.read.parquet(str(out2 / "staging"))
    assert staged.count() == len(LINES)
    assert "json" not in staged.columns


def test_run_main_rejects_unknown_config_format(tmp_path):
    """A config's input.format bypasses argparse's choices; run.py
    rejects one outside the input table before starting Spark."""
    from hnormalise_spark import run

    cfg = tmp_path / "user.json"
    cfg.write_text(json.dumps({"input": {"path": "x", "format": "xml"}, "sink": {"out_dir": "y"}}))
    with pytest.raises(SystemExit) as e:
        run.main(["--config", str(cfg)])
    assert e.value.code == 2


@pytest.mark.parametrize("flag", ["--config", "--system-config"])
def test_run_main_rejects_missing_config(tmp_path, monkeypatch, flag):
    """A config path that does not exist is refused before Spark
    starts, not skipped (a typo would drop its ``fields`` and sinks)."""
    import hnormalise_spark
    from hnormalise_spark import run

    def no_spark(**_):
        raise AssertionError("Spark started")

    monkeypatch.setattr(hnormalise_spark, "get_spark", no_spark)
    with pytest.raises(SystemExit) as e:
        run.main([flag, str(tmp_path / "typo.json"), "--input", "x", "--output", "y"])
    assert e.value.code == 2


def test_run_main_empty_text_input(spark, tmp_path, monkeypatch):
    """An empty input file routes no rows and fails nothing: run.py
    returns 0 and writes a readable, empty counts table."""
    import hnormalise_spark
    from hnormalise_spark import run

    monkeypatch.setattr(hnormalise_spark, "get_spark", lambda **_: spark)
    log = tmp_path / "empty.log"
    log.write_text("")
    out = tmp_path / "out"
    assert run.main(["--input", str(log), "--input-format", "text", "--output", str(out)]) == 0
    counts = spark.read.parquet(str(out / "counts"))
    assert counts.count() == 0
    assert {"source", "parser", "parse_ok", "n"} <= set(counts.columns)
