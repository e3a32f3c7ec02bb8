"""Output shape of the parse and the batch fan-out: no intermediate
columns leak, the exported success table keeps every family payload,
and run.py honours the sink and input settings of its config file."""

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
    paths = sinks.run_batch(spark, P.normalise(corpus_df), str(tmp_path / "out"), export_sinks=True)
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
        "sink": {"out_dir": str(out), "json_line": False, "export_sinks": True},
    }))
    assert run.main(["--config", str(cfg)]) == 0
    for sink in ("success", "failure"):
        assert os.path.isdir(out / sink)
    assert "json" not in spark.read.parquet(str(out / "staging")).columns
    counts = spark.read.parquet(str(out / "counts"))
    assert counts.filter("parse_ok").agg(F.sum("n")).first()[0] > 0

    # a CLI flag beats the config: as rsyslog JSON, no syslog line parses
    out2 = tmp_path / "out2"
    assert run.main(["--config", str(cfg), "--input-format", "json", "--output", str(out2)]) == 0
    counts2 = spark.read.parquet(str(out2 / "counts"))
    assert counts2.filter("parse_ok").count() == 0
    assert counts2.agg(F.sum("n")).first()[0] == len(LINES)
