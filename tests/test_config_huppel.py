"""S8 config monoid merge + H1 huppel demo parser."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from hnormalise_spark.config import PipelineConfig, load_config, merge_configs
from hnormalise_spark.parsing import huppel


def test_merge_leftmost_wins():
    user = {"input": {"path": "/u"}, "run": {"repartition": 8}}
    system = {"input": {"path": "/s", "format": "text"}, "sink": {"json_line": False}}
    cfg = merge_configs(user, system)
    assert cfg.input.path == "/u"            # user beats system
    assert cfg.input.format == "text"        # system beats default
    assert cfg.run.repartition == 8
    assert cfg.sink.json_line is False


def test_fields_projection_config():
    cfg = merge_configs({"fields": [["message", "msg"], ["host", "hostname"]]}, {})
    assert cfg.fields == [("message", "msg"), ("host", "hostname")]
    assert merge_configs({}, {}).fields is None


def test_load_config_files(tmp_path):
    u = tmp_path / "user.json"
    s = tmp_path / "system.json"
    u.write_text(json.dumps({"run": {"streaming": True}}))
    s.write_text(json.dumps({"run": {"streaming": False, "enrich": True}}))
    cfg = load_config(str(u), str(s))
    assert cfg.run.streaming is True and cfg.run.enrich is True
    assert load_config(None, None) == PipelineConfig()


def test_huppel_parse(spark):
    df = spark.createDataFrame(
        [("huppel 42",), ("huppel 7 trailing",), ("not huppel",)], "msg string"
    )
    out = df.select(huppel.parse(F.col("msg")).alias("h")).collect()
    assert out[0]["h"]["id"] == 42
    assert out[1]["h"]["id"] == 7      # trailing input tolerated (attoparsec Done)
    assert out[2]["h"] is None
