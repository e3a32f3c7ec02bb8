"""The driver registry as data: every query has its oracle, in the same
order, and the two source tables cannot shadow each other. No Spark
session is started; the registry is read in a fresh interpreter, the
way the driver first imports ``__spark_entry__``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DUMP = """
import json
import __spark_entry__ as e
from pyspark.sql import SparkSession
q, o = e.queries(), e.oracle_sql()
print(json.dumps({
    "queries": list(q),
    "oracles": o,
    "witness_first": e._WITNESS_FIRST,
    "spark_started": SparkSession.getActiveSession() is not None,
}))
"""


@pytest.fixture(scope="module")
def registry():
    out = subprocess.run(
        [sys.executable, "-c", _DUMP], cwd=ROOT, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    return json.loads(out.stdout.splitlines()[-1])


def test_queries_and_oracles_share_names_and_order(registry):
    assert registry["queries"] == list(registry["oracles"])


def test_registry_size(registry):
    assert len(registry["queries"]) == 153


def test_every_oracle_is_sql_text(registry):
    empty = [n for n, sql in registry["oracles"].items() if not isinstance(sql, str) or not sql.strip()]
    assert empty == []


def test_witness_window_comes_first(registry):
    assert len(registry["witness_first"]) == 50
    assert registry["queries"][:50] == registry["witness_first"]


def test_tables_do_not_shadow():
    import __spark_entry__ as e

    assert set(e.ops_entry.REGISTRY).isdisjoint(e._REGISTRY)


def test_import_starts_no_spark(registry):
    assert registry["spark_started"] is False
