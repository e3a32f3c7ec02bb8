"""Self-tests of the benchmark at tiny size.

    python3 -m pytest perfbench -q -p no:cacheprovider

The check and summary tests are pure Python. The seed test starts one
Spark session; the metric-name tests run the benchmark itself in a
subprocess per (workload, trace) on a few hundred lines.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
from stats import summary  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


# --- correctness check ------------------------------------------------------

def _fixture():
    expect = {
        "a": ("torque", "success", "torque: x", False, [1, 2]),
        "b": ("junk", "failure", None, False, [3, 4]),
        "c": ("lmod", "success", "lmod:: y", False, [5]),
        "d": ("junk", "failure", None, True, [300]),
    }
    success = [("a", "torque", "torque: x"), ("c", "lmod", "lmod:: y")]
    failure = [("b", "junk", [3, 4]), ("d", "junk", [300])]
    counts = [("torque", True, 1), ("lmod", True, 1), ("junk", False, 2)]
    return expect, success, failure, counts


def test_clean_pass_has_no_wrong_lines():
    res = check.count_wrong(*_fixture())
    assert res["wrong"] == 0 and res["lines"] == 4


def test_planted_misroute_is_counted():
    expect, success, failure, counts = _fixture()
    failure.append(("a", "torque", [1, 2]))
    success = [r for r in success if r[0] != "a"]
    counts = [("torque", False, 1), ("lmod", True, 1), ("junk", False, 2)]
    res = check.count_wrong(expect, success, failure, counts)
    assert res["misrouted"] == 1 and res["wrong"] == 1 and res["known_defect"] == 0


def test_planted_token_mismatch_is_counted():
    expect, success, failure, counts = _fixture()
    failure[0] = ("b", "junk", [3, 5])
    res = check.count_wrong(expect, success, failure, counts)
    assert res["tokens"] == 1 and res["wrong"] == 1


def test_known_defect_lines_are_counted_and_marked():
    expect, success, failure, counts = _fixture()
    failure[1] = ("d", "junk", [300 % 256])
    res = check.count_wrong(expect, success, failure, counts)
    assert res["wrong"] == 1 and res["known_defect"] == 1


def test_missing_duplicate_unknown_msg_and_counts():
    expect, success, failure, counts = _fixture()
    success = [("a", "torque", "torque: X"), ("a", "torque", "torque: x"),
               ("z", "lmod", "lmod:: z")]
    counts = [("torque", True, 2), ("lmod", True, 1), ("junk", False, 2)]
    res = check.count_wrong(expect, success, failure, counts)
    # a duplicated, c missing, z unknown; the table matches the sinks
    assert (res["duplicated"], res["missing"], res["unknown"]) == (1, 1, 1)
    assert res["counts_diff"] == 0 and res["wrong"] == 3
    res = check.count_wrong(expect, [("a", "torque", "torque: X"), _fixture()[1][1]],
                            failure, _fixture()[3])
    assert res["msg"] == 1 and res["wrong"] == 1
    res = check.count_wrong(*_fixture()[:3], [("torque", True, 3)])
    assert res["counts_diff"] == 2 + 1 + 2


# --- summaries ---------------------------------------------------------------

def test_summary_keeps_every_sample():
    s = summary([3.0, 1.0, 2.0, 10.0])
    assert s["n"] == 4 and s["median"] == 2.5
    assert s["q1"] <= s["median"] <= s["q3"]
    assert s["samples"] == [3.0, 1.0, 2.0, 10.0]
    # two samples: the median is their mean, not the slower one
    assert summary([120.8, 149.5])["median"] == pytest.approx(135.15)


# --- seeded generator ---------------------------------------------------------

@pytest.fixture(scope="module")
def spark():
    from hnormalise_spark import get_spark

    s = get_spark(master="local[2]", app_name="perfbench-tests",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _bytes(meta):
    out = []
    for name in sorted(os.listdir(meta["input"])):
        with open(os.path.join(meta["input"], name), "rb") as fh:
            out.append(fh.read())
    return out


@pytest.fixture
def small_base(monkeypatch):
    monkeypatch.setattr(gen, "BASE_ROWS", 5000)


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_seed_fixes_the_bytes(spark, tmp_path, small_base, workload):
    a = gen.ensure_inputs(spark, str(tmp_path / "a"), workload, 7, 300)
    b = gen.ensure_inputs(spark, str(tmp_path / "b"), workload, 7, 300)
    c = gen.ensure_inputs(spark, str(tmp_path / "a"), workload, 8, 300)
    again = gen.ensure_inputs(spark, str(tmp_path / "a"), workload, 7, 300)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)
    assert again["cache_hit"] and not a["cache_hit"]
    t = pq.read_table(a["expect"]).to_pylist()
    assert len(t) == 300 and len({r["doc_id"] for r in t}) == 300
    assert all((r["exp_msg"] is None) == (r["exp_route"] == "failure") for r in t)


def test_failheavy_breaks_lines_at_three_stages(spark, tmp_path, small_base):
    meta = gen.ensure_inputs(spark, str(tmp_path), "batch_failheavy", 3, 2000)
    stages = [r["fail_stage"] for r in pq.read_table(meta["expect"]).to_pylist()]
    for stage in ("envelope", "no_family", "body"):
        assert stages.count(stage) > 400
    assert 0.6 < stages.count("") / 2000 * 5 < 1.4  # about 20% intact
    assert 0.005 < meta["non_ascii_share"] < 0.04


# --- the benchmark prints every named metric -----------------------------------

@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_is_printed_with_its_unit(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "0", "--trace", str(trace), "--rows", "400"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in last["metrics"].items()
    }
    assert all(isinstance(v["value"], (int, float)) for v in last["metrics"].values())
