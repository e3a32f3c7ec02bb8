"""k-mins sketch: estimator accuracy, partition invariance, Jaccard
identity, and plan shape."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hnormalise_spark.ops import sketches as SK

K = 128
RSE = 1.0 / math.sqrt(K)  # ~8.8% at k=128


def _sets_df(spark, sets: dict[str, range], slices: int = 4):
    rows = [(g, int(v)) for g, rng in sets.items() for v in rng]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), "g string, v long"
    )


def _est(spark, df) -> dict[str, float]:
    sk = SK.kmin_sketch(df, ["g"], "v", k=K)
    est = SK.kmin_estimate(sk, ["g"], k=K)
    return {r["g"]: r["est_distinct_x1e3"] / 1000.0 for r in est.collect()}


def test_estimate_within_error_bound(spark):
    sets = {"small": range(100), "mid": range(1000, 6000)}
    est = _est(spark, _sets_df(spark, sets))
    for g, rng in sets.items():
        n = len(rng)
        # 4 sigma of the k-mins RSE — deterministic data, so this is
        # a fixed assertion, not a flaky statistical one
        assert abs(est[g] - n) <= 4 * RSE * n, (g, est[g], n)


def test_duplicates_do_not_change_sketch(spark):
    base = _sets_df(spark, {"a": range(500)})
    dup = base.unionByName(base).unionByName(base)
    sk1 = {tuple(r) for r in SK.kmin_sketch(base, ["g"], "v", k=K).collect()}
    sk3 = {tuple(r) for r in SK.kmin_sketch(dup, ["g"], "v", k=K).collect()}
    assert sk1 == sk3


def test_partition_invariance(spark):
    sets = {"x": range(2000)}
    one = {tuple(r) for r in SK.kmin_sketch(
        _sets_df(spark, sets, slices=1), ["g"], "v", k=K).collect()}
    many = {tuple(r) for r in SK.kmin_sketch(
        _sets_df(spark, sets, slices=13), ["g"], "v", k=K).collect()}
    assert one == many


def test_jaccard_identical_sets_match_exactly(spark):
    df = _sets_df(spark, {"a": range(400), "b": range(400)})
    sk = SK.kmin_sketch(df, ["g"], "v", k=K)
    row = SK.kmin_jaccard(sk, "g", k=K).collect()[0]
    assert row["n_match"] == K
    assert row["jaccard_x1e6"] == SK.JACCARD_SCALE


def test_jaccard_planted_overlap(spark):
    # |A n B| = 100, |A u B| = 300 -> J = 1/3
    df = _sets_df(spark, {"a": range(0, 200), "b": range(100, 400)})
    sk = SK.kmin_sketch(df, ["g"], "v", k=K)
    row = SK.kmin_jaccard(sk, "g", k=K).collect()[0]
    j = row["n_match"] / K
    sigma = math.sqrt((1 / 3) * (2 / 3) / K)  # binomial sd of the match rate
    assert abs(j - 1 / 3) <= 4 * sigma, j


def test_disjoint_sets_near_zero_jaccard(spark):
    df = _sets_df(spark, {"a": range(0, 500), "b": range(10_000, 10_500)})
    sk = SK.kmin_sketch(df, ["g"], "v", k=K)
    row = SK.kmin_jaccard(sk, "g", k=K).collect()[0]
    assert row["n_match"] <= 3  # P(spurious match) per stream ~ 1/1000


def test_k_validation():
    with pytest.raises(ValueError):
        SK.kmin_sketch(None, ["g"], "v", k=4)


def test_sketch_plan_has_partial_aggregation(spark):
    """The min-aggregate must compact map-side: two HashAggregates
    around ONE Exchange, so the shuffle carries at most
    partitions x groups x k rows no matter the input size."""
    df = _sets_df(spark, {"a": range(100)}, slices=4)
    sk = SK.kmin_sketch(df, ["g"], "v", k=K)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") == 2, plan


# --- count-min --------------------------------------------------------------


def _freq_df(spark, freqs: dict[str, int], slices=4):
    rows = [(t,) for t, n in freqs.items() for _ in range(n)]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), "term string"
    )


def test_cm_never_underestimates(spark):
    freqs = {f"w{j}": 1 + (j % 17) for j in range(400)}
    df = _freq_df(spark, freqs)
    sk = SK.cm_sketch(df, "term", width=256, depth=4)
    probes = spark.createDataFrame([(t, n) for t, n in freqs.items()],
                                   "term string, n_true long")
    got = SK.cm_lookup(sk, probes, "term", width=256, depth=4).collect()
    assert len(got) == 400
    for r in got:
        assert r["n_est"] >= r["n_true"], (r["term"], r["n_est"], r["n_true"])


def test_cm_error_bound(spark):
    # CM guarantee: est <= true + eps*N with prob >= 1 - e^-depth,
    # eps = e/width. Deterministic data -> fixed assertion; allow the
    # full bound rather than the expectation.
    freqs = {f"w{j}": 1 + (j % 17) for j in range(400)}
    n_total = sum(freqs.values())
    width, depth = 256, 4
    df = _freq_df(spark, freqs)
    sk = SK.cm_sketch(df, "term", width=width, depth=depth)
    probes = spark.createDataFrame([(t, n) for t, n in freqs.items()],
                                   "term string, n_true long")
    got = SK.cm_lookup(sk, probes, "term", width=width, depth=depth).collect()
    bound = math.e / width * n_total
    bad = [r for r in got if r["n_est"] - r["n_true"] > bound]
    # e^-4 ~ 1.8% of probes may exceed; give deterministic headroom
    assert len(bad) <= max(3, int(0.05 * len(got))), len(bad)


def test_cm_validation():
    with pytest.raises(ValueError):
        SK.cm_sketch(None, "term", width=1, depth=0)
