"""IVF ANN index and embedding-cosine near-dup: plan shape + semantics."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hnormalise_spark.ops import dedup as D
from hnormalise_spark.ops import similarity as S

DIM = 16
N = 400


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.range(N).toDF("vec_id")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda d: ((F.col("vec_id") * 31 + d * 17) % 13 - 6).cast("float") / 6.0,
    )
    return df.withColumn("embedding", vec)


def test_ivf_centroids_deterministic_and_small(emb):
    cents = S.ivf_centroids(emb, stride=50)
    assert [cid for cid, _ in cents] == [0, 50, 100, 150, 200, 250, 300, 350]
    assert all(len(v) == DIM for _, v in cents)
    # second call returns the identical table (no RNG state)
    assert cents == S.ivf_centroids(emb, stride=50)


def test_ivf_centroids_cap(emb, monkeypatch):
    monkeypatch.setattr(S, "IVF_MAX_CENTROIDS", 7)
    with pytest.raises(ValueError, match="more than 7 centroids"):
        S.ivf_centroids(emb, stride=50)  # 8 centroids
    monkeypatch.setattr(S, "IVF_MAX_CENTROIDS", 8)
    assert len(S.ivf_centroids(emb, stride=50)) == 8


def test_ivf_assign_is_nearest_centroid(emb):
    cents = S.ivf_centroids(emb, stride=50)
    assigned = S.ivf_assign(emb, cents).select("vec_id", "embedding", "list_id").collect()

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    for row in assigned[:50]:
        v = [float(x) for x in row["embedding"]]
        best = min(cents, key=lambda c: (-cos(v, c[1]), c[0]))[0]
        assert row["list_id"] == best, f"vec {row['vec_id']}"


def test_neardup_join_is_hash_equi_join_not_cartesian(emb):
    pairs = D.embedding_neardup_pairs(emb, DIM, threshold=0.5, n_planes=6)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_neardup_pairs_semantics(emb):
    got = D.embedding_neardup_pairs(emb, DIM, threshold=0.5, n_planes=6).collect()
    assert got, "synthetic corpus should contain same-bucket pairs above 0.5"

    # every reported pair really is above threshold, ordered, same-bucket
    sk = {
        r["vec_id"]: (int(r["_b"]), [float(x) for x in r["embedding"]])
        for r in emb.withColumn(
            "_b", S.lsh_sketch(F.col("embedding"), DIM, 6)
        ).collect()
    }
    for row in got:
        a, b = row["id_a"], row["id_b"]
        assert a < b
        assert sk[a][0] == sk[b][0] == row["bucket"]
        va, vb = sk[a][1], sk[b][1]
        c = sum(x * y for x, y in zip(va, vb)) / (
            math.sqrt(sum(x * x for x in va)) * math.sqrt(sum(y * y for y in vb))
        )
        assert c >= 0.5 - 1e-9
        assert abs(c - row["cosine"]) < 1e-9


def test_neardup_hot_bucket_guard_bounds_pairs(spark):
    """Planted dense cluster: 120 near-identical vectors (one hot LSH
    bucket) + a benign scatter. With max_bucket below the cluster size
    the hot bucket must produce STAR pairs (m-1 per bucket, hub =
    min id), not the m(m-1)/2 all-pairs blowup — and the hub edges keep
    the cluster connected for downstream connected_components."""
    hot_n = 120
    base = spark.range(hot_n).toDF("vec_id")
    # all members ~ the same direction (tiny per-id jitter on one axis)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda d: (
            F.lit(1.0) + F.when(d == 0, F.col("vec_id").cast("double") / 1e6).otherwise(F.lit(0.0))
        ).cast("float"),
    )
    dense = base.withColumn("embedding", vec)
    # scatter rows in other buckets, below the cap
    scatter = (
        spark.range(1000, 1040)
        .toDF("vec_id")
        .withColumn(
            "embedding",
            F.transform(
                F.sequence(F.lit(0), F.lit(DIM - 1)),
                lambda d: ((F.col("vec_id") * 13 + d * 29) % 11 - 5).cast("float") / 5.0,
            ),
        )
    )
    emb2 = dense.unionByName(scatter)

    got = D.embedding_neardup_pairs(
        emb2, DIM, threshold=0.99, n_planes=4, max_bucket=50
    ).collect()
    hot_pairs = [r for r in got if r["id_a"] < hot_n and r["id_b"] < hot_n]
    # star, not quadratic: exactly m-1 edges, every one anchored at the hub
    assert len(hot_pairs) == hot_n - 1
    assert all(r["id_a"] == 0 for r in hot_pairs)
    assert {r["id_b"] for r in hot_pairs} == set(range(1, hot_n))

    # guard off (cap above cluster size) -> exact all-pairs in the bucket
    exact = D.embedding_neardup_pairs(
        emb2, DIM, threshold=0.99, n_planes=4, max_bucket=4096
    ).collect()
    exact_hot = [r for r in exact if r["id_a"] < hot_n and r["id_b"] < hot_n]
    assert len(exact_hot) == hot_n * (hot_n - 1) // 2


def test_recall_at_k_uses_actual_exact_count(spark):
    """A perfect candidate set over a short exact list must report
    recall 1.0 — the denominator is the exact side's row count, not
    the literal k (round-4 advice)."""
    exact = spark.createDataFrame([(1,), (2,), (3,)], "vec_id long")
    approx = spark.createDataFrame([(1,), (2,), (3,), (9,)], "vec_id long")
    row = S.recall_at_k(exact, approx, k=10).collect()[0]
    assert row["k"] == 10
    assert row["n_hits"] == 3
    assert row["recall_x1e6"] == 1_000_000
