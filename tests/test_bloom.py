"""Bloom filter sketch: pure-Python replica agreement, the
no-false-negative guarantee, boundedness, and partition invariance."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from hnormalise_spark.ops import sketches as SK

M, K = 1024, 4


def _py_positions(value: str, m=M, k=K):
    out = []
    for i in range(k):
        h = hashlib.md5(f"{value}|{i}".encode()).hexdigest()
        out.append(int(h[:15], 16) % m)
    return out


def _py_bloom(values, m=M, k=K):
    dense = [0] * (m // SK.BLOOM_WORD)
    for v in values:
        for p in _py_positions(v, m, k):
            dense[p // SK.BLOOM_WORD] |= 1 << (p % SK.BLOOM_WORD)
    return dense


def _vals_df(spark, values, slices=3):
    return spark.createDataFrame(
        spark.sparkContext.parallelize([(v,) for v in values], slices),
        "v string",
    )


MEMBERS = [f"member-{i}" for i in range(60)]
OTHERS = [f"absent-{i}" for i in range(400)]


def test_bits_match_python_replica(spark):
    got = SK.bloom_bits_array(
        SK.bloom_build(_vals_df(spark, MEMBERS), "v", M, K), M
    )
    assert got == _py_bloom(MEMBERS)


def test_no_false_negatives_and_bounded_fp(spark):
    bits = SK.bloom_bits_array(
        SK.bloom_build(_vals_df(spark, MEMBERS), "v", M, K), M
    )
    probe = _vals_df(spark, MEMBERS + OTHERS).select(
        "v", SK.bloom_contains(bits, F.col("v"), M, K).alias("hit")
    )
    res = {r["v"]: r["hit"] for r in probe.collect()}
    assert all(res[v] for v in MEMBERS)  # never a false negative
    fp = sum(res[v] for v in OTHERS)
    # theoretical fp ~ (1 - e^(-k*n/m))^k ~ 0.04 at n=60, m=1024, k=4;
    # 400 probes -> expect ~16, assert a loose deterministic ceiling
    assert fp / len(OTHERS) < 0.15


def test_duplicates_are_free(spark):
    once = SK.bloom_bits_array(SK.bloom_build(_vals_df(spark, MEMBERS), "v", M, K), M)
    thrice = SK.bloom_bits_array(
        SK.bloom_build(_vals_df(spark, MEMBERS * 3), "v", M, K), M
    )
    assert once == thrice


def test_sketch_row_bound(spark):
    # 5000 values into 1024 bits: sketch stays <= m/32 rows
    big = [f"x{i}" for i in range(5000)]
    assert SK.bloom_build(_vals_df(spark, big), "v", M, K).count() <= M // SK.BLOOM_WORD


def test_partition_invariance(spark):
    one = SK.bloom_bits_array(
        SK.bloom_build(_vals_df(spark, MEMBERS, 1), "v", M, K), M
    )
    many = SK.bloom_bits_array(
        SK.bloom_build(_vals_df(spark, MEMBERS, 7), "v", M, K), M
    )
    assert one == many
