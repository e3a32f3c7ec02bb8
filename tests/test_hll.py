"""HyperLogLog sketch: accuracy, merge law, small-range branch."""

from hnormalise_spark.ops import sketches as SK


def _vals(spark, pairs):
    return spark.createDataFrame(pairs, "g string, v string")


def _est(spark, pairs, p=6):
    sk = SK.hll_sketch(_vals(spark, pairs), ["g"], "v", p=p)
    return {
        r.g: r.est_distinct_x1e3 / 1000.0
        for r in SK.hll_estimate(sk, ["g"], p=p).collect()
    }


def test_accuracy_within_rse_bounds(spark):
    # RSE at m=64 is ~13%; assert within 3 sigma for two group sizes
    pairs = [("a", f"user{i}") for i in range(1000)] + [
        ("b", f"other{i}") for i in range(5000)
    ]
    est = _est(spark, pairs)
    assert abs(est["a"] - 1000) / 1000 < 0.4
    assert abs(est["b"] - 5000) / 5000 < 0.4


def test_small_range_linear_counting(spark):
    # 5 distincts << m: the linear-counting branch must fire and be
    # near-exact (V = 59-64 empty registers)
    pairs = [("g", f"x{i}") for i in range(5)] * 3  # dups don't count
    est = _est(spark, pairs)
    assert abs(est["g"] - 5) < 2


def test_duplicates_do_not_inflate(spark):
    once = _est(spark, [("g", f"u{i}") for i in range(300)])
    thrice = _est(spark, [("g", f"u{i}") for i in range(300)] * 3)
    assert once["g"] == thrice["g"]  # identical registers, not ~equal


def test_merge_law(spark):
    a = [("g", f"a{i}") for i in range(400)]
    b = [("g", f"b{i}") for i in range(400)] + a[:100]
    whole = SK.hll_sketch(_vals(spark, a + b), ["g"], "v")
    merged = SK.hll_merge(
        SK.hll_sketch(_vals(spark, a), ["g"], "v"),
        SK.hll_sketch(_vals(spark, b), ["g"], "v"),
    )
    key = lambda r: (r.g, r.j)  # noqa: E731
    assert sorted(whole.collect(), key=key) == sorted(merged.collect(), key=key)


def test_deterministic_across_partitionings(spark):
    pairs = [("g", f"u{i}") for i in range(500)]
    df = _vals(spark, pairs)
    a = SK.hll_estimate(
        SK.hll_sketch(df.repartition(1), ["g"], "v"), ["g"]
    ).collect()
    b = SK.hll_estimate(
        SK.hll_sketch(df.repartition(17), ["g"], "v"), ["g"]
    ).collect()
    assert a == b


def test_sketch_is_bounded(spark):
    pairs = [("g", f"u{i}") for i in range(5000)]
    sk = SK.hll_sketch(_vals(spark, pairs), ["g"], "v", p=6)
    assert sk.count() <= 64
    assert all(1 <= r.reg <= SK.hll_w_bits(6) + 1 for r in sk.collect())


def test_registers_match_pure_python_replica(spark):
    # third implementation beside the Spark expressions and the
    # DuckDB oracle: hashlib md5 -> 60-bit value -> (register, rho)
    import hashlib

    p, m = 6, 64
    vals = [f"user{i}" for i in range(200)]
    expected = {}
    for v in vals:
        h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
        j = h % m
        w = h >> p
        if w == 0:
            rho = 55
        else:
            rho = (w & -w).bit_length()  # position of lowest set bit
        expected[j] = max(expected.get(j, 0), rho)

    sk = SK.hll_sketch(_vals(spark, [("g", v) for v in vals]), ["g"], "v", p=p)
    got = {r.j: r.reg for r in sk.collect()}
    assert got == expected
