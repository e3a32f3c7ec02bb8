"""MinHash-LSH recall/precision eval harness."""

from hnormalise_spark.ops.dedup import minhash_recall_eval


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus(n):
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
             "golf", "hotel", "india", "juliet", "kilo", "lima"]
    return [
        (i, " ".join(words[(i * 7 + j) % 12] + str((i * 13 + j * 5) % 97)
                     for j in range(30)))
        for i in range(n)
    ]


def test_plants_measured_against_exact_truth(spark):
    [r] = minhash_recall_eval(_df(spark, _corpus(40)), sample=20).collect()
    assert r.n_truth > 0            # injected suffix dups are real pairs
    assert r.n_verified <= r.n_truth  # verified = truth ∩ candidates
    assert r.recall_ppm > 500_000     # default banding finds most
    assert 0 < r.precision_ppm <= 1_000_000


def test_strict_banding_loses_recall(spark):
    # one 16-row band needs near-identical signatures: borderline
    # pairs miss, so recall must be <=, and on this bed strictly
    # below, the default 4-band split
    df = _df(spark, _corpus(40))
    d = minhash_recall_eval(df, sample=20).collect()[0]
    s = minhash_recall_eval(df, sample=20, bands=1).collect()[0]
    assert s.n_truth == d.n_truth > 0
    assert s.recall_ppm < d.recall_ppm


def test_no_truth_pairs_convention(spark):
    rows = [(1, "completely unrelated first document text"),
            (2, "another entirely different piece of writing")]
    [r] = minhash_recall_eval(_df(spark, rows), sample=2, mutate_every=5).collect()
    assert r.n_truth == 0
    assert r.recall_ppm == 1_000_000


def test_bed_is_fixed_size(spark):
    # growing the corpus must not grow the eval bed: same sample
    # param, bounded truth join either way
    a = minhash_recall_eval(_df(spark, _corpus(40)), sample=10).collect()[0]
    b = minhash_recall_eval(_df(spark, _corpus(400)), sample=10).collect()[0]
    for r in (a, b):
        # bed ≤ 10 + ceil(10/3) plants -> truth pairs bounded by C(14,2)
        assert r.n_truth <= 91 and r.n_cand <= 91


def test_deterministic_across_partitionings(spark):
    df = _df(spark, _corpus(60))
    a = minhash_recall_eval(df.repartition(1), sample=15).collect()[0]
    b = minhash_recall_eval(df.repartition(11), sample=15).collect()[0]
    assert a == b


def test_eval_releases_its_cache(spark):
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    out = minhash_recall_eval(_df(spark, _corpus(40)), sample=20)
    assert cm.numCachedEntries() <= before
    assert out.columns == ["n_truth", "n_cand", "n_verified", "recall_ppm", "precision_ppm"]
    assert out.count() == 1
