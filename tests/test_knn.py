"""Embedding kNN classification eval."""

from hnormalise_spark.ops.similarity import knn_classify


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )


def _clustered(n, dim=8):
    # two well-separated clusters: label = axis of the dominant block
    rows = []
    for i in range(n):
        lbl = i % 2
        v = [0.05 * ((i * 7 + j) % 5) for j in range(dim)]
        for j in range(dim // 2):
            v[j + (dim // 2) * lbl] += 2.0
        rows.append((i, v, lbl))
    return rows


def test_separable_clusters_classify_correctly(spark):
    out = knn_classify(_emb(spark, _clustered(60)), k=5, test_mod=5).collect()
    assert out
    assert all(r.correct == 1 for r in out)
    assert all(r.pred_label == r.label for r in out)


def test_split_is_disjoint_and_test_only(spark):
    out = knn_classify(_emb(spark, _clustered(50)), k=3, test_mod=5).collect()
    ids = {r.vec_id for r in out}
    assert ids == {i for i in range(50) if i % 5 == 0}


def test_tie_breaks_to_smallest_label(spark):
    # one test vector equidistant from one neighbor of label 3 and one
    # of label 1 with k=2: counts tie 1-1 -> smallest label wins
    rows = [
        (0, [1.0, 0.0], 9),   # test (true label irrelevant to the vote)
        (1, [1.0, 0.1], 3),
        (2, [1.0, -0.1], 1),
    ]
    [r] = knn_classify(_emb(spark, rows), k=2, test_mod=5).collect()
    assert r.pred_label == 1


def test_deterministic_across_partitionings(spark):
    df = _emb(spark, _clustered(80))
    a = knn_classify(df.repartition(1), k=5).collect()
    b = knn_classify(df.repartition(13), k=5).collect()
    key = lambda r: r.vec_id  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def test_zero_norm_test_vector_keeps_its_row(spark):
    rows = _clustered(20) + [(100, [0.0] * 8, 7)]  # id 100 -> test split
    out = {r.vec_id: r for r in knn_classify(_emb(spark, rows), k=3).collect()}
    assert 100 in out  # the undefined-cosine row is NOT dropped
    assert out[100].pred_label is None
    assert out[100].correct == 0


def test_oracle_zero_norm_row_yields_null_prediction():
    # DuckDB only: the oracle's cosine divides by NULLIF(norm product, 0),
    # so a zero vector has no defined neighbour, as in Spark.
    import duckdb

    from hnormalise_spark.ops.entry import EMB_DIM, _oracle_knn_classify

    rows = [(i, v * (EMB_DIM // 8), lbl) for i, v, lbl in _clustered(20)]
    rows += [(100, [0.0] * EMB_DIM, 7), (101, [0.0] * EMB_DIM, 7)]  # test, train
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[], label BIGINT)")
    con.executemany("INSERT INTO embeddings VALUES (?, ?, ?)", rows)
    out = {r[0]: r[1:] for r in con.sql(_oracle_knn_classify()).fetchall()}
    assert out[100] == (7, None, 0)
    assert {i for i in out if i != 100} == {i for i in range(20) if i % 5 == 0}
    assert all(out[i][1] == out[i][0] for i in out if i != 100)
