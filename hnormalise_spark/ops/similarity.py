"""Similarity search over an embedding column (array<float>).

* Brute-force cosine scoring — the exact baseline. The score is a JVM
  expression (zip_with + aggregate in double).
* LSH-bucketed ANN — the scale path: sign-bit sketches against
  deterministic md5-derived hyperplanes bucket the corpus; queries
  probe only their bucket. Recall/latency trade via n_planes.
* IVF ANN — centroid lists; a probe scans only the nprobe nearest.

Each index layout has one probe, in the registry query that builds it
(``ops/entry.q_similarity_ann_indexed``, ``q_similarity_ann_multiprobe``
via ``ann_snapshot_probe``, ``q_similarity_ivf``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero vector has no defined cosine — it must score
    # null, not abort the batch (this session runs ANSI, where even
    # double division by zero throws)
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_scores(
    df: DataFrame, query_vec: list[float], vec_col: str = "embedding"
) -> DataFrame:
    """Score every row against a literal query vector (map-side only —
    the query is a literal in the plan, no join, no shuffle)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return df.withColumn("cosine", cosine(F.col(vec_col), q))


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path)


def _plane(i: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — reproducible
    across runs/engines, no RNG state."""
    import hashlib

    vals = []
    for d in range(dim):
        h = hashlib.md5(f"plane{i}:{d}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0x7FFFFFFF) - 1.0)
    return vals


def lsh_sketch(vec: Column, dim: int, n_planes: int = 12) -> Column:
    """Sign-bit sketch: bit i = sign(vec · plane_i) → integer bucket."""
    out = F.lit(0).cast("long")
    for i in range(n_planes):
        p = F.array(*[F.lit(v) for v in _plane(i, dim)])
        out = out + F.when(dot(vec, p) > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


# ---------------------------------------------------------------------------
# persisted ANN index: sketch-partitioned table + pruned probes


def build_ann_index(
    df: DataFrame,
    path: str,
    dim: int,
    n_planes: int = 12,
    vec_col: str = "embedding",
) -> None:
    """Materialize the scale path: write the corpus PARTITIONED BY the
    LSH sketch. A probe then reads exactly its bucket directories —
    partition pruning at the file listing, no scan of the rest (the
    layout an Iceberg identity-partitioned table would give). Build is
    one sketch-keyed shuffle + the partitioned write (the shuffle
    aligns writers with buckets — one file per bucket instead of
    tasks x 2^n_planes slivers)."""
    df.withColumn(
        "sketch", lsh_sketch(F.col(vec_col), dim, n_planes)
    ).repartition("sketch").write.mode("overwrite").partitionBy(
        "sketch"
    ).parquet(path)


def build_ann_index_snapshot(
    df: DataFrame,
    table_path: str,
    snapshot_id: str,
    dim: int,
    n_planes: int = 12,
    vec_col: str = "embedding",
) -> bool:
    """``build_ann_index`` routed through the snapshot table layer
    (table.write_snapshot): the sketch-partitioned data lands under
    ``data/snapshot_id=<id>/sketch=<bucket>/`` and becomes visible only
    at the manifest commit — so index builds are resumable (re-running
    a committed build is a no-op) and INCREMENTAL (each new corpus
    batch is its own committed snapshot; probes read the union).
    Returns False on a resume no-op, True when the snapshot committed."""
    from hnormalise_spark import table as T

    sk = df.withColumn("sketch", lsh_sketch(F.col(vec_col), dim, n_planes))
    return T.write_snapshot(sk, table_path, snapshot_id, partition_by=("sketch",))


def ann_snapshot_probe(
    spark,
    table_path: str,
    query_vec: list[float],
    n_planes: int = 12,
    probe_radius: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Score the query's hamming-ball buckets across ALL committed
    index snapshots. Both partition levels prune at the file listing:
    uncommitted snapshot dirs are never listed (manifest), and
    non-probed sketch dirs are dropped by PartitionFilters — the scan
    touches exactly |ball| directories per committed snapshot."""
    from hnormalise_spark import table as T

    buckets = hamming_ball(query_sketch(query_vec, n_planes), n_planes, probe_radius)
    df = T.read_committed(spark, table_path).filter(F.col("sketch").isin(buckets))
    return cosine_scores(df, query_vec, vec_col).select(
        id_col, "sketch", "cosine"
    )


def query_sketch(query_vec: list[float], n_planes: int = 12) -> int:
    dim = len(query_vec)
    bits = 0
    for i in range(n_planes):
        p = _plane(i, dim)
        if sum(a * b for a, b in zip(query_vec, p)) > 0:
            bits |= 1 << i
    return bits


def hamming_ball(sketch: int, n_planes: int, radius: int = 0) -> list[int]:
    """Bucket ids within hamming distance `radius` of `sketch` —
    multi-probe: each flipped plane admits near-boundary neighbours the
    single bucket misses (recall knob; probes = sum_{r<=radius} C(n,r),
    for ANY radius up to n_planes — an earlier version silently capped
    at 2, understating recall for radius>=3 probes)."""
    from itertools import combinations

    out = {sketch}
    for r in range(1, min(radius, n_planes) + 1):
        for bits in combinations(range(n_planes), r):
            flip = 0
            for b in bits:
                flip |= 1 << b
            out.add(sketch ^ flip)
    return sorted(out)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: centroid lists + partition-pruned probes
#
# The second classic ANN layout next to LSH: every vector is assigned to
# its nearest centroid ("list"), the corpus is persisted partitioned by
# list id, and a probe scans only the nprobe lists whose centroids are
# nearest the query. Centroids are driver-sized BY CONSTRUCTION (nlist ~
# sqrt(N) vectors of dim floats — a few MB even at 10^9 vectors), which
# is how real IVF works too: train k-means on a sample, keep the
# centroid table on the driver / broadcast it.


# Driver-side cap on the centroid table (sqrt of 10^9 vectors is ~32k).
IVF_MAX_CENTROIDS = 65_536


def ivf_centroids(
    df: DataFrame, stride: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Deterministic centroid selection: the vectors whose id is a
    multiple of ``stride`` (a seeded k-means would also work; modular
    selection keeps the choice reproducible across engines so the
    DuckDB oracle can re-derive it in SQL). The collect is the index
    *build* step: nlist = ceil(N/stride) rows, never the corpus, and
    at most ``IVF_MAX_CENTROIDS`` — a stride too small for the corpus
    raises ValueError instead of flooding the driver."""
    rows = (
        df.filter((F.col(id_col) % stride) == 0)
        .select(id_col, vec_col)
        .limit(IVF_MAX_CENTROIDS + 1)
        .collect()
    )
    if len(rows) > IVF_MAX_CENTROIDS:
        raise ValueError(
            f"ivf_centroids: stride {stride} selects more than "
            f"{IVF_MAX_CENTROIDS} centroids; use a larger stride"
        )
    return sorted((int(r[0]), [float(x) for x in r[1]]) for r in rows)


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-side list assignment: argmax cosine against the centroid
    matrix — no join, no shuffle; ties break to the lowest centroid
    id. One Arrow-batched matmul (batch x dim @ dim x nlist) per
    batch, so per-row cost is SIMD flops, not expression-tree walks.

    An earlier form inlined every centroid as a literal array inside
    an aggregate-HOF expression; interpreted evaluation of that tree
    cost ~300 ms/row at nlist=55 and grows linearly with nlist (a
    real index wants nlist in the thousands). The closure-captured
    numpy matrix is pickled to executors once per task — the same
    broadcast shape a real cluster needs. Null/empty vectors get a
    null list_id instead of failing the batch."""
    from pyspark.sql.functions import pandas_udf

    # sorted ascending so np.argmax's first-max rule = lowest id wins ties
    cents = sorted(centroids)
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    mat = np.array([v for _, v in cents], dtype=np.float64)
    # cosine argmax == dot argmax against unit centroids (row norm > 0
    # by construction: centroids are corpus rows); the query-vector
    # norm is a positive per-row constant that cannot change the argmax
    matn = (mat / np.linalg.norm(mat, axis=1, keepdims=True)).T  # dim x nlist

    @pandas_udf("long")
    def _assign(vecs: pd.Series) -> pd.Series:
        ok = vecs.map(lambda v: v is not None and len(v) > 0)
        out = np.full(len(vecs), -1, dtype=np.int64)
        if ok.any():
            v_mat = np.stack(vecs[ok].to_numpy()).astype(np.float64)
            out[ok.to_numpy()] = cids[np.argmax(v_mat @ matn, axis=1)]
        res = pd.Series(out, dtype="Int64")
        res[~ok.to_numpy()] = pd.NA
        return res

    return df.withColumn("list_id", _assign(F.col(vec_col)))


def build_ivf_index(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Write the corpus PARTITIONED BY its ``ivf_assign`` list, so a
    probe reads only its lists' directories. repartition("list_id")
    before the dynamic-partition write: one file per list instead of
    tasks x nlist slivers. No spread_to_cores here — the assign is a
    vectorized matmul (I/O-bound, not compute-bound), so scan splits
    supply all the parallelism it needs and fanning a small input to
    N tasks only pays N Python-worker spin-ups (measured 5.7 s vs
    1.6 s at sf0.1)."""
    ivf_assign(df, centroids, vec_col).repartition("list_id").write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(path)


def ivf_probe_lists(
    query_vec: list[float], centroids: list[tuple[int, list[float]]], nprobe: int
) -> list[int]:
    """The nprobe centroid ids nearest the query (driver-side — the
    centroid table is small by construction). Ties break to the lowest
    centroid id, mirroring the SQL oracle's ORDER BY cos DESC, id."""
    import math

    qn = math.sqrt(sum(v * v for v in query_vec))
    scored = []
    for cid, cvec in centroids:
        cn = math.sqrt(sum(x * x for x in cvec))
        cos = sum(a * b for a, b in zip(query_vec, cvec)) / (qn * cn)
        scored.append((-cos, cid))
    return [cid for _, cid in sorted(scored)[:nprobe]]


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the
    standard storage/ANN-index compression step (scale = max|v|/127,
    q_i = round(v_i/scale)) — plus per-vector reconstruction-error
    accounting so the pipeline can gate on quantization loss.

    Pure JVM higher-order functions over the array (transform /
    aggregate / array_max): no UDF, no shuffle — at 100 TB this is a
    scan-speed projection that runs inside the read stage, and the
    int8 payload is what an IVF/LSH index would persist.

    Cross-engine determinism: quantized codes use floor(x+0.5) (not
    half-even round); per-element absolute reconstruction errors are
    rounded to integer nano-units BEFORE the in-vector sum, so the
    total is integer arithmetic.

    Zero vectors (max|v| = 0) quantize to all-zero codes with scale 0
    and zero error. Returns the input plus (scale_x1e9, qsum,
    err_x1e9) and the codes column ``q`` (array<int> in [-127, 127]).
    """
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = mx / F.lit(127.0)
    q = F.when(mx == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int"),
        )
    )
    df = df.withColumns({"_scale": scale, "q": q})
    err_units = F.transform(
        F.arrays_zip(F.col(vec_col), F.col("q")),
        lambda z: F.floor(
            F.abs(
                z[vec_col].cast("double")
                - z["q"].cast("double") * F.col("_scale")
            )
            * F.lit(1e9)
            + F.lit(0.5)
        ).cast("long"),
    )
    return df.withColumns(
        {
            "scale_x1e9": F.floor(F.col("_scale") * F.lit(1e9) + F.lit(0.5)).cast(
                "long"
            ),
            "qsum": F.aggregate(
                F.col("q"), F.lit(0).cast("long"), lambda a, x: a + x
            ),
            "err_x1e9": F.aggregate(
                err_units, F.lit(0).cast("long"), lambda a, x: a + x
            ),
        }
    ).drop("_scale")


def recall_at_k(
    exact_topk: DataFrame, approx: DataFrame, k: int, id_col: str = "vec_id"
) -> DataFrame:
    """Recall@k of an approximate candidate set against the exact
    top-k — the metric that decides whether an IVF/LSH configuration
    (nprobe, planes, lists) is good enough to ship.

    Scale shape: the exact side is a TakeOrdered result (k rows), so
    it broadcasts onto the candidate set; the candidate set reduces to
    distinct ids map-side; one count aggregate, one row out — the
    corpus itself is touched only by whatever produced the two inputs.

    The denominator is the exact side's ACTUAL row count, not the
    literal k: on a small corpus (or when null-cosine rows were
    filtered out of the exact top-k) the exact list can hold fewer
    than k rows, and dividing by k would understate a perfect
    candidate set as < 1.0. The count is one extra single-row agg over
    an already-k-row frame — free.

    Returns one row: (k, n_hits, recall_x1e6).
    """
    hits = (
        approx.select(id_col)
        .distinct()
        .join(F.broadcast(exact_topk.select(id_col)), id_col)
    )
    n_exact = exact_topk.agg(
        F.greatest(F.count(F.lit(1)), F.lit(1)).alias("_n_exact")
    )
    return (
        hits.agg(F.count(F.lit(1)).alias("n_hits"))
        .crossJoin(F.broadcast(n_exact))
        .select(
            F.lit(k).cast("long").alias("k"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.floor(F.col("n_hits") * F.lit(1e6) / F.col("_n_exact") + F.lit(0.5))
            .cast("long")
            .alias("recall_x1e6"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    lo: float = 0.15,
    hi: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR /
    Contriever data-prep step, Karpukhin et al. 2020): for each anchor
    (query) vector, the top-``k`` corpus vectors whose cosine falls in
    the band [``lo``, ``hi``) — similar enough to be informative
    negatives, below the near-duplicate ceiling that would make them
    FALSE negatives (the classic mining bug the ``hi`` bound exists
    for).

    Scale shape: the anchor set is small by definition → BROADCAST it
    against the corpus; per-pair cosine is the shared Catalyst fold
    (JVM); the band filter runs BEFORE the ranking so the per-anchor
    window only ever sees in-band candidates (the band is what bounds
    the window partition — an unbanded per-anchor rank would pull the
    whole corpus into |anchors| window groups). Ranking is fully
    deterministic: cosine in 1e-6 fixed point DESC, then id ASC.

    Returns (q_id, rank, id, cos_x1e6), rank 1..k per anchor (fewer
    when the band holds fewer candidates).
    """
    from pyspark.sql import Window

    anchors = queries_df.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("_qv")
    )
    pairs = corpus.select(F.col(id_col), F.col(vec_col)).join(F.broadcast(anchors))
    cos = cosine(F.col(vec_col), F.col("_qv"))
    banded = pairs.select(
        "q_id",
        F.col(id_col),
        F.floor(cos * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("cos_x1e6"),
    ).filter(
        (F.col("cos_x1e6") >= F.lit(int(round(lo * 1000000))))
        & (F.col("cos_x1e6") < F.lit(int(round(hi * 1000000))))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_x1e6"), F.col(id_col).asc())
    return (
        banded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
        .select("q_id", F.col("rank").cast("int"), id_col, "cos_x1e6")
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k_const: int = 60,
    topk: int = 20,
    key: str = "vec_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of two retrieval rankings — the standard way to combine a lexical
    list (BM25) with a dense list (embedding cosine), or an exact
    ranking with a quantized/approximate one, without score
    calibration: rrf(d) = sum over lists of 1/(k + rank_list(d)).

    Inputs carry (``key``, ``rank``) with rank 1-based; a document
    missing from one list contributes 0 from it (the full-outer
    join). The score is held in 1e-6 fixed point — floor(1e6/(k+r))
    per list — so both engines sum identical integers and ordering is
    exact, no float drift.

    Scale shape: ranked lists are top-k by construction (thousands of
    rows per query, not corpus-sized), so the fusion join is
    broadcast-sized; the final top-``topk`` is an orderBy+limit that
    compiles to TakeOrderedAndProject. For multi-query fusion, add the
    query id to ``key`` upstream and rank per query — the same join
    shape, hash-partitioned on the query id.

    Returns (key, rank_a, rank_b, rrf_x1e6, fused_rank), fused order
    fully deterministic (score DESC, key ASC).
    """
    from pyspark.sql import Window

    a = ranked_a.select(F.col(key), F.col("rank").alias("_ra"))
    b = ranked_b.select(F.col(key), F.col("rank").alias("_rb"))
    j = a.join(b, key, "full_outer")

    def part(r: Column) -> Column:
        return F.coalesce(
            F.floor(F.lit(1000000.0) / (F.lit(int(k_const)) + r)).cast("long"),
            F.lit(0).cast("long"),
        )

    fused = (
        j.select(
            F.col(key),
            F.col("_ra").cast("int").alias("rank_a"),
            F.col("_rb").cast("int").alias("rank_b"),
            (part(F.col("_ra")) + part(F.col("_rb"))).alias("rrf_x1e6"),
        )
        .orderBy(F.desc("rrf_x1e6"), F.col(key).asc())
        .limit(int(topk))
    )
    w = Window.orderBy(F.desc("rrf_x1e6"), F.col(key).asc())
    return fused.withColumn("fused_rank", F.row_number().over(w).cast("int"))


def knn_classify(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 5,
    test_mod: int = 5,
    max_test: int = 200,
) -> DataFrame:
    """Embedding-space kNN classification eval — the standard probe of
    whether an embedding column carries its labels (a quality gate for
    any learned representation in the table): deterministic id-mod
    split into labeled train / held-out test, exact cosine top-k
    neighbors per test vector, majority vote with fixed tie-breaks.

    Determinism: neighbors rank on the FIXED-POINT cosine (x1e6) then
    train id, so a last-ulp double cannot reorder the neighbor set
    across engines; the vote picks max count then SMALLEST label via
    a struct-max aggregate (map-side combinable — no second window).

    Returns one row per SAMPLED test vector — including ones with no
    defined cosine against any train vector (zero-norm embeddings):
    those emit pred_label NULL with correct = 0, so AVG(correct)
    never silently shrinks its denominator. Accuracy is one AVG
    away, left to the caller so the per-row errors stay inspectable.

    Scale shape: the test side is BOUNDED at ``max_test`` vectors
    (md5 top-S of the held-out split — deterministic on any engine),
    so the pairwise stage is max_test × train: linear in the corpus
    with a fixed constant, the ann_recall shape, never quadratic.
    Classifying an unbounded corpus swaps the candidate stage for an
    LSH/IVF probe (see the module docstring) and keeps the identical
    vote stage.
    """
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(label_col).cast("long").alias("_lbl"),
        F.col(vec_col).alias("_v"),
    )
    from pyspark.sql import Window

    test = (
        base.filter(F.col("_id") % int(test_mod) == 0)
        .orderBy(F.md5(F.col("_id").cast("string")), "_id")
        .limit(int(max_test))
    )
    train = base.filter(F.col("_id") % int(test_mod) != 0)

    t = test.select(
        F.col("_id").alias("t_id"), F.col("_lbl").alias("t_lbl"),
        F.col("_v").alias("t_v"),
    )
    r = train.select(
        F.col("_id").alias("r_id"), F.col("_lbl").alias("r_lbl"),
        F.col("_v").alias("r_v"),
    )
    scored = t.crossJoin(r).select(
        "t_id",
        "t_lbl",
        "r_id",
        "r_lbl",
        F.floor(cosine(F.col("t_v"), F.col("r_v")) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("cos_x1e6"),
    ).filter(F.col("cos_x1e6").isNotNull())
    w = Window.partitionBy("t_id").orderBy(F.desc("cos_x1e6"), F.col("r_id"))
    topk = scored.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= int(k)
    )
    votes = topk.groupBy("t_id", "t_lbl", "r_lbl").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt")
    )
    pick = votes.groupBy("t_id").agg(
        F.max(F.struct(F.col("_cnt"), (-F.col("r_lbl")).alias("_neg"))).alias(
            "_w"
        )
    )
    # left join back onto the SAMPLED test set: a test vector whose
    # cosine is undefined everywhere still gets its row (pred NULL)
    return (
        t.select("t_id", "t_lbl")
        .join(pick, "t_id", "left")
        .select(
            F.col("t_id").alias(id_col),
            F.col("t_lbl").alias(label_col),
            (-F.col("_w._neg")).cast("long").alias("pred_label"),
            F.when(F.col("t_lbl") == -F.col("_w._neg"), 1)
            .otherwise(0)
            .cast("int")
            .alias("correct"),
        )
    )
