"""Driver-contract queries for the training-data operators (SURVEY §2.7
plus the dedup/similarity/multimodal/text-analysis suite).

Each ``q_*`` runs the REAL library operator on the driver's parquet
tables; the paired ``_oracle_*`` recomputes the same result in pure
DuckDB SQL (md5-based hashing everywhere so both engines agree bit for
bit). Floating-point outputs are compared as ``floor(x*10^k + 0.5)``
fixed-point integers — identical doubles floor identically, whereas
HALF_UP rounding differs between engines.

``REGISTRY`` at the bottom is the one table of these pairs: each row
maps a driver query name to ``(q_*, _oracle_*)``, so a query cannot be
registered without its oracle. Several rows may share one oracle (the
indexed and plain forms of a search return the same rows). The oracle
functions are stored, not called: ``__spark_entry__.oracle_sql()``
renders the SQL when the driver asks for it. ``__spark_entry__`` merges
this table with its own parse-contract rows.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hnormalise_spark.session import spread_to_cores

_HEXD = "0123456789abcdef"


def _hexv(s: str, pos: int) -> str:
    """DuckDB expr: value of hex digit at 1-based `pos` of string `s`."""
    return f"(strpos('{_HEXD}', substr({s}, {pos}, 1)) - 1)"


# ---------------------------------------------------------------------------
# text analysis (ops.textops)


def q_text_analyze(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID, quality scoring, token counting, fingerprinting —
    one JVM-expression pass over the documents table."""
    from hnormalise_spark.ops import textops as T

    df = spread_to_cores(spark.read.parquet(f"{sf}/documents.parquet"))
    t = F.col("text")
    cc = T.char_class_counts(t)
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        T.token_count(t).cast("long").alias("n_tokens"),
        T.bpe_ish_token_count(t).cast("long").alias("n_bpe_tokens"),
        cc["n_alpha"].cast("long").alias("n_alpha"),
        cc["n_digit"].cast("long").alias("n_digit"),
        cc["n_punct"].cast("long").alias("n_punct"),
        F.floor(T.quality_score(t) * F.lit(10000.0) + F.lit(0.5)).cast("long").alias("quality_x1e4"),
        T.lang_id(t).alias("lang_pred"),
        T.fingerprint(t).alias("fingerprint"),
    )


def _lang_pred_sql() -> tuple[str, str]:
    """(hit_cols, lang_cases) SQL fragments replaying textops.lang_id
    in DuckDB — shared by the text_analyze and lang_confusion
    oracles."""
    from hnormalise_spark.ops.textops import LANG_MARKERS

    hits = {
        lang: " + ".join(
            f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in words
        )
        for lang, words in LANG_MARKERS.items()
    }
    langs = list(hits)
    lang_cases = " ".join(
        f"WHEN h_{lang} >= 2 AND "
        + " AND ".join(f"h_{lang} >= h_{o}" for o in langs if o != lang)
        + f" THEN '{lang}'"
        for lang in langs
    )
    hit_cols = ", ".join(f"{expr} AS h_{lang}" for lang, expr in hits.items())
    return hit_cols, lang_cases


def _oracle_text_analyze() -> str:
    hit_cols, lang_cases = _lang_pred_sql()
    return f"""
    WITH base AS (
      SELECT doc_id, text,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
             length(regexp_replace(text, '[A-Za-z0-9 \t\n]', '', 'g')) AS n_punct,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
             greatest(length(text), 1) AS n,
             {hit_cols}
      FROM documents)
    SELECT doc_id, n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\sA-Za-z\\d]')) AS n_bpe_tokens,
           n_alpha, n_digit, n_punct,
           floor(((n_alpha / n) * 0.6
                  + CASE WHEN n_tokens >= 5 AND n_tokens <= 10000 THEN 1.0 ELSE 0.3 END * 0.3
                  + (1.0 - least((n_punct / n) * 4, 1.0)) * 0.1) * 10000.0 + 0.5)::BIGINT AS quality_x1e4,
           CASE {lang_cases} ELSE 'und' END AS lang_pred,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM base
    """


# ---------------------------------------------------------------------------
# exact dedup


_DUP_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, '  ' || upper(text) FROM documents WHERE doc_id % 7 = 0
"""


def _docs_with_exact_dups(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    dups = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper(F.col("text"))).alias("text"),
    )
    return docs.unionByName(dups)


def q_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup on the md5 fingerprint of whitespace/case-normalised
    text; injected dups (+100000 ids, re-cased, re-spaced) must land in
    their source's group."""
    from hnormalise_spark.ops import dedup as D

    out = D.exact_dedup(_docs_with_exact_dups(spark, sf))
    return out.select(
        "doc_id",
        "fingerprint",
        F.col("group_size").cast("long").alias("group_size"),
        F.col("keeper_id").cast("long").alias("keeper_id"),
        F.col("is_dup").cast("int").alias("is_dup"),
    )


def _oracle_exact_dedup() -> str:
    return f"""
    WITH all_docs AS ({_DUP_SQL}),
    f AS (SELECT doc_id,
                 md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
          FROM all_docs)
    SELECT doc_id, fingerprint,
           count(*) OVER (PARTITION BY fingerprint) AS group_size,
           min(doc_id) OVER (PARTITION BY fingerprint) AS keeper_id,
           CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY fingerprint)
                THEN 1 ELSE 0 END AS is_dup
    FROM f
    """


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup


_NEARDUP_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text || ' qq ww ee rr tt' FROM documents WHERE doc_id % 11 = 0
"""


def q_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """shingle → MinHash → LSH band bucket join → Jaccard verify.
    Injected near-dups (small suffix appended) must pair with their
    source; the oracle replays the identical md5-derived LSH."""
    from hnormalise_spark.ops import dedup as D

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    mut = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq ww ee rr tt")).alias("text"),
    )
    pairs = D.minhash_lsh_dedup(
        docs.unionByName(mut), n=5, k=16, bands=4, threshold=0.5
    )
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.floor(F.col("jaccard") * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("jacc_x1e6"),
    )


def _oracle_minhash_lsh() -> str:
    from hnormalise_spark.ops.dedup import MINHASH_P, minhash_params

    k, bands, rows = 16, 4, 4
    params = minhash_params(k)
    # 28-bit base hash: first 7 hex chars of md5, digit-by-digit
    # (md5(x) inlined per digit — the oracle only runs at sf0.01)
    hex7 = " + ".join(
        f"{16 ** (6 - j)} * (strpos('0123456789abcdef', substr(md5(x), {j + 1}, 1)) - 1)"
        for j in range(7)
    )
    sig = ", ".join(
        f"list_min(list_transform(hv, h -> ({a}::BIGINT * h + {b}) % {MINHASH_P})) AS g{i}"
        for i, (a, b) in enumerate(params)
    )
    band_list = ", ".join(
        f"md5('b{b}:' || "
        + " || '|' || ".join(f"g{b * rows + r}::VARCHAR" for r in range(rows))
        + ")"
        for b in range(bands)
    )
    return f"""
    WITH all_docs AS ({_NEARDUP_SQL}),
    norm AS (SELECT doc_id AS id,
                    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
             FROM all_docs),
    sh AS (SELECT id,
                  CASE WHEN length(t) < 5 THEN [t]
                       ELSE list_distinct(list_transform(range(1, length(t) - 3),
                                                         i -> substr(t, i, 5))) END AS s
           FROM norm),
    hv AS (SELECT id, s, list_transform(s, x -> {hex7}) AS hv FROM sh),
    sig AS (SELECT id, s, {sig} FROM hv),
    band AS (SELECT id, s, unnest([{band_list}]) AS bk FROM sig),
    pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                     len(list_intersect(a.s, b.s)) AS inter,
                     len(a.s) AS la, len(b.s) AS lb
              FROM band a JOIN band b ON a.bk = b.bk AND a.id < b.id)
    SELECT id_a, id_b,
           floor(inter / (la + lb - inter) * 1000000.0 + 0.5)::BIGINT AS jacc_x1e6
    FROM pairs WHERE inter / (la + lb - inter) >= 0.5
    """


# ---------------------------------------------------------------------------
# SimHash


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """60-bit SimHash sketch per document + bucket stats — the value
    itself is oracle-checked bit for bit."""
    from hnormalise_spark.ops import dedup as D

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    out = D.simhash_dedup(docs, n=4)
    return out.select(
        "doc_id",
        F.col("simhash").alias("simhash"),
        F.col("bucket_size").cast("long").alias("bucket_size"),
        F.col("is_near_dup").cast("int").alias("is_near_dup"),
    )


def _oracle_simhash() -> str:
    from hnormalise_spark.ops.dedup import SIMHASH_BITS

    votes = []
    for j in range(SIMHASH_BITS):
        pos = 15 - j // 4
        bit = j % 4
        votes.append(
            f"list_sum(list_transform(hl, h -> CASE WHEN ({_hexv('h', pos)} >> {bit}) & 1 = 1"
            f" THEN 1 ELSE -1 END)) AS v{j}"
        )
    sim = " + ".join(
        f"CASE WHEN v{j} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH norm AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
                  FROM documents),
    sh AS (SELECT doc_id,
                  CASE WHEN length(t) < 4 THEN [t]
                       ELSE list_distinct(list_transform(range(1, length(t) - 2),
                                                         i -> substr(t, i, 4))) END AS s
           FROM norm),
    hl AS (SELECT doc_id, list_transform(s, x -> substr(md5(x), 1, 15)) AS hl FROM sh),
    v AS (SELECT doc_id, {', '.join(votes)} FROM hl),
    sim AS (SELECT doc_id, {sim} AS simhash FROM v)
    SELECT doc_id, simhash,
           count(*) OVER (PARTITION BY simhash) AS bucket_size,
           CASE WHEN count(*) OVER (PARTITION BY simhash) > 1 THEN 1 ELSE 0 END AS is_near_dup
    FROM sim
    """


# ---------------------------------------------------------------------------
# word n-gram Jaccard


def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Word-trigram Jaccard between each doc and a suffixed mutation —
    the verify step of the near-dup pipeline, isolated."""
    from hnormalise_spark.ops import dedup as D

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    # materialize each gram set once — size + intersect + union would
    # otherwise re-build them per reference (interpreted HOF eval)
    docs = docs.withColumns(
        {
            "_ga": D.word_ngrams(F.col("text"), 3),
            "_gb": D.word_ngrams(F.concat(F.col("text"), F.lit(" zz yy xx ww")), 3),
        }
    )
    ga, gb = F.col("_ga"), F.col("_gb")
    return docs.select(
        "doc_id",
        F.size(ga).cast("long").alias("n_grams_a"),
        F.size(gb).cast("long").alias("n_grams_b"),
        F.floor(D.jaccard(ga, gb) * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("jacc_x1e6"),
    )


def _oracle_ngram_jaccard() -> str:
    def grams(src: str, out: str) -> str:
        return (
            f"CASE WHEN len({src}) < 3 THEN [array_to_string({src}, ' ')] "
            f"ELSE list_distinct(list_transform(range(0, len({src}) - 2), "
            f"i -> {src}[i+1] || ' ' || {src}[i+2] || ' ' || {src}[i+3])) END AS {out}"
        )

    return f"""
    WITH w AS (SELECT doc_id,
                 string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS wa,
                 string_split(lower(trim(regexp_replace(text || ' zz yy xx ww', '\\s+', ' ', 'g'))), ' ') AS wb
               FROM documents),
    g AS (SELECT doc_id, {grams('wa', 'ga')}, {grams('wb', 'gb')} FROM w)
    SELECT doc_id, len(ga) AS n_grams_a, len(gb) AS n_grams_b,
           floor(len(list_intersect(ga, gb))
                 / (len(ga) + len(gb) - len(list_intersect(ga, gb)))
                 * 1000000.0 + 0.5)::BIGINT AS jacc_x1e6
    FROM g
    """


# ---------------------------------------------------------------------------
# similarity search (embeddings: vec_id, embedding float[64], label)

EMB_DIM = 64
QVEC = [((i * 37) % 19 - 9) / 10.0 for i in range(EMB_DIM)]
_QNORM = math.sqrt(sum(v * v for v in QVEC))


def _qvec_sql() -> str:
    return "[" + ", ".join(repr(v) for v in QVEC) + "]::DOUBLE[]"


def q_similarity_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-50 against a literal query vector
    (map-side scoring, TakeOrderedAndProject top-k — no shuffle).
    Ordering ties broken on the fixed-point score + vec_id so both
    engines select the identical row set."""
    from hnormalise_spark.ops import similarity as S

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    scored = S.cosine_scores(emb, QVEC)
    sel = scored.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.floor(F.col("cosine") * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("cos_x1e6"),
        F.floor(S.norm(F.col("embedding")) * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("l2_x1e6"),
        F.size("embedding").cast("long").alias("dim"),
    )
    return sel.orderBy(F.desc("cos_x1e6"), "vec_id").limit(50)


def _oracle_similarity_topk() -> str:
    return f"""
    WITH s AS (SELECT vec_id,
                 list_sum(list_transform(range(1, {EMB_DIM + 1}),
                          i -> embedding[i]::DOUBLE * ({_qvec_sql()})[i])) AS dot,
                 sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
               FROM embeddings)
    SELECT vec_id,
           floor(dot / (nrm * {_QNORM!r}) * 1000000.0 + 0.5)::BIGINT AS cos_x1e6,
           floor(nrm * 1000000.0 + 0.5)::BIGINT AS l2_x1e6,
           {EMB_DIM}::BIGINT AS dim
    FROM s
    ORDER BY cos_x1e6 DESC, vec_id LIMIT 50
    """


def _planes(n_planes: int, dim: int) -> list[list[float]]:
    from hnormalise_spark.ops.similarity import _plane

    return [_plane(i, dim) for i in range(n_planes)]


ANN_PLANES = 4


def q_similarity_ann(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed ANN: sign-bit sketch vs deterministic hyperplanes;
    only the query's bucket is scored (the scale path — with the table
    written bucketed by sketch this is a single-bucket scan)."""
    from hnormalise_spark.ops import similarity as S

    planes = _planes(ANN_PLANES, EMB_DIM)
    q_sketch = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(QVEC, p)) > 0:
            q_sketch |= 1 << i
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    sketched = emb.withColumn("_sketch", S.lsh_sketch(F.col("embedding"), EMB_DIM, ANN_PLANES))
    bucket = sketched.filter(F.col("_sketch") == q_sketch)
    scored = S.cosine_scores(bucket, QVEC)
    return scored.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("_sketch").cast("long").alias("sketch"),
        F.floor(F.col("cosine") * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("cos_x1e6"),
    )


def _oracle_similarity_ann() -> str:
    planes = _planes(ANN_PLANES, EMB_DIM)
    q_sketch = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(QVEC, p)) > 0:
            q_sketch |= 1 << i
    plane_dots = [
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> embedding[i]::DOUBLE * "
        f"([{', '.join(repr(v) for v in p)}]::DOUBLE[])[i]))"
        for p in planes
    ]
    sketch = " + ".join(
        f"CASE WHEN {d} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END"
        for i, d in enumerate(plane_dots)
    )
    return f"""
    WITH s AS (SELECT vec_id, embedding, {sketch} AS sketch FROM embeddings),
    b AS (SELECT vec_id, sketch,
            list_sum(list_transform(range(1, {EMB_DIM + 1}),
                     i -> embedding[i]::DOUBLE * ({_qvec_sql()})[i])) AS dot,
            sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
          FROM s WHERE sketch = {q_sketch})
    SELECT vec_id, sketch,
           floor(dot / (nrm * {_QNORM!r}) * 1000000.0 + 0.5)::BIGINT AS cos_x1e6
    FROM b
    """


def _index_dir(kind: str, sf: str) -> str:
    """The /tmp directory caching a ``similarity``-built index of
    dataset ``sf``. The name carries a short hash of the dataset's real
    path and of ``similarity``'s source (every index builder lives
    there), so another dataset with the same basename, or a checkout
    whose builders differ, gets its own directory instead of reading a
    stale index. An edit to ``similarity`` leaves the old directory
    behind in /tmp."""
    import inspect
    import os

    from hnormalise_spark.ops import similarity

    real = os.path.realpath(sf)
    key = hashlib.sha256((real + inspect.getsource(similarity)).encode()).hexdigest()
    return f"/tmp/hnorm_{kind}_{os.path.basename(real)}_{key[:12]}"


def q_similarity_ann_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """The PERSISTED ANN scale path: the corpus is written once
    partitioned by sketch (similarity.build_ann_index) and the probe is
    a partition-PRUNED scan of the query's bucket — the plan lists the
    bucket under PartitionFilters and never touches the others. Same
    result set as similarity_ann (radius-0 probe), so the same
    independent oracle re-derives it."""
    import os

    from hnormalise_spark.ops import similarity as S

    idx = _index_dir(f"ann_index_{ANN_PLANES}p", sf)
    if not os.path.exists(os.path.join(idx, "_SUCCESS")):
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        S.build_ann_index(emb, idx, EMB_DIM, ANN_PLANES)
    buckets = S.hamming_ball(S.query_sketch(QVEC, ANN_PLANES), ANN_PLANES, 0)
    df = spark.read.parquet(idx).filter(F.col("sketch").isin(buckets))
    scored = S.cosine_scores(df, QVEC)
    return scored.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("sketch").cast("long").alias("sketch"),
        F.floor(F.col("cosine") * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("cos_x1e6"),
    )


def q_similarity_ann_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-probe ANN over the SNAPSHOT-COMMITTED index: the corpus is
    committed through table.write_snapshot (manifest → only committed
    snapshots are listed), and the radius-1 hamming ball (1 + n_planes
    buckets) is scored — the recall knob the single-bucket probe lacks.
    Both partition levels prune at file listing; the oracle re-derives
    the identical bucket set and scores from the raw table."""
    from hnormalise_spark.ops import similarity as S

    idx = _index_dir(f"ann_snapidx_{ANN_PLANES}p", sf)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    S.build_ann_index_snapshot(emb, idx, "base", EMB_DIM, ANN_PLANES)
    probe = S.ann_snapshot_probe(spark, idx, QVEC, ANN_PLANES, probe_radius=1)
    return probe.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("sketch").cast("long").alias("sketch"),
        F.floor(F.col("cosine") * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("cos_x1e6"),
    )


def _oracle_similarity_ann_multiprobe() -> str:
    from hnormalise_spark.ops.similarity import hamming_ball, query_sketch

    planes = _planes(ANN_PLANES, EMB_DIM)
    buckets = hamming_ball(query_sketch(QVEC, ANN_PLANES), ANN_PLANES, 1)
    plane_dots = [
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> embedding[i]::DOUBLE * "
        f"([{', '.join(repr(v) for v in p)}]::DOUBLE[])[i]))"
        for p in planes
    ]
    sketch = " + ".join(
        f"CASE WHEN {d} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END"
        for i, d in enumerate(plane_dots)
    )
    return f"""
    WITH s AS (SELECT vec_id, embedding, {sketch} AS sketch FROM embeddings),
    b AS (SELECT vec_id, sketch,
            list_sum(list_transform(range(1, {EMB_DIM + 1}),
                     i -> embedding[i]::DOUBLE * ({_qvec_sql()})[i])) AS dot,
            sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
          FROM s WHERE sketch IN ({', '.join(str(b) for b in buckets)}))
    SELECT vec_id, sketch,
           floor(dot / (nrm * {_QNORM!r}) * 1000000.0 + 0.5)::BIGINT AS cos_x1e6
    FROM b
    """


NEARDUP_PLANES = 4
NEARDUP_THRESHOLD = 0.35


def q_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup: LSH sign-sketch bucket equi-join
    generates candidate pairs (hash join on the bucket key, never
    all-pairs), exact cosine verifies them against the threshold —
    the embedding-space sibling of minhash_lsh."""
    from hnormalise_spark.ops import dedup as D

    emb = spread_to_cores(spark.read.parquet(f"{sf}/embeddings.parquet"))
    pairs = D.embedding_neardup_pairs(
        emb, EMB_DIM, threshold=NEARDUP_THRESHOLD, n_planes=NEARDUP_PLANES
    )
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("bucket").cast("long").alias("bucket"),
        F.floor(F.col("cosine") * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("cos_x1e6"),
    )


def _neardup_pairs_cte() -> str:
    """The shared s/p CTE text re-deriving the LSH-bucketed cosine
    pairs in SQL — used by both the neardup oracle and the cluster
    oracle (which takes the transitive closure of these pairs)."""
    planes = _planes(NEARDUP_PLANES, EMB_DIM)
    plane_dots = [
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> embedding[i]::DOUBLE * "
        f"([{', '.join(repr(v) for v in p)}]::DOUBLE[])[i]))"
        for p in planes
    ]
    sketch = " + ".join(
        f"CASE WHEN {d} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END"
        for i, d in enumerate(plane_dots)
    )
    pair_dot = (
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
        "i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))"
    )
    nrm = "sqrt(list_sum(list_transform({}.embedding, x -> x::DOUBLE * x::DOUBLE)))"
    return f"""s AS (SELECT vec_id, embedding, {sketch} AS bucket FROM embeddings),
    p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket AS bucket,
            {pair_dot} / ({nrm.format('a')} * {nrm.format('b')}) AS cos
          FROM s a JOIN s b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)"""


def _oracle_embedding_neardup() -> str:
    return f"""
    WITH {_neardup_pairs_cte()}
    SELECT id_a, id_b, bucket,
           floor(cos * 1000000.0 + 0.5)::BIGINT AS cos_x1e6
    FROM p WHERE cos >= {NEARDUP_THRESHOLD!r}
    """


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs → connected components → full-corpus cluster
    assignment: the decision step of a dedup pipeline (a~b, b~c ⇒
    keep one of {a,b,c}). Min-label propagation, one id-keyed
    join+min-aggregate per round, converging in O(diameter) rounds;
    ``is_canonical`` marks the kept row per cluster."""
    from hnormalise_spark.ops import dedup as D

    emb = spread_to_cores(spark.read.parquet(f"{sf}/embeddings.parquet"))
    pairs = D.embedding_neardup_pairs(
        emb, EMB_DIM, threshold=NEARDUP_THRESHOLD, n_planes=NEARDUP_PLANES
    )
    out = D.assign_clusters(emb.select("vec_id"), pairs, id_col="vec_id")
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("is_canonical").alias("is_canonical"),
    )


def _oracle_dedup_clusters() -> str:
    """Transitive closure of the near-dup pairs via recursive CTE,
    cluster id = min reachable node — singletons cluster to
    themselves (LEFT JOIN + coalesce)."""
    return f"""
    WITH RECURSIVE {_neardup_pairs_cte()},
    e AS (SELECT id_a AS src, id_b AS dst FROM p WHERE cos >= {NEARDUP_THRESHOLD!r}
          UNION SELECT id_b, id_a FROM p WHERE cos >= {NEARDUP_THRESHOLD!r}),
    reach AS (
      SELECT src AS node, dst AS r FROM e
      UNION
      SELECT reach.node, e.dst FROM reach JOIN e ON reach.r = e.src
    ),
    lab AS (SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node)
    SELECT v.vec_id,
           coalesce(lab.cluster_id, v.vec_id) AS cluster_id,
           (coalesce(lab.cluster_id, v.vec_id) = v.vec_id) AS is_canonical
    FROM embeddings v LEFT JOIN lab ON v.vec_id = lab.node
    """


IVF_STRIDE = 37
IVF_NPROBE = 2


def q_similarity_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN: deterministic centroids (vec_id % stride == 0), every
    vector map-side-assigned to its nearest list, corpus persisted
    PARTITIONED BY list_id, probe scans only the nprobe nearest lists
    (partition-pruned) and scores them exactly. The second classic ANN
    layout next to the LSH index."""
    import os

    from hnormalise_spark.ops import similarity as S

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cents = S.ivf_centroids(emb, IVF_STRIDE)
    idx = _index_dir(f"ivf_index_{IVF_STRIDE}", sf)
    if not os.path.exists(os.path.join(idx, "_SUCCESS")):
        S.build_ivf_index(emb, cents, idx)
    lists = S.ivf_probe_lists(QVEC, cents, IVF_NPROBE)
    df = spark.read.parquet(idx).filter(F.col("list_id").isin(lists))
    scored = S.cosine_scores(df, QVEC)
    return scored.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("list_id").cast("long").alias("list_id"),
        F.floor(F.col("cosine") * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("cos_x1e6"),
    )


def _oracle_similarity_ivf() -> str:
    """Re-derives centroid selection, nearest-centroid assignment, the
    nprobe probe-list choice, and the in-list exact scores entirely in
    SQL — no value is smuggled from the Spark side."""
    cdot = (
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
        "i -> e.embedding[i]::DOUBLE * c.c_emb[i]::DOUBLE))"
    )
    qcdot = (
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
        f"i -> ({_qvec_sql()})[i] * c_emb[i]::DOUBLE))"
    )
    qdot = (
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
        f"i -> embedding[i]::DOUBLE * ({_qvec_sql()})[i]))"
    )
    return f"""
    WITH c AS (SELECT vec_id AS c_id, embedding AS c_emb,
                      sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS c_nrm
               FROM embeddings WHERE vec_id % {IVF_STRIDE} = 0),
    scored AS (SELECT e.vec_id, c.c_id,
                 {cdot} / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) * c.c_nrm) AS cos
               FROM embeddings e CROSS JOIN c),
    asg AS (SELECT vec_id, c_id AS list_id FROM (
              SELECT vec_id, c_id,
                     row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_id ASC) AS rn
              FROM scored) WHERE rn = 1),
    pl AS (SELECT c_id FROM (
             SELECT c_id, {qcdot} / ({_QNORM!r} * c_nrm) AS qcos FROM c)
           ORDER BY qcos DESC, c_id ASC LIMIT {IVF_NPROBE})
    SELECT e.vec_id, a.list_id,
           floor({qdot} / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) * {_QNORM!r})
                 * 1000000.0 + 0.5)::BIGINT AS cos_x1e6
    FROM embeddings e JOIN asg a ON e.vec_id = a.vec_id
    WHERE a.list_id IN (SELECT c_id FROM pl)
    """


def q_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@50 of the IVF probe against the exact brute-force top-50
    — the evaluation loop that tunes nprobe/lists before committing an
    index build. Composes the two existing queries; the exact side
    (50 rows) broadcasts onto the distinct candidate ids."""
    from hnormalise_spark.ops import similarity as S

    exact = q_similarity_topk(spark, sf)
    approx = q_similarity_ivf(spark, sf)
    return S.recall_at_k(exact, approx, k=50)


def _oracle_ann_recall() -> str:
    return f"""
    WITH exact AS (SELECT vec_id FROM ({_oracle_similarity_topk()})),
    approx AS (SELECT DISTINCT vec_id FROM ({_oracle_similarity_ivf()})),
    hits AS (SELECT count(*) AS n FROM exact JOIN approx USING (vec_id)),
    ex AS (SELECT greatest(count(*), 1) AS ne FROM exact)
    SELECT 50::BIGINT AS k, n::BIGINT AS n_hits,
           floor(n * 1000000.0 / ne + 0.5)::BIGINT AS recall_x1e6
    FROM hits, ex
    """


def q_ann_quantized(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@50 of int8-QUANTIZED brute-force cosine top-50 against
    the exact fp32 top-50 — the number that decides whether the 4x
    storage cut of quantize_embeddings is safe to ship for retrieval.
    Dequantization (q_i * scale) uses the integer-derived
    scale_x1e9/1e9 so both engines reconstruct bit-identical vectors;
    scoring stays a map-side projection + TakeOrdered, recall is a
    broadcast join of two 50-row frames."""
    from hnormalise_spark.ops import similarity as S

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    deq = S.quantize_embeddings(emb).select(
        "vec_id",
        F.transform(
            "q",
            lambda x: x.cast("double")
            * (F.col("scale_x1e9").cast("double") / F.lit(1e9)),
        ).alias("embedding"),
    )
    scored = S.cosine_scores(deq, QVEC).filter(F.col("cosine").isNotNull())
    approx = (
        scored.select(
            "vec_id",
            F.floor(F.col("cosine") * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
            .alias("cos_x1e6"),
        )
        .orderBy(F.desc("cos_x1e6"), "vec_id")
        .limit(50)
    )
    return S.recall_at_k(q_similarity_topk(spark, sf), approx, k=50)


def _oracle_ann_quantized() -> str:
    return f"""
    WITH b AS (SELECT vec_id,
                 embedding,
                 list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
                   / 127.0::DOUBLE AS scale
               FROM embeddings),
    qz AS (SELECT vec_id,
             CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding,
                         x -> floor(x::DOUBLE / scale + 0.5)::INT) END AS qc,
             floor(scale * 1000000000.0 + 0.5)::BIGINT AS scale_x1e9
           FROM b),
    deq AS (SELECT vec_id,
              list_transform(qc,
                c -> c::DOUBLE * (scale_x1e9::DOUBLE / 1000000000.0)) AS v
            FROM qz),
    s AS (SELECT vec_id,
            list_sum(list_transform(range(1, {EMB_DIM + 1}),
                     i -> v[i] * ({_qvec_sql()})[i])) AS dot,
            sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM deq),
    approx AS (SELECT vec_id,
                 floor(dot / (nrm * {_QNORM!r}) * 1000000.0 + 0.5)::BIGINT
                   AS cos_x1e6
               FROM s WHERE nrm > 0
               ORDER BY cos_x1e6 DESC, vec_id LIMIT 50),
    exact AS (SELECT vec_id FROM ({_oracle_similarity_topk()})),
    hits AS (SELECT count(*) AS n FROM (SELECT DISTINCT vec_id FROM approx)
             JOIN exact USING (vec_id)),
    ex AS (SELECT greatest(count(*), 1) AS ne FROM exact)
    SELECT 50::BIGINT AS k, n::BIGINT AS n_hits,
           floor(n * 1000000.0 / ne + 0.5)::BIGINT AS recall_x1e6
    FROM hits, ex
    """


# ---------------------------------------------------------------------------
# deterministic sampling (ops.sampling)

SAMPLE_RATES = {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 0.25}
SPLIT_BOUNDS = {"train": (0.0, 0.9), "holdout": (0.9, 1.0)}


def q_sample_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling + train/holdout split over
    the documents table: keep rate per language, split by disjoint
    hash intervals. Pure per-row projections — no shuffle, no RNG
    state; identical subsets on every engine, run, and partitioning.
    The split hash is salted ('|split') so it is independent of the
    sampling hash — every stratum lands in the holdout at ~10%
    regardless of its keep rate."""
    from hnormalise_spark.ops import sampling as S

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    kept = S.stratified_hash_sample(docs, SAMPLE_RATES, "lang", "doc_id")
    out = S.hash_split(kept, SPLIT_BOUNDS, "doc_id")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        "split",
    )


def _oracle_sample_split() -> str:
    span = float(1 << 60)
    rate = "CASE lang " + " ".join(
        f"WHEN '{k}' THEN {v!r}" for k, v in SAMPLE_RATES.items()
    ) + " ELSE 0.0 END"
    split = "CASE " + " ".join(
        f"WHEN u2 >= {lo!r} AND u2 < {hi!r} THEN '{name}'"
        for name, (lo, hi) in SPLIT_BOUNDS.items()
    ) + " END"
    return f"""
    WITH h AS (SELECT doc_id, lang,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT / {span!r} AS u,
                 ('0x' || substr(md5(doc_id::VARCHAR || '|split'), 1, 15))::BIGINT / {span!r} AS u2
               FROM documents)
    SELECT doc_id, lang, {split} AS split
    FROM h WHERE u < {rate}
    """


# ---------------------------------------------------------------------------
# mergeable sketches (ops.sketches) + weighted / temperature sampling

SKETCH_K = 128
_SKETCH_SPAN = float(1 << 60)


def _sketch_users(spark: SparkSession, sf: str):
    """Shared k-mins sketch: distinct users per event type."""
    from hnormalise_spark.ops import sketches as SK

    ev = spark.read.parquet(f"{sf}/events.parquet").select("event_type", "user_id")
    return SK.kmin_sketch(ev, ["event_type"], "user_id", k=SKETCH_K)


def q_sketch_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable cardinality sketch: estimated distinct users per
    event type from a k-mins bottom sketch (k=128, RSE ~ 8.8%),
    published beside the exact count so the error is visible in the
    gate itself. The sketch build is one posexplode + partial-min
    aggregate (shuffle bounded by partitions x groups x k); at 100 TB
    the per-day sketch (groups x k BIGINT rows) replaces re-scanning
    history — see ops/sketches.py for the merge law and estimator."""
    from hnormalise_spark.ops import sketches as SK

    sk = _sketch_users(spark, sf)
    est = SK.kmin_estimate(sk, ["event_type"], k=SKETCH_K)
    ev = spark.read.parquet(f"{sf}/events.parquet")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type", "n_exact", "est_distinct_x1e3"
    )


def _oracle_sketch_cte() -> str:
    from hnormalise_spark.ops.dedup import MINHASH_P, minhash_params

    prm = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_params(SKETCH_K))
    )
    # 28-bit base hash: first 7 hex chars of md5, digit-by-digit
    hex7 = " + ".join(
        f"{16 ** (6 - j)} * (strpos('0123456789abcdef', "
        f"substr(md5(user_id::VARCHAR), {j + 1}, 1)) - 1)"
        for j in range(7)
    )
    return f"""
    prm(i, a, b) AS (VALUES {prm}),
    hv AS (SELECT event_type, ({hex7})::BIGINT AS h FROM events),
    sk AS (SELECT event_type, i, MIN((a * h + b) % {MINHASH_P}) AS min_hash
           FROM hv CROSS JOIN prm GROUP BY 1, 2)
    """


def _oracle_sketch_distinct() -> str:
    from hnormalise_spark.ops.dedup import MINHASH_P

    numer = float(SKETCH_K * MINHASH_P * 1000)
    return f"""
    WITH {_oracle_sketch_cte()},
    s AS (SELECT event_type, SUM(min_hash::HUGEINT) AS sm FROM sk GROUP BY 1),
    e AS (SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS n_exact
          FROM events GROUP BY 1)
    SELECT event_type, n_exact,
           (floor({numer!r} / sm::DOUBLE + 0.5) - 1000)::BIGINT AS est_distinct_x1e3
    FROM s JOIN e USING (event_type)
    """


def q_sketch_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Audience-overlap matrix from the sketch alone: pairwise
    Jaccard of per-event-type user sets via the k-mins match
    fraction (P[min_a == min_b] = |A n B| / |A u B| exactly). The
    join runs on groups x k sketch rows, never on events."""
    from hnormalise_spark.ops import sketches as SK

    return SK.kmin_jaccard(_sketch_users(spark, sf), "event_type", k=SKETCH_K)


def _oracle_sketch_jaccard() -> str:
    return f"""
    WITH {_oracle_sketch_cte()}
    SELECT a.event_type AS group_a, b.event_type AS group_b,
           SUM(CASE WHEN a.min_hash = b.min_hash THEN 1 ELSE 0 END)::BIGINT
             AS n_match,
           floor(SUM(CASE WHEN a.min_hash = b.min_hash THEN 1 ELSE 0 END)
                 * 1000000.0 / {float(SKETCH_K)!r} + 0.5)::BIGINT AS jaccard_x1e6
    FROM sk a JOIN sk b ON a.i = b.i AND a.event_type < b.event_type
    GROUP BY 1, 2
    """


WSAMPLE_N = 100


def q_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis priorities on the salted key hash): the 100
    documents drawn with probability proportional to length — the
    quality/length-weighted corpus subsample every curation pipeline
    needs, with hash_sample's re-runnability. Global top-n compiles
    to TakeOrderedAndProject (no data shuffle)."""
    from hnormalise_spark.ops import sampling as S

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = S.weighted_sample_topk(
        docs, n=WSAMPLE_N, weight_col="n_chars", key_col="doc_id"
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def _oracle_weighted_sample() -> str:
    return f"""
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             ln(('0x' || substr(md5(doc_id::VARCHAR || '|wsample'), 1, 15))::BIGINT
                / {_SKETCH_SPAN!r}) / n_chars AS rk
      FROM documents WHERE n_chars > 0
      ORDER BY rk DESC, doc_id LIMIT {WSAMPLE_N})
    """


CM_WIDTH, CM_DEPTH, CM_TOPK = 1024, 4, 20


def q_cm_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min frequency sketch, probed at the exact top-20 terms:
    (term, n_true, n_est) with the CM guarantee n_est >= n_true
    visible in the gate itself. The sketch is depth x width counters
    (mergeable by elementwise sum — per-shard sketches add up), so
    heavy-hitter monitoring at 100 TB carries 4096 longs per stream
    instead of a vocabulary-sized exact groupBy; the probe join is
    broadcast-sized."""
    from hnormalise_spark.ops import sketches as SK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select("text")
    )
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term")
    )
    sk = SK.cm_sketch(toks, "term", width=CM_WIDTH, depth=CM_DEPTH)
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n_true"))
        .orderBy(F.desc("n_true"), F.asc("term"))
        .limit(CM_TOPK)
    )
    return SK.cm_lookup(sk, top, "term", width=CM_WIDTH, depth=CM_DEPTH).select(
        "term", "n_true", "n_est"
    )


def _oracle_cm_heavy_hitters() -> str:
    return f"""
    WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                  FROM documents),
    tot AS (SELECT term, count(*)::BIGINT AS n_true FROM toks GROUP BY 1),
    top AS (SELECT term, n_true FROM tot
            ORDER BY n_true DESC, term LIMIT {CM_TOPK}),
    ds AS (SELECT unnest(range(0, {CM_DEPTH})) AS d),
    cells AS (SELECT d,
                ('0x' || substr(md5(term || '|cm' || d::VARCHAR), 1, 15))::BIGINT
                  % {CM_WIDTH} AS idx,
                count(*)::BIGINT AS cnt
              FROM toks CROSS JOIN ds GROUP BY 1, 2),
    probe AS (SELECT term, n_true, d,
                ('0x' || substr(md5(term || '|cm' || d::VARCHAR), 1, 15))::BIGINT
                  % {CM_WIDTH} AS idx
              FROM top CROSS JOIN ds)
    SELECT p.term, p.n_true, MIN(COALESCE(c.cnt, 0))::BIGINT AS n_est
    FROM probe p LEFT JOIN cells c USING (d, idx)
    GROUP BY 1, 2
    """


TMIX_ALPHA = 0.5
TMIX_BUDGET = 0.5


def q_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-based language mixing (share ~ count^0.5,
    renormalized, half the corpus as budget) — the standard
    multilingual-LM upsampling curve, made deterministic via the
    salted key-hash threshold. Two scans total: a tiny count-by-lang
    (bounded collect, one row per language) then a shuffle-free
    filter."""
    from hnormalise_spark.ops import sampling as S

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = S.temperature_mix(
        docs, group_col="lang", key_col="doc_id",
        alpha=TMIX_ALPHA, budget_frac=TMIX_BUDGET,
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


def _oracle_temperature_mix() -> str:
    return f"""
    WITH c AS (SELECT lang, COUNT(*)::DOUBLE AS n FROM documents GROUP BY lang),
    w AS (SELECT lang, n, power(n, {TMIX_ALPHA!r}) AS wt FROM c),
    t AS (SELECT SUM(wt) AS wsum, SUM(n) AS total FROM w),
    r AS (SELECT lang,
            CAST(least(1.0, (wt / wsum) * ({TMIX_BUDGET!r} * total) / n) * 1e9
                 AS BIGINT) / 1e9 AS rate
          FROM w, t)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r USING (lang)
    WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || '|tmix'), 1, 15))::BIGINT
          / {_SKETCH_SPAN!r} < r.rate
    """


# ---------------------------------------------------------------------------
# time-series analytics (ops.timeseries)

SESSION_GAP_S = 1800


def q_events_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly tumbling rollup per event type + trailing-3-bucket
    moving sum. Values are integer-cents so every aggregate is exact
    integer arithmetic (float sums are order-dependent across
    engines); the avg is one double division of exact operands."""
    from hnormalise_spark.ops import timeseries as T

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "ts",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    r = T.rollup(ev, value_col="cents", bucket="1 hour", trailing=3)
    return r.select(
        "key",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("value_sum").cast("long").alias("sum_cents"),
        F.floor(F.col("value_sum") * 10000.0 / F.col("n_events") + F.lit(0.5))
        .cast("long")
        .alias("avg_cents_x1e4"),
        F.col("moving_sum").cast("long").alias("moving_sum_cents"),
    )


def _oracle_events_rollup() -> str:
    return """
    WITH c AS (SELECT event_type AS key, date_trunc('hour', ts) AS b,
                      floor(value * 100 + 0.5)::BIGINT AS cents
               FROM events),
    agg AS (SELECT key, b, count(*) AS n_events, sum(cents)::BIGINT AS sum_cents
            FROM c GROUP BY 1, 2)
    SELECT key, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           n_events, sum_cents,
           floor(sum_cents * 10000.0 / n_events + 0.5)::BIGINT AS avg_cents_x1e4,
           (sum(sum_cents) OVER (PARTITION BY key ORDER BY b
                                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))::BIGINT
             AS moving_sum_cents
    FROM agg
    """


def q_events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization: a user's session breaks after a
    30-minute silence. lag + cumulative-sum windows over integer
    microseconds; one shuffle on the user key."""
    from hnormalise_spark.ops import timeseries as T

    ev = spark.read.parquet(f"{sf}/events.parquet")
    s = T.sessionize(ev, gap_seconds=SESSION_GAP_S, tiebreak_col="event_id")
    return s.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_seq").cast("long").alias("session_seq"),
    )


def _oracle_events_sessionize() -> str:
    gap_us = SESSION_GAP_S * 1_000_000
    return f"""
    WITH o AS (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {gap_us}
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id,
           (sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
    FROM o
    """


def q_events_session_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-session aggregates over the gap-sessionized events: count,
    first/last timestamps, span — the sessionize frame reduced one
    more level (the second aggregate shares the user-key shuffle)."""
    from hnormalise_spark.ops import timeseries as T

    ev = spark.read.parquet(f"{sf}/events.parquet")
    s = T.session_stats(ev, gap_seconds=SESSION_GAP_S, tiebreak_col="event_id")
    return s.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_seq").cast("long").alias("session_seq"),
        F.col("n_events").cast("long").alias("n_events"),
        F.date_format("t_first", "yyyy-MM-dd HH:mm:ss").alias("t_first"),
        F.date_format("t_last", "yyyy-MM-dd HH:mm:ss").alias("t_last"),
        F.col("span_seconds").cast("long").alias("span_seconds"),
    )


def _oracle_events_session_stats() -> str:
    gap_us = SESSION_GAP_S * 1_000_000
    return f"""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {gap_us}
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             (sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
      FROM o
    )
    SELECT user_id, session_seq, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS t_first,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS t_last,
           epoch(date_trunc('second', max(ts)))::BIGINT
             - epoch(date_trunc('second', min(ts)))::BIGINT AS span_seconds
    FROM s GROUP BY 1, 2
    """


BM25_TERMS = ["merge", "stream", "vector"]
BM25_K = 20


def q_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 keyword retrieval over documents: explode + filter-to-
    query-terms (the posting-list analogue), one (doc, term) tf
    shuffle, broadcast df/corpus stats, integer-rounded per-term
    contributions summed per doc, TakeOrdered top-k."""
    from hnormalise_spark.ops import textops as X

    docs = spread_to_cores(spark.read.parquet(f"{sf}/documents.parquet"))
    return X.bm25_topk(docs, BM25_TERMS, k=BM25_K).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("score_x1e6").cast("long").alias("score_x1e6"),
    )


def _oracle_bm25_topk() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
    WITH lens AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+')) AS dl,
             string_split_regex(trim(text), '\\s+') AS toks
      FROM documents),
    ex AS (SELECT doc_id, dl, unnest(toks) AS term FROM lens),
    tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM ex
           WHERE term IN ({terms}) GROUP BY 1, 2, 3),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    st AS (SELECT count(*) AS n, sum(dl) AS totlen FROM lens),
    sc AS (SELECT tf.doc_id,
                  floor(ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
                        * (tf.tf * 2.2)
                        / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
                                          / (st.totlen::DOUBLE / st.n)))
                        * 1000000.0 + 0.5)::BIGINT AS c
           FROM tf JOIN dfq USING (term) CROSS JOIN st)
    SELECT doc_id, sum(c)::BIGINT AS score_x1e6 FROM sc GROUP BY 1
    ORDER BY score_x1e6 DESC, doc_id LIMIT {BM25_K}
    """


def q_bm25_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 over the PERSISTED posting-list index: build once through
    the snapshot table layer (term_bucket-partitioned postings + a
    one-row stats sidecar; resume is a committed no-op), probe with a
    partition-PRUNED scan of the query terms' buckets. Same result set
    as the inline bm25_topk, so the same independent oracle re-derives
    it from the raw documents."""
    import os

    from hnormalise_spark.ops import textops as X

    tag = sf.rstrip("/").rsplit("/", 1)[-1]
    idx = f"/tmp/hnorm_bm25_index_{tag}_{X.BM25_BUCKETS}b"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    X.bm25_build_index(docs, idx, "base")
    return X.bm25_topk_indexed(spark, idx, BM25_TERMS, k=BM25_K).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("score_x1e6").cast("long").alias("score_x1e6"),
    )


def q_events_asof(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: every event picks up the same user's most recent
    purchase at-or-before it (inclusive). Spark has no native as-of
    join; ops.timeseries.asof_join does the union + last-non-null
    window composition — one shuffle on the user key, linear per
    partition, no range-join candidate blowup. Oracle: DuckDB's
    native ASOF LEFT JOIN."""
    from hnormalise_spark.ops import timeseries as T

    ev = spark.read.parquet(f"{sf}/events.parquet")
    build = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    j = T.asof_join(ev, build, key_col="user_id", ts_col="ts",
                    build_cols=("event_id", "value"),
                    build_tiebreak_col="event_id")
    return j.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id_asof").cast("long").alias("purchase_event_id"),
        F.floor(F.col("value_asof") * 100 + F.lit(0.5))
        .cast("long")
        .alias("purchase_cents"),
    )


def _oracle_events_asof() -> str:
    return """
    SELECT p.event_id, p.user_id,
           b.event_id AS purchase_event_id,
           floor(b.value * 100 + 0.5)::BIGINT AS purchase_cents
    FROM events p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON p.user_id = b.user_id AND p.ts >= b.ts
    """


# ---------------------------------------------------------------------------
# multimodal plumbing (Arrow-batched mapInPandas over binary payloads)

N_MEDIA = 200


def q_multimodal(spark: SparkSession, sf: str) -> DataFrame:
    """Binary payload → stub decode/feature-extract via mapInPandas;
    the md5-derived fake features are recomputed hex-digit by hex-digit
    in the SQL oracle."""
    from hnormalise_spark.ops import multimodal as M

    media = M.synth_media(spark, N_MEDIA)
    feats = M.extract_features(media, dim=8)
    return feats.select(
        "media_id",
        "kind",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        *[F.element_at(F.col("feature"), i + 1).alias(f"f{i}") for i in range(4)],
    )


def _oracle_multimodal() -> str:
    feats = ", ".join(
        f"((16 * {_hexv('d', 2 * i + 1)} + {_hexv('d', 2 * i + 2)}) / 255.0)::FLOAT AS f{i}"
        for i in range(4)
    )
    return f"""
    WITH m AS (SELECT range AS id FROM range({N_MEDIA})),
    h AS (SELECT id, md5(md5(id::VARCHAR)) AS d FROM m)
    SELECT printf('m-%06d', id) AS media_id,
           CASE WHEN id % 3 = 0 THEN 'image'
                WHEN id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
           16::BIGINT AS n_bytes,
           {feats}
    FROM h
    """


RESIZE_W, RESIZE_H = 64, 48


def q_multimodal_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Image resize plumbing: JVM-side kind filter → Arrow-batched
    mapInPandas rewriting payload + dimensions (stub resample — the
    output payload is the deterministic leading slice, re-derived from
    the md5 hex in the oracle)."""
    from hnormalise_spark.ops import multimodal as M

    media = M.synth_media(spark, N_MEDIA)
    rs = M.resize_images(media, RESIZE_W, RESIZE_H)
    return rs.select(
        "media_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("n_bytes_out").cast("long").alias("n_bytes_out"),
        F.hex(F.col("payload")).alias("payload_hex"),
    )


def _oracle_multimodal_resize() -> str:
    area = float(RESIZE_W * RESIZE_H)
    return f"""
    WITH m AS (SELECT range AS id FROM range({N_MEDIA}) WHERE range % 3 = 0),
    g AS (SELECT id, md5(id::VARCHAR) AS d,
                 (id % 640 + 1) AS w, (id % 480 + 1) AS h FROM m),
    k AS (SELECT id, d,
                 greatest(1, floor(16 * least(1.0, {area!r} / (w * h)))::BIGINT) AS nb
          FROM g)
    SELECT printf('m-%06d', id) AS media_id,
           {RESIZE_W}::INT AS width, {RESIZE_H}::INT AS height,
           nb AS n_bytes_out,
           upper(substr(d, 1, (2 * nb)::INT)) AS payload_hex
    FROM k
    """


FRAME_EVERY_MS = 25


def q_multimodal_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-sampling plumbing: row-exploding mapInPandas — one row
    per sampled timestamp per audio/video payload (stub frame decode:
    a sliding byte window, re-derived from the md5 hex in SQL)."""
    from hnormalise_spark.ops import multimodal as M

    media = M.synth_media(spark, N_MEDIA)
    fr = M.frame_sample(media, FRAME_EVERY_MS)
    return fr.select(
        "media_id",
        "kind",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("t_ms").cast("long").alias("t_ms"),
        F.hex(F.col("frame_payload")).alias("frame_hex"),
    )


def _oracle_multimodal_frames() -> str:
    # payload is 16 md5 bytes; slice_bytes=4 -> offset span = 13
    return f"""
    WITH m AS (SELECT range AS id FROM range({N_MEDIA}) WHERE range % 3 != 0),
    g AS (SELECT id, md5(id::VARCHAR) AS d,
                 (id % 60000)::BIGINT AS dur,
                 CASE WHEN id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind
          FROM m),
    fr AS (SELECT id, d, kind, unnest(generate_series(0, (dur // {FRAME_EVERY_MS})::INT)) AS i
           FROM g)
    SELECT printf('m-%06d', id) AS media_id, kind,
           i::INT AS frame_idx,
           (i * {FRAME_EVERY_MS})::BIGINT AS t_ms,
           upper(substr(d, (2 * (i % 13) + 1)::INT, 8)) AS frame_hex
    FROM fr
    """


# ---------------------------------------------------------------------------
# tokenized-input round trip (BASELINE.json input_hint invariant)


def q_tokens_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Build the canonical (doc_id, tokens:array<int>, n_tok, source)
    table from constructed syslog lines, parse it via the token path
    (JVM detokenize → normalise), and prove the round trip: md5 of the
    detokenized line equals the oracle's md5 of the same construction,
    and the payload parses."""
    from hnormalise_spark.pipeline import normalise_tokens

    ev = spread_to_cores(
        spark.read.parquet(f"{sf}/events.parquet").select(
            F.col("event_id").cast("long").alias("k")
        )
    )
    k = F.col("k")
    msg = F.format_string(
        "snoopy[%d]::  [uid:%d sid:%d tty:(none) cwd:/home/u%d filename:/usr/bin/t%d]: t%d -x %d",
        k % 65536, k % 1000, k % 777, k % 50, k % 9, k % 9, k,
    )
    line = F.format_string(
        "<%d>1 2017-05-24T18:01:%02d.000000+02:00 host%03d tag - %s",
        k % 190 + 1, k % 60, k % 997, msg,
    )
    base = ev.select(F.format_string("tok-%d", k).alias("doc_id"), line.alias("raw0"))
    tokenized = base.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, length(raw0)), i -> ascii(substr(raw0, i, 1)))"
        ).cast("array<int>").alias("tokens"),
        F.length("raw0").cast("int").alias("n_tok"),
        F.lit("snoopy").alias("source"),
    )
    parsed = normalise_tokens(tokenized)
    return parsed.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("parse_ok").cast("int").alias("parse_ok"),
        F.md5(F.col("raw")).alias("line_md5"),
        F.col("snoopy")["pid"].cast("long").alias("pid"),
        F.col("snoopy")["command"].alias("command"),
    )


def _oracle_tokens_roundtrip() -> str:
    return """
    WITH l AS (
      SELECT event_id AS k,
             printf('<%d>1 2017-05-24T18:01:%02d.000000+02:00 host%03d tag - snoopy[%d]::  [uid:%d sid:%d tty:(none) cwd:/home/u%d filename:/usr/bin/t%d]: t%d -x %d',
                    event_id % 190 + 1, event_id % 60, event_id % 997,
                    event_id % 65536, event_id % 1000, event_id % 777,
                    event_id % 50, event_id % 9, event_id % 9, event_id) AS line
      FROM events)
    SELECT 'tok-' || k AS doc_id,
           length(line) AS n_tok,
           1 AS parse_ok,
           md5(line) AS line_md5,
           k % 65536 AS pid,
           printf('t%d -x %d', k % 9, k) AS command
    FROM l
    """


# ---------------------------------------------------------------------------
# incremental dedup against the persisted fingerprint index (ops.dedup)


def q_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-ingestion dedup: the full documents table is the
    committed HISTORY (fingerprint index built once through the
    snapshot layer; re-runs resume as no-ops), and a synthetic new
    batch — normalisation-equivalent rewrites of every 7th doc plus
    novel suffixed texts for every 11th — probes it. History is never
    re-fingerprinted; the batch equi-joins the 1-row-per-fingerprint
    index with the scan pruned to the batch's fp buckets."""
    from hnormalise_spark.ops import dedup as D

    tag = sf.rstrip("/").rsplit("/", 1)[-1]
    idx = f"/tmp/hnorm_fp_index_{tag}_{D.FP_BUCKETS}b"
    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    D.build_fingerprint_index(docs, idx, "base")
    k = F.col("doc_id")
    dups = docs.filter(k % 7 == 0).select(
        (k + 100000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper(F.col("text"))).alias("text"),
    )
    novel = docs.filter(k % 11 == 0).select(
        (k + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" novel suffix "), k.cast("string")).alias("text"),
    )
    batch = dups.unionByName(novel)
    out = D.dedup_against_index(spark, batch, idx)
    return out.select("doc_id", "is_known_dup", F.col("dup_of").cast("long").alias("dup_of"))


def _oracle_dedup_incremental() -> str:
    norm = "md5(lower(trim(regexp_replace({t}, '\\s+', ' ', 'g'))))"
    return f"""
    WITH hist AS (SELECT {norm.format(t="text")} AS fp, min(doc_id)::BIGINT AS keeper
                  FROM documents GROUP BY 1),
    batch AS (
      SELECT doc_id + 100000 AS doc_id, '  ' || upper(text) AS text
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, text || ' novel suffix ' || doc_id::VARCHAR
      FROM documents WHERE doc_id % 11 = 0),
    j AS (SELECT b.doc_id, h.keeper
          FROM batch b LEFT JOIN hist h ON {norm.format(t="b.text")} = h.fp)
    SELECT doc_id::BIGINT AS doc_id,
           (keeper IS NOT NULL)::INT AS is_known_dup,
           keeper AS dup_of
    FROM j
    """


# ---------------------------------------------------------------------------
# BPE tokenizer-training first iteration (ops.textops.bpe_pair_counts)

BPE_K = 30


def q_bpe_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Top-K BPE merge candidates (adjacent char-pair counts) over the
    documents corpus. Corpus-sized work is only the word count; pair
    explosion runs on the vocabulary."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select("text")
    )
    return T.bpe_pair_counts(docs, k=BPE_K)


def _oracle_bpe_pairs() -> str:
    return f"""
    WITH words AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
                   FROM documents),
    vocab AS (SELECT word, count(*)::BIGINT AS wc FROM words WHERE word <> '' GROUP BY 1),
    pairs AS (SELECT substr(word, i, 2) AS pair, wc
              FROM vocab, UNNEST(range(1, length(word))) AS t(i)
              WHERE length(word) >= 2)
    SELECT pair, sum(wc)::BIGINT AS n_pairs
    FROM pairs GROUP BY 1
    ORDER BY n_pairs DESC, pair ASC LIMIT {BPE_K}
    """


# ---------------------------------------------------------------------------
# corpus length statistics (ops.textops.doclen_stats)

DLS_PS = (0.1, 0.5, 0.9)


def q_doclen_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language document-length profile with EXACT rank-selected
    quantiles (floor((n-1)*p) of the ascending sort — an observed
    value, not an interpolation, so every engine agrees). One shuffle:
    the rank window and the aggregate share the lang partitioning."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(spark.read.parquet(f"{sf}/documents.parquet"))
    return T.doclen_stats(docs, group_col="lang", ps=DLS_PS)


def _oracle_doclen_stats() -> str:
    qcols = ", ".join(
        f"max(CASE WHEN rn = floor((n - 1) * {p!r}) THEN n_tok END) AS p{int(round(p * 100)):02d}"
        for p in DLS_PS
    )
    return f"""
    WITH t AS (SELECT lang,
                 (CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT AS n_tok
               FROM documents),
    r AS (SELECT lang, n_tok,
                 row_number() OVER (PARTITION BY lang ORDER BY n_tok) - 1 AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM t)
    SELECT lang, count(*)::BIGINT AS n_docs,
           min(n_tok) AS min_tok, max(n_tok) AS max_tok,
           floor(sum(n_tok)::BIGINT * 10000.0 / count(*) + 0.5)::BIGINT AS mean_tok_x1e4,
           {qcols}
    FROM r GROUP BY lang
    """


# ---------------------------------------------------------------------------
# decontamination (ops.decontam)

DECON_N = 8  # word n-gram size; doc_id % 37 == 0 docs form the eval set


def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: flag every document sharing any word
    8-gram with the (deterministic) eval subset. Corpus explodes to
    distinct gram hashes and inner-joins the BROADCAST eval set; only
    the rare hit rows are aggregated, then broadcast back — the corpus
    itself is never shuffled (the 100-TB shape)."""
    from hnormalise_spark.ops import decontam as D

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    ev = docs.filter(F.col("doc_id") % 37 == 0)
    out = D.decontaminate(docs, D.eval_ngram_hashes(ev, "text", DECON_N), n=DECON_N)
    return out.select(
        "doc_id",
        F.col("n_eval_hits").cast("long").alias("n_eval_hits"),
        F.col("contaminated").cast("int").alias("contaminated"),
    )


def _oracle_decontaminate() -> str:
    n = DECON_N
    return f"""
    WITH words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                   FROM documents),
    dgrams AS (SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+{n - 1}], ' ')) AS g
               FROM words, UNNEST(range(1, greatest(len(w) - {n - 1}, 0) + 1)) AS t(i)),
    ev AS (SELECT DISTINCT g FROM dgrams WHERE doc_id % 37 = 0),
    hits AS (SELECT d.doc_id, count(*) AS n FROM dgrams d JOIN ev USING (g) GROUP BY 1)
    SELECT d.doc_id::BIGINT AS doc_id,
           coalesce(h.n, 0)::BIGINT AS n_eval_hits,
           (coalesce(h.n, 0) > 0)::INT AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """


BLOOM_BITS = 8192
BLOOM_K = 4

QS_BUCKETS = 512  # hashing-trick weight slots for the linear scorer


def q_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """fastText-style hashing-trick linear quality gate over
    documents: token → weight slot → in-row integer score fold. No
    explode, no join, no shuffle — the classifier pass is scan-speed
    at 100 TB (see textops.quality_score_hashed)."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    return T.quality_score_hashed(docs, n_buckets=QS_BUCKETS)


def _oracle_quality_classifier() -> str:
    d = QS_BUCKETS
    return f"""
    WITH toks AS (SELECT doc_id,
                    CASE WHEN text IS NULL OR trim(text) = '' THEN []
                         ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
                  FROM documents),
    tw AS (SELECT doc_id, u.tok,
             ('0x' || substr(md5('qsw|' ||
                (('0x' || substr(md5('qsb|' || u.tok), 1, 15))::BIGINT % {d})::VARCHAR
             ), 1, 15))::BIGINT % 2001 - 1000 AS wt
           FROM toks, UNNEST(w) AS u(tok)),
    agg AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
                   sum(wt)::BIGINT AS score_sum
            FROM tw GROUP BY 1)
    SELECT t.doc_id::BIGINT AS doc_id,
           coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
           coalesce(a.score_sum, 0)::BIGINT AS score_sum,
           (coalesce(a.score_sum, 0) > 0)::INT AS keep
    FROM toks t LEFT JOIN agg a USING (doc_id)
    """


def q_bloom_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter decontamination — the constant-size scale path of
    `decontaminate`: the eval set's 8-gram hashes compress to an 8192-
    bit mergeable bitset (256 longs, INDEPENDENT of eval-set size),
    and every document is probed by a pure row-local expression over
    the literal bits — the corpus is never shuffled OR joined, so at
    100 TB the pass is scan-speed even against a blocklist too big to
    broadcast exactly. Emits the exact verdict beside the bloom one so
    the (deterministic) false positives are visible: bloom_hit >=
    exact_hit row-wise, never the reverse."""
    from hnormalise_spark.ops import decontam as D
    from hnormalise_spark.ops import sketches as SK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    ev = docs.filter(F.col("doc_id") % 37 == 0)
    sketch = SK.bloom_build(
        D.eval_ngram_hashes(ev, "text", DECON_N), "gram", BLOOM_BITS, BLOOM_K
    )
    bits = SK.bloom_bits_array(sketch, BLOOM_BITS)
    exact = D.decontaminate(docs, D.eval_ngram_hashes(ev, "text", DECON_N), n=DECON_N)
    grams = D.word_ngram_hashes(F.col("text"), DECON_N)
    return exact.select(
        "doc_id",
        F.coalesce(
            F.exists(
                grams, lambda g: SK.bloom_contains(bits, g, BLOOM_BITS, BLOOM_K)
            ).cast("int"),
            F.lit(0),
        ).alias("bloom_hit"),
        F.col("contaminated").cast("int").alias("exact_hit"),
    )


def _oracle_bloom_decontaminate() -> str:
    n, m, k = DECON_N, BLOOM_BITS, BLOOM_K
    return f"""
    WITH words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                   FROM documents),
    dgrams AS (SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+{n - 1}], ' ')) AS g
               FROM words, UNNEST(range(1, greatest(len(w) - {n - 1}, 0) + 1)) AS t(i)),
    ev AS (SELECT DISTINCT g FROM dgrams WHERE doc_id % 37 = 0),
    js AS (SELECT unnest(range(0, {k})) AS j),
    setpos AS (SELECT DISTINCT
                 ('0x' || substr(md5(g || '|' || j), 1, 15))::BIGINT % {m} AS p
               FROM ev CROSS JOIN js),
    probe AS (SELECT d.doc_id, d.g, j.j,
                ('0x' || substr(md5(d.g || '|' || j.j), 1, 15))::BIGINT % {m} AS p
              FROM dgrams d CROSS JOIN js j),
    gramhit AS (SELECT doc_id, g, bool_and(s.p IS NOT NULL) AS hit
                FROM probe LEFT JOIN setpos s USING (p) GROUP BY 1, 2),
    dochit AS (SELECT doc_id, max(hit::INT) AS bloom_hit FROM gramhit GROUP BY 1),
    exact AS (SELECT d.doc_id, max((e.g IS NOT NULL)::INT) AS exact_hit
              FROM dgrams d LEFT JOIN ev e ON d.g = e.g GROUP BY 1)
    SELECT d.doc_id::BIGINT AS doc_id,
           coalesce(h.bloom_hit, 0)::INT AS bloom_hit,
           coalesce(x.exact_hit, 0)::INT AS exact_hit
    FROM documents d
    LEFT JOIN dochit h USING (doc_id)
    LEFT JOIN exact x USING (doc_id)
    """


# ---------------------------------------------------------------------------
# PII redaction (ops.textops.redact_pii)


def q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII masking over documents whose text is deterministically
    augmented with synthetic emails / IPv4s / phone numbers derived
    from doc_id (the corpus itself is PII-free word soup — the
    augmentation is reproduced verbatim in the oracle). Counts are
    taken before the rewrite; patterns apply in fixed order. Pure JVM
    regex — scan-speed at 100 TB."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(spark.read.parquet(f"{sf}/documents.parquet"))
    k = F.col("doc_id").cast("long")
    aug = F.concat(
        F.col("text"),
        F.when(k % 3 == 0, F.format_string(" contact user%d@mail.example.com", k)).otherwise(F.lit("")),
        F.when(k % 4 == 0, F.format_string(" from 10.%d.0.%d", k % 256, k % 250)).otherwise(F.lit("")),
        F.when(k % 5 == 0, F.format_string(" call 555-%03d-%04d", k % 1000, k % 10000)).otherwise(F.lit("")),
    )
    out = T.redact_pii(docs.select(k.alias("doc_id"), aug.alias("text")))
    return out.select(
        "doc_id", "n_email", "n_ip", "n_phone",
        F.md5(F.col("text_redacted")).alias("redacted_md5"),
    )


def _oracle_pii_redact() -> str:
    from hnormalise_spark.ops.textops import PII_PATTERNS

    aug = """text
        || CASE WHEN doc_id % 3 = 0 THEN printf(' contact user%d@mail.example.com', doc_id) ELSE '' END
        || CASE WHEN doc_id % 4 = 0 THEN printf(' from 10.%d.0.%d', doc_id % 256, doc_id % 250) ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN printf(' call 555-%03d-%04d', doc_id % 1000, doc_id % 10000) ELSE '' END"""
    # progressive CTE chain: each class counts on the text the
    # previous classes already redacted (mirrors redact_pii exactly)
    ctes = [f"a0 AS (SELECT doc_id, {aug} AS t FROM documents)"]
    carried: list[str] = []
    for i, (name, pat, repl) in enumerate(PII_PATTERNS):
        keep = ", ".join(carried) + (", " if carried else "")
        ctes.append(
            f"a{i + 1} AS (SELECT doc_id, {keep}"
            f"len(regexp_extract_all(t, '{pat}'))::BIGINT AS n_{name}, "
            f"regexp_replace(t, '{pat}', '{repl}', 'g') AS t FROM a{i})"
        )
        carried.append(f"n_{name}")
    last = len(PII_PATTERNS)
    return f"""
    WITH {", ".join(ctes)}
    SELECT doc_id::BIGINT AS doc_id, {", ".join(carried)},
           md5(t) AS redacted_md5
    FROM a{last}
    """


# ---------------------------------------------------------------------------
# sequence packing + resharding (ops.packing)

PACK_CTX = 256
PACK_SHARDS = 8
RESHARD_N = 16
_HASH_SPAN_SQL = float(1 << 60)


def _u_sql(key: str, salt: str) -> str:
    """DuckDB twin of sampling.key_hash_unit(key, salt)."""
    piece = f"{key}::VARCHAR || '|{salt}'" if salt else f"{key}::VARCHAR"
    return f"(('0x' || substr(md5({piece}), 1, 15))::BIGINT / {_HASH_SPAN_SQL!r})"


def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-style concat-then-chunk packing: per-shard token cumsum
    assigns each doc the ctx-length block where it starts, its offset,
    and the blocks it spans. Two-level (hash shard → local window) so
    no global ordering exists anywhere in the plan."""
    from hnormalise_spark.ops import packing as P

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    out = P.pack_sequences(docs, ctx=PACK_CTX, shards=PACK_SHARDS)
    return out.select(
        "doc_id", "shard", "n_tok", "block_id", "block_off", "n_blocks"
    )


def _oracle_pack_sequences() -> str:
    u = _u_sql("doc_id", "pack")
    c, s = PACK_CTX, PACK_SHARDS
    return f"""
    WITH h AS (SELECT doc_id,
                 floor({u} * {s})::INT AS shard,
                 (CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                  + 1)::BIGINT AS n_tok
               FROM documents),
    cum AS (SELECT *, coalesce(sum(n_tok) OVER (
                 PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
            FROM h)
    SELECT doc_id::BIGINT AS doc_id, shard, n_tok,
           (shard::BIGINT * 4294967296 + floor(cb / {c}))::BIGINT AS block_id,
           (cb % {c})::BIGINT AS block_off,
           (floor((cb + n_tok - 1) / {c}) - floor(cb / {c}) + 1)::BIGINT AS n_blocks
    FROM cum
    """


MIX_WEIGHTS = {"en": 2.0, "de": 1.0, "fr": 1.0, "es": 0.5, "zh": 0.5}


def q_mix_sources(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted data mixing over the documents table
    (language as the source dimension): stride-scheduled interleave,
    en twice as frequent as de/fr, those twice es/zh. No repetition,
    no global ordering — per-shard streams, two hash shuffles."""
    from hnormalise_spark.ops import packing as P

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "lang"
        )
    )
    out = P.mix_sources(docs, MIX_WEIGHTS, source_col="lang", shards=PACK_SHARDS)
    return out.select(
        "doc_id", "lang", "shard",
        F.floor(F.col("vt") * 1000000.0 + F.lit(0.5)).cast("long").alias("vt_x1e6"),
        "pos",
    )


def _oracle_mix_sources() -> str:
    u = _u_sql("doc_id", "mix")
    wcase = "CASE lang " + " ".join(
        f"WHEN '{k}' THEN {v!r}" for k, v in MIX_WEIGHTS.items()
    ) + " ELSE NULL END"
    return f"""
    WITH h AS (SELECT doc_id, lang, {u} AS u, {wcase} AS w FROM documents),
    s AS (SELECT doc_id, lang, u, w, floor(u * {PACK_SHARDS})::INT AS shard
          FROM h WHERE w IS NOT NULL AND w > 0),
    r AS (SELECT doc_id, lang, shard,
                 (row_number() OVER (PARTITION BY shard, lang ORDER BY u, doc_id))::DOUBLE / w AS vt
          FROM s)
    SELECT doc_id::BIGINT AS doc_id, lang, shard,
           floor(vt * 1000000.0 + 0.5)::BIGINT AS vt_x1e6,
           (row_number() OVER (PARTITION BY shard ORDER BY vt, lang, doc_id) - 1)::BIGINT AS pos
    FROM r
    """


def q_reshard(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global shuffle into RESHARD_N shards: salted-hash
    bucket + rank of the hash inside the shard. One hash-partition
    shuffle + per-shard sort — the minimal physical work of any
    resharding; order reproduces bit-identically on any engine."""
    from hnormalise_spark.ops import packing as P

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id")
        )
    )
    return P.reshard(docs, RESHARD_N).select("doc_id", "shard", "pos")


def _oracle_reshard() -> str:
    u = _u_sql("doc_id", "shard")
    return f"""
    WITH h AS (SELECT doc_id, {u} AS u FROM documents),
    s AS (SELECT doc_id, u, floor(u * {RESHARD_N})::INT AS shard FROM h)
    SELECT doc_id::BIGINT AS doc_id, shard,
           (row_number() OVER (PARTITION BY shard ORDER BY u, doc_id) - 1)::BIGINT AS pos
    FROM s
    """


# ---------------------------------------------------------------------------
# vocabulary building (tokenizer-training prep)

VOCAB_K = 25  # below the corpus vocab size, so the top-K cut is real


def q_vocab_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary: top-K terms by total count (document
    frequency carried alongside; ties broken by term). The
    tokenizer-training first step. explode → (term, doc) tf agg →
    term agg (map-side combine collapses both before their shuffles;
    no per-term count_distinct state) → TakeOrderedAndProject — no
    global sort."""
    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term")
    )
    # (term, doc) tf first: the second agg then counts docs WITHOUT a
    # count_distinct state per term — two cheap hash aggs, no join
    per_doc = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return (
        per_doc.groupBy("term")
        .agg(
            F.sum("tf").cast("long").alias("n_total"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .orderBy(F.desc("n_total"), F.asc("term"))
        .limit(VOCAB_K)
    )


def _oracle_vocab_topk() -> str:
    return f"""
    WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                  FROM documents),
    tot AS (SELECT term, count(*)::BIGINT AS n_total FROM toks GROUP BY 1),
    dfreq AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS n_docs FROM toks GROUP BY 1)
    SELECT t.term, t.n_total, d.n_docs
    FROM tot t JOIN dfreq d USING (term)
    ORDER BY t.n_total DESC, t.term ASC
    LIMIT {VOCAB_K}
    """


# ---------------------------------------------------------------------------
# end-to-end training-data pipeline (composition flagship)

TP_MIN_TOK, TP_MAX_TOK, TP_MIN_Q = 20, 400, 0.7
TP_CTX, TP_SHARDS = 256, 4


def q_training_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The composed LLM training-data pipeline over the documents
    table: quality gate (token band + quality score) → exact dedup
    (keepers only) → benchmark decontamination (drop any doc sharing
    an 8-gram with the eval subset) → deterministic train split →
    GPT-style sequence packing. Every stage is the REAL library
    operator; the output is the final training-example manifest
    (where each surviving doc lands in the packed token stream).

    Scale shape is the union of the stages': per-row gates, one
    fingerprint shuffle, broadcast decontamination, salted-hash
    split, per-shard pack windows — nothing global end to end."""
    from hnormalise_spark.ops import decontam as D
    from hnormalise_spark.ops import dedup as X
    from hnormalise_spark.ops import packing as P
    from hnormalise_spark.ops import sampling as S
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    t = F.col("text")
    gated = docs.filter(
        T.token_count(t).between(TP_MIN_TOK, TP_MAX_TOK)
        & (T.quality_score(t) >= TP_MIN_Q)
    )
    kept = (
        X.exact_dedup(gated)
        .filter(~F.col("is_dup"))
        .drop("fingerprint", "group_size", "keeper_id", "is_dup")
    )
    ev = D.eval_ngram_hashes(docs.filter(F.col("doc_id") % 37 == 0), "text", DECON_N)
    clean = (
        D.decontaminate(kept, ev, n=DECON_N)
        .filter(F.col("contaminated") == 0)
        .drop("n_eval_hits", "contaminated")
    )
    train = S.hash_split(clean, SPLIT_BOUNDS, "doc_id").filter(
        F.col("split") == "train"
    )
    packed = P.pack_sequences(train, ctx=TP_CTX, shards=TP_SHARDS)
    return packed.select(
        "doc_id", "shard", "n_tok", "block_id", "block_off", "n_blocks"
    )


def _oracle_training_pipeline() -> str:
    n = DECON_N
    u2 = _u_sql("doc_id", "split")
    up = _u_sql("doc_id", "pack")
    split = "CASE " + " ".join(
        f"WHEN u2 >= {lo!r} AND u2 < {hi!r} THEN '{name}'"
        for name, (lo, hi) in SPLIT_BOUNDS.items()
    ) + " END"
    return f"""
    WITH base AS (SELECT doc_id, text,
        CASE WHEN trim(text) = '' THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok_raw,
        length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
        length(regexp_replace(text, '[A-Za-z0-9 \t\n]', '', 'g')) AS n_punct,
        greatest(length(text), 1) AS nlen
      FROM documents),
    gated AS (SELECT doc_id, text, n_tok_raw FROM base
      WHERE n_tok_raw BETWEEN {TP_MIN_TOK} AND {TP_MAX_TOK}
        AND ((n_alpha / nlen) * 0.6
             + CASE WHEN n_tok_raw >= 5 AND n_tok_raw <= 10000 THEN 1.0 ELSE 0.3 END * 0.3
             + (1.0 - least((n_punct / nlen) * 4, 1.0)) * 0.1) >= {TP_MIN_Q!r}),
    fp AS (SELECT *, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
           FROM gated),
    kept AS (SELECT doc_id, text, n_tok_raw FROM
               (SELECT *, min(doc_id) OVER (PARTITION BY f) AS keeper FROM fp)
             WHERE doc_id = keeper),
    words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
              FROM documents),
    dg AS (SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+{n - 1}], ' ')) AS g
           FROM words, UNNEST(range(1, greatest(len(w) - {n - 1}, 0) + 1)) AS t(i)),
    ev AS (SELECT DISTINCT g FROM dg WHERE doc_id % 37 = 0),
    dirty AS (SELECT DISTINCT doc_id FROM dg JOIN ev USING (g)),
    clean AS (SELECT k.* FROM kept k LEFT JOIN dirty d USING (doc_id)
              WHERE d.doc_id IS NULL),
    train AS (SELECT doc_id, n_tok_raw FROM
                (SELECT *, {u2} AS u2 FROM clean)
              WHERE {split} = 'train'),
    sh AS (SELECT doc_id, (n_tok_raw + 1)::BIGINT AS n_tok,
                  floor({up} * {TP_SHARDS})::INT AS shard
           FROM train),
    cum AS (SELECT *, coalesce(sum(n_tok) OVER (
                PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
            FROM sh)
    SELECT doc_id::BIGINT AS doc_id, shard, n_tok,
           (shard::BIGINT * 4294967296 + floor(cb / {TP_CTX}))::BIGINT AS block_id,
           (cb % {TP_CTX})::BIGINT AS block_off,
           (floor((cb + n_tok - 1) / {TP_CTX}) - floor(cb / {TP_CTX}) + 1)::BIGINT AS n_blocks
    FROM cum
    """


# ---------------------------------------------------------------------------
# unigram LM scoring, repetition filters, cross-doc dup spans, BPE training
# (ops.textops round-4 additions)

DUP_SPAN_K = 3  # word k-gram size for the cross-doc duplicated-span pass


def q_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style unigram LM scoring: train token counts on the
    corpus (one map-side-combined shuffle), broadcast the vocab back
    onto the exploded corpus, integer-micro-nat per-token NLL summed
    per doc on a pre-explode doc partitioning."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    return T.lm_unigram_score(docs)


def _oracle_lm_score() -> str:
    return """
    WITH base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
    tw AS (SELECT doc_id, unnest(w) AS t FROM base),
    cnt AS (SELECT t, count(*) AS c FROM tw GROUP BY 1),
    st AS (SELECT sum(c) AS tt, count(*) AS v FROM cnt),
    sc AS (SELECT tw.doc_id,
                  floor(-ln((cnt.c + 1.0) / (st.tt + st.v)) * 1000000.0 + 0.5)::BIGINT AS nll
           FROM tw JOIN cnt USING (t) CROSS JOIN st)
    SELECT doc_id::BIGINT AS doc_id, count(*)::BIGINT AS n_tok,
           sum(nll)::BIGINT AS sum_nll_x1e6,
           floor(sum(nll)::DOUBLE / count(*))::BIGINT AS mean_nll_x1e6
    FROM sc GROUP BY 1
    """


def q_lm_bigram(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram LM scoring (first token scored by the unigram model):
    two model-sized count shuffles, broadcast model joins, per-doc
    integer-micro-nat NLL on a pre-explode doc partitioning."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    return T.lm_bigram_score(docs)


def _oracle_lm_bigram() -> str:
    return """
    WITH base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
                  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
    tok AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos FROM base),
    uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY 1),
    st AS (SELECT sum(c1) AS t, count(*) AS v FROM uni),
    tp AS (SELECT doc_id, pos, w,
                  lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS p
           FROM tok),
    big AS (SELECT p, w, count(*) AS c2 FROM tp WHERE p IS NOT NULL GROUP BY 1, 2),
    sc AS (SELECT tp.doc_id,
                  CASE WHEN tp.p IS NULL
                       THEN floor(-ln((u.c1 + 1.0) / (st.t + st.v)) * 1000000.0 + 0.5)
                       ELSE floor(-ln((b.c2 + 1.0) / (up.c1 + st.v)) * 1000000.0 + 0.5)
                  END::BIGINT AS nll
           FROM tp
           JOIN uni u ON tp.w = u.w
           LEFT JOIN uni up ON tp.p = up.w
           LEFT JOIN big b ON tp.p = b.p AND tp.w = b.w
           CROSS JOIN st)
    SELECT doc_id::BIGINT AS doc_id, count(*)::BIGINT AS n_tok,
           sum(nll)::BIGINT AS sum_nll_x1e6,
           floor(sum(nll)::DOUBLE / count(*))::BIGINT AS mean_nll_x1e6
    FROM sc GROUP BY 1
    """


def q_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style within-doc repetition signals (top-bigram /
    top-trigram occupancy, duplicated-5-gram fraction); ONE Exchange —
    doc-id repartition before the gram explode satisfies both the
    count window and the final per-doc aggregate."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    return T.repetition_stats(docs)


def _oracle_repetition() -> str:
    return """
    WITH base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                  FROM documents
                  WHERE text IS NOT NULL AND trim(text) <> ''
                    AND len(regexp_split_to_array(trim(text), '\\s+')) >= 2),
    toks AS (SELECT doc_id, len(w) AS n_tok, unnest(w) AS t,
                    generate_subscripts(w, 1) AS pos
             FROM base),
    led AS (SELECT doc_id, n_tok, t,
                   lead(t, 1) OVER wd AS t1, lead(t, 2) OVER wd AS t2,
                   lead(t, 3) OVER wd AS t3, lead(t, 4) OVER wd AS t4
            FROM toks WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)),
    grams AS (
      SELECT doc_id, n_tok, 2 AS k, t || ' ' || t1 AS g FROM led WHERE t1 IS NOT NULL
      UNION ALL
      SELECT doc_id, n_tok, 3, t || ' ' || t1 || ' ' || t2 FROM led WHERE t2 IS NOT NULL
      UNION ALL
      SELECT doc_id, n_tok, 5, t || ' ' || t1 || ' ' || t2 || ' ' || t3 || ' ' || t4
      FROM led WHERE t4 IS NOT NULL),
    gc AS (SELECT doc_id, n_tok, k, g, count(*) AS c FROM grams GROUP BY 1, 2, 3, 4),
    pk AS (SELECT doc_id, n_tok, k, max(c) AS topc, sum(c) AS n,
                  sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupn
           FROM gc GROUP BY 1, 2, 3)
    SELECT doc_id::BIGINT AS doc_id, max(n_tok)::BIGINT AS n_tok,
           coalesce(max(CASE WHEN k = 2 THEN floor(topc * 1000000.0 / n + 0.5) END), 0)::BIGINT
             AS top_bigram_frac_x1e6,
           coalesce(max(CASE WHEN k = 3 THEN floor(topc * 1000000.0 / n + 0.5) END), 0)::BIGINT
             AS top_trigram_frac_x1e6,
           coalesce(max(CASE WHEN k = 5 THEN floor(dupn * 1000000.0 / n + 0.5) END), 0)::BIGINT
             AS dup_5gram_frac_x1e6
    FROM pk GROUP BY 1
    """


def q_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-doc duplicated word-3-gram spans (the n-gram
    approximation of exact-substring dedup): count-distinct docs per
    gram, join the one-row-per-gram verdict back, roll up per doc."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    return T.dup_span_stats(docs, k=DUP_SPAN_K)


def _oracle_dup_spans() -> str:
    k = DUP_SPAN_K
    return f"""
    WITH base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                  FROM documents
                  WHERE text IS NOT NULL AND trim(text) <> ''
                    AND len(regexp_split_to_array(trim(text), '\\s+')) >= {k}),
    spans AS (SELECT doc_id, array_to_string(w[i:i+{k - 1}], ' ') AS g
              FROM base, UNNEST(range(1, len(w) - {k - 1} + 1)) AS u(i)),
    gd AS (SELECT g, (count(DISTINCT doc_id) >= 2) AS dup FROM spans GROUP BY 1)
    SELECT doc_id::BIGINT AS doc_id, count(*)::BIGINT AS n_spans,
           sum(CASE WHEN dup THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans,
           floor(sum(CASE WHEN dup THEN 1 ELSE 0 END) * 1000000.0 / count(*) + 0.5)::BIGINT
             AS dup_span_frac_x1e6
    FROM spans JOIN gd USING (g) GROUP BY 1
    """


def _oracle_dupspan_hits() -> str:
    """Shared CTE prefix: 0-based duplicate-hit positions per doc."""
    k = DUP_SPAN_K
    return f"""
    base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
             FROM documents
             WHERE text IS NOT NULL AND trim(text) <> ''),
    gr AS (SELECT doc_id, i - 1 AS p, array_to_string(w[i:i+{k - 1}], ' ') AS gg
           FROM base, UNNEST(range(1, len(w) - {k - 1} + 1)) AS u(i)
           WHERE len(w) >= {k}),
    gd AS (SELECT gg, (count(DISTINCT doc_id) >= 2) AS dup FROM gr GROUP BY 1),
    hits AS (SELECT doc_id, p FROM gr JOIN gd USING (gg) WHERE dup)
    """


def q_dup_span_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal cross-doc duplicated spans as half-open token
    intervals — ExactSubstr's actionable output (dup_spans is the
    per-doc rollup of the same verdicts; this emits the intervals a
    cleaning pass cuts). One windowed gaps-and-islands pass after the
    gram verdict; no interval self-join."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    return T.duplicate_span_extract(docs, k=DUP_SPAN_K)


def _oracle_dup_span_extract() -> str:
    k = DUP_SPAN_K
    return f"""
    WITH {_oracle_dupspan_hits()},
    isl AS (SELECT doc_id, p,
              CASE WHEN max(p + {k}) OVER (PARTITION BY doc_id ORDER BY p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                     OR p > max(p + {k}) OVER (PARTITION BY doc_id ORDER BY p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   THEN 1 ELSE 0 END AS new_isl
            FROM hits),
    isl2 AS (SELECT doc_id, p,
               SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY p) AS island
             FROM isl)
    SELECT doc_id::BIGINT AS doc_id, MIN(p)::BIGINT AS span_start,
           (MAX(p) + {k})::BIGINT AS span_end
    FROM isl2 GROUP BY doc_id, island
    """


def q_dup_span_removal(spark: SparkSession, sf: str) -> DataFrame:
    """The cleaning pass: every document's text rebuilt with the
    cross-doc duplicated spans cut out (Lee et al. 2022's dedup
    ACTION), plus kept/removed token accounting. Equi-joins only —
    covered positions are exploded from the hits, never an interval
    join against the corpus."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    return T.remove_duplicate_spans(docs, k=DUP_SPAN_K)


def _oracle_dup_span_removal() -> str:
    k = DUP_SPAN_K
    return f"""
    WITH {_oracle_dupspan_hits()},
    pos AS (SELECT doc_id, i - 1 AS p, w[i] AS tok
            FROM base, UNNEST(range(1, len(w) + 1)) AS u(i)),
    js AS (SELECT unnest(range(0, {k})) AS j),
    covered AS (SELECT DISTINCT doc_id, p + j AS q FROM hits CROSS JOIN js),
    kept AS (SELECT pos.doc_id, pos.p, pos.tok
             FROM pos LEFT JOIN covered
               ON pos.doc_id = covered.doc_id AND pos.p = covered.q
             WHERE covered.q IS NULL),
    reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                   count(*)::BIGINT AS n_kept
            FROM kept GROUP BY 1)
    SELECT b.doc_id::BIGINT AS doc_id,
           COALESCE(reb.clean_text, '') AS clean_text,
           len(b.w)::BIGINT AS n_tokens,
           (len(b.w) - COALESCE(reb.n_kept, 0))::BIGINT AS n_removed
    FROM base b LEFT JOIN reb USING (doc_id)
    """


def q_filter_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-gate funnel: attribute every rejected doc to the FIRST
    failed gate, roll up doc and token mass per stage. One scan + one
    |gates|+1-row aggregate."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    )
    return T.filter_funnel(docs)


def _oracle_filter_funnel() -> str:
    return """
    WITH base AS (
      SELECT text,
             (CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT AS n_tok,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
             greatest(length(text), 1) AS n
      FROM documents),
    lab AS (SELECT n_tok,
              CASE WHEN text IS NULL OR trim(text) = '' THEN 'non_null'
                   WHEN NOT (n_tok >= 20) THEN 'min_len'
                   WHEN NOT (n_tok <= 90) THEN 'max_len'
                   WHEN NOT (n_alpha / n >= 0.8) THEN 'alpha_ratio'
                   WHEN NOT (n_digit / n <= 0.2) THEN 'digit_ratio'
                   ELSE 'kept' END AS stage
            FROM base)
    SELECT stage, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens
    FROM lab GROUP BY 1
    """


def q_quantize_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 embedding quantization with reconstruction-error
    accounting — pure JVM array transforms, scan-speed projection."""
    from hnormalise_spark.ops import similarity as S

    emb = spread_to_cores(
        spark.read.parquet(f"{sf}/embeddings.parquet").select(
            F.col("vec_id").cast("long").alias("vec_id"), "embedding"
        )
    )
    return S.quantize_embeddings(emb).select(
        "vec_id", "scale_x1e9", "qsum", "err_x1e9"
    )


def _oracle_quantize_embeddings() -> str:
    return """
    WITH b AS (SELECT vec_id,
                 embedding,
                 -- ::DOUBLE before the divide: REAL / 127.0 is computed
                 -- in float32 and drifts from Spark's double division
                 list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
                   / 127.0::DOUBLE AS scale
               FROM embeddings),
    q AS (SELECT vec_id, scale, embedding,
            CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
                 ELSE list_transform(embedding,
                        x -> floor(x::DOUBLE / scale + 0.5)::INT) END AS qc
          FROM b)
    SELECT vec_id::BIGINT AS vec_id,
           floor(scale * 1000000000.0 + 0.5)::BIGINT AS scale_x1e9,
           list_sum(qc)::BIGINT AS qsum,
           coalesce(list_sum(list_transform(range(1, len(embedding) + 1),
             i -> floor(abs(embedding[i]::DOUBLE - qc[i]::DOUBLE * scale)
                        * 1000000000.0 + 0.5)::BIGINT)), 0)::BIGINT AS err_x1e9
    FROM q
    """


BUDGET_FRAC = 0.4  # budget_select keeps the best 40% of corpus tokens


def q_budget_select(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget curation: greedy best-quality prefix under a
    token budget (40% of the corpus), computed scalably as histogram
    threshold + boundary-bucket window — the oracle recomputes it with
    the naive global running-sum window and must agree exactly."""
    import math

    from hnormalise_spark.ops import sampling as S
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    scored = docs.select(
        "doc_id",
        F.floor(T.quality_score(F.col("text")) * 10000.0 + 0.5)
        .cast("long")
        .alias("quality_x1e4"),
        T.token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    total = scored.agg(F.sum("n_tok")).collect()[0][0]
    budget = math.floor(total * BUDGET_FRAC)
    return S.budget_select(scored, budget)


def _oracle_budget_select() -> str:
    return f"""
    WITH base AS (
      SELECT doc_id,
             floor(((length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                     / greatest(length(text), 1)) * 0.6
                    + CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                                 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)
                                BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.3 END * 0.3
                    + (1.0 - least((length(regexp_replace(text, '[A-Za-z0-9 \t\n]', '', 'g'))
                                    / greatest(length(text), 1)) * 4, 1.0)) * 0.1)
                   * 10000.0 + 0.5)::BIGINT AS quality_x1e4,
             (CASE WHEN trim(text) = '' THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT AS n_tok
      FROM documents),
    b AS (SELECT floor(sum(n_tok) * {BUDGET_FRAC}) AS budget FROM base),
    c AS (SELECT *, sum(n_tok) OVER (ORDER BY quality_x1e4 DESC, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM base)
    SELECT doc_id::BIGINT AS doc_id, quality_x1e4, n_tok
    FROM c, b WHERE cum <= budget
    """


# per-language budget fractions for budget_select_grouped: exercises a
# full-keep group (fr), partial groups (en/de/es), and a dropped group
# (zh has no budget at all)
GROUP_BUDGET_FRACS = {"en": 0.3, "de": 0.6, "fr": 1.0, "es": 0.1}


def q_budget_select_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language token budgets: independent greedy quality prefix
    per group — one (lang, bucket) histogram shuffle, driver-side
    thresholds, pushed-down keep filter, one boundary window."""
    import math

    from hnormalise_spark.ops import sampling as S
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "lang", "text"
        )
    )
    scored = docs.select(
        "doc_id",
        "lang",
        F.floor(T.quality_score(F.col("text")) * 10000.0 + 0.5)
        .cast("long")
        .alias("quality_x1e4"),
        T.token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    totals = {
        r["lang"]: r["t"]
        for r in scored.groupBy("lang").agg(F.sum("n_tok").alias("t")).collect()
    }
    budgets = {
        g: math.floor(totals.get(g, 0) * frac)
        for g, frac in GROUP_BUDGET_FRACS.items()
    }
    return S.budget_select_grouped(scored, budgets, group_col="lang")


def _oracle_budget_select_grouped() -> str:
    cases = " ".join(
        f"WHEN '{g}' THEN floor(t * {frac})"
        for g, frac in GROUP_BUDGET_FRACS.items()
    )
    return f"""
    WITH base AS (
      SELECT doc_id, lang,
             floor(((length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                     / greatest(length(text), 1)) * 0.6
                    + CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                                 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)
                                BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.3 END * 0.3
                    + (1.0 - least((length(regexp_replace(text, '[A-Za-z0-9 \t\n]', '', 'g'))
                                    / greatest(length(text), 1)) * 4, 1.0)) * 0.1)
                   * 10000.0 + 0.5)::BIGINT AS quality_x1e4,
             (CASE WHEN trim(text) = '' THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT AS n_tok
      FROM documents WHERE lang IS NOT NULL),
    tot AS (SELECT lang, sum(n_tok) AS t FROM base GROUP BY 1),
    b AS (SELECT lang, CASE lang {cases} END AS budget FROM tot),
    c AS (SELECT base.*, sum(n_tok) OVER (PARTITION BY lang
                                          ORDER BY quality_x1e4 DESC, doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM base)
    SELECT doc_id::BIGINT AS doc_id, lang, quality_x1e4, n_tok
    FROM c JOIN b USING (lang) WHERE budget IS NOT NULL AND cum <= budget
    """


# curation_pipeline thresholds: repetition gate keeps ~85% of docs,
# the LM band keeps the middle of the NLL distribution (the CCNet
# recipe: drop both the too-predictable and the too-surprising tails)
CUR_REP_MAX = 60_000
CUR_NLL_LO, CUR_NLL_HI = 3_390_000, 3_420_000
CUR_BUDGET_FRAC = 0.5


def q_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Composed round-4b curation flagship: repetition gate → unigram
    LM perplexity band → token-budget quality selection, one oracle.
    Each stage is the library operator; the joins are doc-keyed and
    the budget is recomputed from the SURVIVING token mass (so the
    stages genuinely feed each other, not three independent passes)."""
    import math

    from hnormalise_spark.ops import sampling as S
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    rep_ok = (
        T.repetition_stats(docs)
        .filter(F.col("top_bigram_frac_x1e6") <= CUR_REP_MAX)
        .select("doc_id", "n_tok")
    )
    lm_ok = (
        T.lm_unigram_score(docs)
        .filter(F.col("mean_nll_x1e6").between(CUR_NLL_LO, CUR_NLL_HI))
        .select("doc_id", "mean_nll_x1e6")
    )
    qual = docs.select(
        "doc_id",
        F.floor(T.quality_score(F.col("text")) * 10000.0 + 0.5)
        .cast("long")
        .alias("quality_x1e4"),
    )
    # the survivor frame feeds four downstream actions (budget total,
    # bucket histogram, keep filter, boundary window) — persist it so
    # the repetition+LM chain runs once, not four times
    surv = rep_ok.join(lm_ok, "doc_id").join(qual, "doc_id").persist()
    total = surv.agg(F.sum("n_tok")).collect()[0][0] or 0
    budget = math.floor(total * CUR_BUDGET_FRAC)
    sel = S.budget_select(
        surv.select("doc_id", "quality_x1e4", "n_tok"), budget
    )
    return sel.join(surv.select("doc_id", "mean_nll_x1e6"), "doc_id")


def _oracle_curation_pipeline() -> str:
    return f"""
    WITH rep AS (SELECT doc_id, n_tok FROM ({_oracle_repetition()})
                 WHERE top_bigram_frac_x1e6 <= {CUR_REP_MAX}),
    lm AS (SELECT doc_id, mean_nll_x1e6 FROM ({_oracle_lm_score()})
           WHERE mean_nll_x1e6 BETWEEN {CUR_NLL_LO} AND {CUR_NLL_HI}),
    qual AS (
      SELECT doc_id,
             floor(((length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                     / greatest(length(text), 1)) * 0.6
                    + CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                                 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)
                                BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.3 END * 0.3
                    + (1.0 - least((length(regexp_replace(text, '[A-Za-z0-9 \t\n]', '', 'g'))
                                    / greatest(length(text), 1)) * 4, 1.0)) * 0.1)
                   * 10000.0 + 0.5)::BIGINT AS quality_x1e4
      FROM documents),
    surv AS (SELECT rep.doc_id, rep.n_tok, lm.mean_nll_x1e6, qual.quality_x1e4
             FROM rep JOIN lm USING (doc_id) JOIN qual USING (doc_id)),
    b AS (SELECT floor(coalesce(sum(n_tok), 0) * {CUR_BUDGET_FRAC}) AS budget FROM surv),
    c AS (SELECT *, sum(n_tok) OVER (ORDER BY quality_x1e4 DESC, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM surv)
    SELECT doc_id::BIGINT AS doc_id, quality_x1e4, n_tok, mean_nll_x1e6
    FROM c, b WHERE cum <= budget
    """


def q_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative BPE training (8 merges) — corpus touched once, loop
    over the vocabulary. Each merge depends on the previous, so the
    DuckDB oracle UNROLLS the loop: 8 chained (pair-count → argmax →
    recursive-CTE greedy fusion) blocks re-derive the whole merge
    table independently in one SQL statement — no value is smuggled
    from the Spark side. Pytest additionally pins the sequence against
    a pure-Python reference implementation."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select("text")
    )
    return T.bpe_train(docs, n_merges=8)


BPE_MERGES = 8


def _bpe_train_ctes(n_merges: int = BPE_MERGES) -> str:
    """The WITH-chain re-deriving BPE training in pure DuckDB SQL, one
    unrolled block per merge: pairs{m} counts adjacent symbol pairs
    over vocab{m-1} weighted by word count, top{m} is the
    deterministic argmax (count desc, left asc, right asc — the same
    tiebreak as ``textops.bpe_train``), and fuse{m} is a recursive CTE
    running the identical greedy left-to-right fold per vocabulary
    word (the accumulator-tail check: a row steps one symbol per
    recursion level, so total recursion rows = Σ word lengths over the
    VOCABULARY — small). Shared by the train and encode oracles."""
    ctes = [
        """words AS (
    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
    FROM documents WHERE text IS NOT NULL)""",
        """vocab0 AS (
    SELECT w, count(*)::BIGINT AS wc, regexp_split_to_array(w, '') AS syms
    FROM words WHERE w <> '' GROUP BY w)""",
    ]
    for m in range(1, n_merges + 1):
        p = m - 1
        ctes.append(f"""pairs{m} AS (
    SELECT v.wc, v.syms[i] AS l, v.syms[i+1] AS r
    FROM vocab{p} v, UNNEST(range(1, len(v.syms))) t(i)
    WHERE len(v.syms) >= 2)""")
        ctes.append(f"""top{m} AS (
    SELECT l, r, sum(wc)::BIGINT AS c
    FROM pairs{m} GROUP BY 1, 2
    ORDER BY c DESC, l ASC, r ASC LIMIT 1)""")
        ctes.append(f"""fuse{m} AS (
    SELECT v.w, v.wc, v.syms, []::VARCHAR[] AS acc, 1 AS i, t.l, t.r
    FROM vocab{p} v, top{m} t
    UNION ALL
    SELECT w, wc, syms,
           CASE WHEN len(acc) > 0 AND acc[len(acc)] = l AND syms[i] = r
                THEN list_append(acc[1:len(acc)-1], l || r)
                ELSE list_append(acc, syms[i]) END,
           i + 1, l, r
    FROM fuse{m} WHERE i <= len(syms))""")
        ctes.append(f"""vocab{m} AS (
    SELECT w, wc, acc AS syms FROM fuse{m} WHERE i = len(syms) + 1)""")
    return "WITH RECURSIVE " + ",\n".join(ctes)


def _oracle_bpe_train() -> str:
    selects = " UNION ALL ".join(
        f"SELECT {m - 1} AS merge_rank, l AS \"left\", r AS \"right\", "
        f"l || r AS merged, c AS pair_count FROM top{m}"
        for m in range(1, BPE_MERGES + 1)
    )
    return (
        _bpe_train_ctes()
        + f"""
SELECT merge_rank::INT AS merge_rank, "left", "right", merged, pair_count
FROM ({selects}) ORDER BY merge_rank
"""
    )


def _oracle_bpe_encode() -> str:
    return (
        _bpe_train_ctes()
        + f""",
docw AS (
    SELECT doc_id::BIGINT AS doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
    FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
SELECT doc_id, count(*)::BIGINT AS n_words,
       sum(length(w))::BIGINT AS n_chars,
       sum(len(v.syms))::BIGINT AS n_bpe_tokens
FROM docw JOIN vocab{BPE_MERGES} v USING (w)
GROUP BY doc_id
"""
    )


GATED_QUALITY_MIN = 8930  # quality_x1e4 gate (~corpus median: the gate actually bites)
GATED_K = 20


def q_quality_gated_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-gated retrieval across tables: top-k by cosine among
    documents passing a quality gate (the 'retrieve only from curated
    docs' pattern). The gate filters the documents scan FIRST (column-
    pruned to doc_id+text), the surviving ids join the embeddings on
    the shared id (co-partitionable equi-join at scale), scoring is
    map-side against the literal query vector, top-k is
    TakeOrderedAndProject."""
    from hnormalise_spark.ops import similarity as S
    from hnormalise_spark.ops import textops as T

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    gated = docs.select(
        "doc_id",
        F.floor(T.quality_score(F.col("text")) * 10000.0 + 0.5)
        .cast("long")
        .alias("quality_x1e4"),
    ).filter(F.col("quality_x1e4") >= GATED_QUALITY_MIN)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("doc_id"), "embedding"
    )
    scored = S.cosine_scores(gated.join(emb, "doc_id"), QVEC)
    return (
        scored.select(
            "doc_id",
            "quality_x1e4",
            F.floor(F.col("cosine") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("cos_x1e6"),
        )
        .orderBy(F.desc("cos_x1e6"), "doc_id")
        .limit(GATED_K)
    )


def _oracle_quality_gated_topk() -> str:
    return f"""
    WITH q AS (
      SELECT doc_id,
             floor(((length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                     / greatest(length(text), 1)) * 0.6
                    + CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                                 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)
                                BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.3 END * 0.3
                    + (1.0 - least((length(regexp_replace(text, '[A-Za-z0-9 \t\n]', '', 'g'))
                                    / greatest(length(text), 1)) * 4, 1.0)) * 0.1)
                   * 10000.0 + 0.5)::BIGINT AS quality_x1e4
      FROM documents),
    g AS (SELECT doc_id, quality_x1e4 FROM q WHERE quality_x1e4 >= {GATED_QUALITY_MIN}),
    s AS (SELECT g.doc_id, g.quality_x1e4,
                 list_sum(list_transform(range(1, {EMB_DIM + 1}),
                          i -> e.embedding[i]::DOUBLE * ({{qvec}})[i]))
                 / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
                    * {{qnorm}}) AS cos
          FROM g JOIN embeddings e ON g.doc_id = e.vec_id)
    SELECT doc_id, quality_x1e4,
           floor(cos * 1000000.0 + 0.5)::BIGINT AS cos_x1e6
    FROM s ORDER BY cos_x1e6 DESC, doc_id LIMIT {GATED_K}
    """.replace("{qvec}", _qvec_sql()).replace("{qnorm}", repr(_QNORM))


TFIDF_K = 3


def q_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc top-3 keywords by smoothed tf-idf: one corpus Exchange
    (doc repartition feeds the tf aggregate and the top-k window),
    broadcast document frequencies."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    return T.tfidf_topk(docs, k=TFIDF_K)


def _oracle_tfidf_topk() -> str:
    return f"""
    WITH base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
    ex AS (SELECT doc_id, unnest(w) AS term FROM base),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT count(*) AS n FROM base),
    sc AS (SELECT tf.doc_id, tf.term,
                  floor(tf.tf * ln((nd.n + 1.0) / (dfq.df + 1.0)) * 1000000.0 + 0.5)::BIGINT
                    AS tfidf_x1e6
           FROM tf JOIN dfq USING (term) CROSS JOIN nd),
    rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                        ORDER BY tfidf_x1e6 DESC, term) AS rn
           FROM sc)
    SELECT doc_id::BIGINT AS doc_id, term, tfidf_x1e6 FROM rk WHERE rn <= {TFIDF_K}
    """


def q_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer closure: train 8 BPE merges on the corpus, then apply
    them vocab-side and report per-doc compression (words, chars,
    post-merge subword count). The DuckDB oracle re-derives the merges
    itself (unrolled recursive-CTE training, see ``_bpe_train_ctes``)
    and re-encodes every doc; pytest additionally pins the encode fold
    against a pure-Python reference."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    merges = [
        (r["left"], r["right"])
        for r in T.bpe_train(docs, n_merges=8).orderBy("merge_rank").collect()
    ]
    return T.bpe_encode(docs, merges)


# ---------------------------------------------------------------------------
# registry


def q_winnow_fp(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (textops.winnow_fingerprints,
    SIGMOD'03): per-doc scalar digest of the fingerprint set so the
    oracle pins the k-gram polynomial hash, the window-minimum
    selection, and the distinct-sort bit-for-bit."""
    from hnormalise_spark.ops.textops import winnow_fingerprints

    df = spread_to_cores(spark.read.parquet(f"{sf}/documents.parquet"))
    out = winnow_fingerprints(df, "text", k=8, w=4)
    fps = F.col("fingerprints")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(fps).cast("long").alias("n_fp"),
        F.try_element_at(fps, F.lit(1)).alias("fp_min"),
        F.try_element_at(fps, F.lit(-1)).alias("fp_max"),
        F.aggregate(fps, F.lit(0).cast("long"), lambda a, x: a + x).alias("fp_sum"),
    )


# identical arithmetic: list_reduce's first-element seeding IS the
# polynomial fold (c0*B^(k-1) + ... + c7); list slices are 1-based
# inclusive like Spark's slice(start, length). The CTE chain is shared
# by the per-doc digest oracle and the pair-finding oracle.
_WINNOW_CTE = """
    WITH d AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS t
      FROM documents),
    h AS (
      SELECT doc_id,
             CASE WHEN length(t) >= 8 THEN
               list_transform(range(1, length(t) - 8 + 2), i ->
                 list_reduce(
                   list_transform(range(0, 8), j -> ascii(substr(t, i + j, 1))::BIGINT),
                   (acc, x) -> acc * 31 + x) % 1000000007)
             END AS hs
      FROM d),
    m AS (
      SELECT doc_id,
             CASE WHEN hs IS NULL THEN []::BIGINT[]
                  ELSE list_sort(list_distinct(
                    list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                                   i -> list_min(hs[i:i+3]))))
             END AS fps
      FROM h)
"""


def _oracle_winnow_fp() -> str:
    return _WINNOW_CTE + """
    SELECT doc_id,
           len(fps)::BIGINT AS n_fp,
           CASE WHEN len(fps) > 0 THEN fps[1] END::BIGINT AS fp_min,
           CASE WHEN len(fps) > 0 THEN fps[-1] END::BIGINT AS fp_max,
           COALESCE(list_aggregate(fps, 'sum'), 0)::BIGINT AS fp_sum
    FROM m
    """


def q_winnow_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing pair-finding (the MOSS dedup stage): docs sharing >= 3
    surviving fingerprints, hot boilerplate fingerprints (doc frequency
    > 10) dropped before the self-join — the skew guard that keeps the
    join linear at corpus scale."""
    from hnormalise_spark.ops.textops import winnow_dup_pairs

    df = spread_to_cores(spark.read.parquet(f"{sf}/documents.parquet"))
    out = winnow_dup_pairs(df, "text", k=8, w=4, min_shared=3, max_df=10)
    return out.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("shared").cast("long").alias("shared"),
    )


def _oracle_winnow_pairs() -> str:
    return _WINNOW_CTE + """
    , f AS (SELECT doc_id, unnest(fps) AS fp FROM m),
    fd AS (SELECT doc_id, fp,
                  COUNT(*) OVER (PARTITION BY fp) AS dfreq FROM f),
    ok AS (SELECT doc_id, fp FROM fd WHERE dfreq <= 10)
    SELECT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b,
           COUNT(*)::BIGINT AS shared
    FROM ok a JOIN ok b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    """


def q_events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel over the events table: first view <
    first click < first purchase per user, ONE user-keyed shuffle (see
    ops/timeseries.funnel for the no-self-join argument)."""
    from hnormalise_spark.ops.timeseries import funnel

    ev = spark.read.parquet(f"{sf}/events.parquet")
    out = funnel(ev, steps=("view", "click", "purchase"))
    return out.select("step", F.col("n_users").cast("long").alias("n_users"))


def _oracle_events_funnel() -> str:
    return """
    WITH p AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t1,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
      FROM events GROUP BY user_id)
    SELECT 'view' AS step,
           COUNT(*) FILTER (t0 IS NOT NULL)::BIGINT AS n_users FROM p
    UNION ALL
    SELECT 'click', COUNT(*) FILTER (t0 IS NOT NULL AND t1 > t0)::BIGINT FROM p
    UNION ALL
    SELECT 'purchase',
           COUNT(*) FILTER (t0 IS NOT NULL AND t1 > t0 AND t2 > t1)::BIGINT FROM p
    """


def q_events_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention over the events table (cohort = first
    active week; one user-keyed shuffle + calendar-bounded collect_set,
    no join back to the fact table)."""
    from hnormalise_spark.ops.timeseries import retention_cohorts

    ev = spark.read.parquet(f"{sf}/events.parquet")
    out = retention_cohorts(ev)
    return out.select(
        F.col("cohort").cast("long").alias("cohort"),
        F.col("period").cast("long").alias("period"),
        F.col("n_users").cast("long").alias("n_users"),
    )


def _oracle_events_retention() -> str:
    return """
    WITH uw AS (
      SELECT DISTINCT user_id,
             floor(date_diff('day', DATE '2024-01-01', ts::DATE) / 7)::BIGINT AS wk
      FROM events),
    c AS (SELECT user_id, MIN(wk) AS cohort FROM uw GROUP BY user_id)
    SELECT c.cohort::BIGINT AS cohort, uw.wk::BIGINT AS period,
           COUNT(*)::BIGINT AS n_users
    FROM uw JOIN c USING (user_id) GROUP BY 1, 2
    """


def q_events_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order event-transition matrix (one user-partitioned lag
    window feeding a tiny map-side-combined aggregate)."""
    from hnormalise_spark.ops.timeseries import transition_matrix

    ev = spark.read.parquet(f"{sf}/events.parquet")
    out = transition_matrix(ev)
    return out.select(
        "prev_type", "next_type", F.col("n").cast("long").alias("n")
    )


def _oracle_events_transitions() -> str:
    return """
    WITH o AS (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type AS next_type, COUNT(*)::BIGINT AS n
    FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2
    """


def q_revenue_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """Classic multi-way analytic join (the TPC-H revenue-rollup
    shape): lineitem ⋈ orders co-keyed on orderkey (the one real
    shuffle), customer and nation broadcast onto the stream. Revenue
    in integer cents so both engines sum exactly."""
    # floor(x*100 + 0.5): cast-to-long TRUNCATES in Spark but ROUNDS in
    # DuckDB — floor on the identical double is engine-stable (same
    # convention as quality_x1e4)
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
        .cast("long")
        .alias("rev_cents"),
    )
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cust = spark.read.parquet(f"{sf}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    nation = spark.read.parquet(f"{sf}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum("rev_cents").cast("long").alias("revenue_cents"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


def _oracle_revenue_by_nation() -> str:
    return """
    SELECT n.n_name AS nation,
           SUM(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)::BIGINT)::BIGINT
             AS revenue_cents,
           COUNT(*)::BIGINT AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """


def q_events_active_users(spark: SparkSession, sf: str) -> DataFrame:
    """Per-day DAU + rolling 7-day distinct actives (see
    ops/timeseries.active_users for the explode-not-collect_set scale
    argument). Day rendered as an ISO string for the cross-engine
    compare."""
    from hnormalise_spark.ops.timeseries import active_users

    ev = spark.read.parquet(f"{sf}/events.parquet")
    out = active_users(ev)
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("dau").cast("long").alias("dau"),
        F.col("wau").cast("long").alias("wau"),
    )


def _oracle_events_active_users() -> str:
    return """
    WITH ud AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
    dau AS (SELECT day, COUNT(*)::BIGINT AS dau FROM ud GROUP BY day),
    wau AS (
      SELECT d.day, COUNT(DISTINCT u.user_id)::BIGINT AS wau
      FROM (SELECT DISTINCT day FROM ud) d
      JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day)
    SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau
    FROM dau JOIN wau ON dau.day = wau.day
    """


def q_json_props(spark: SparkSession, sf: str) -> DataFrame:
    """Typed JSON extraction from the events props column (P2
    getJsonKey generalized to the analytics side): per event_type, sum
    and max of props.k plus how many rows carry k > 50 — the JSON parse
    stays JVM-side (get_json_object) and feeds a map-side-combined
    aggregate."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    k = F.get_json_object("props", "$.k").try_cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").cast("long").alias("max_k"),
            F.sum((F.col("k") > 50).cast("long")).cast("long").alias("n_over_50"),
        )
    )


def _oracle_json_props() -> str:
    return """
    WITH j AS (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events)
    SELECT event_type, SUM(k)::BIGINT AS sum_k, MAX(k)::BIGINT AS max_k,
           SUM(CASE WHEN k > 50 THEN 1 ELSE 0 END)::BIGINT AS n_over_50
    FROM j GROUP BY event_type
    """


def q_brand_volume_by_region(spark: SparkSession, sf: str) -> DataFrame:
    """Four-way star join covering the remaining dimension tables:
    lineitem fact ⋈ supplier ⋈ nation ⋈ region (all three dims
    broadcast — the fact side never shuffles for a join) ⋈ part
    (broadcast too at these SFs), rolled up to (region, brand) quantity
    and revenue. Every base table in the driver's catalog now feeds at
    least one oracled query."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_suppkey",
        "l_partkey",
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
        .cast("long")
        .alias("rev_cents"),
    )
    sup = spark.read.parquet(f"{sf}/supplier.parquet").select("s_suppkey", "s_nationkey")
    nat = spark.read.parquet(f"{sf}/nation.parquet").select("n_nationkey", "n_regionkey")
    reg = spark.read.parquet(f"{sf}/region.parquet").select("r_regionkey", "r_name")
    part = spark.read.parquet(f"{sf}/part.parquet").select("p_partkey", "p_brand")
    joined = (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    )
    return joined.groupBy(
        F.col("r_name").alias("region"), F.col("p_brand").alias("brand")
    ).agg(
        F.sum("qty").cast("long").alias("total_qty"),
        F.sum("rev_cents").cast("long").alias("revenue_cents"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


def _oracle_brand_volume_by_region() -> str:
    return """
    SELECT r.r_name AS region, p.p_brand AS brand,
           SUM(floor(l.l_quantity + 0.5)::BIGINT)::BIGINT AS total_qty,
           SUM(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)::BIGINT)::BIGINT
             AS revenue_cents,
           COUNT(*)::BIGINT AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    """


def q_distinct_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type cardinality profile: total events plus EXACT
    distinct users and distinct active days in ONE pass (Spark's
    Expand + partial-dedup-before-shuffle multi-distinct plan — see
    ops/timeseries.distinct_profile for the 100-TB argument)."""
    from hnormalise_spark.ops.timeseries import distinct_profile

    ev = spark.read.parquet(f"{sf}/events.parquet")
    d = distinct_profile(ev)
    return d.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_users").cast("long").alias("n_users"),
        F.col("n_days").cast("long").alias("n_days"),
    )


def _oracle_distinct_counts() -> str:
    return """
    SELECT event_type,
           COUNT(*)::BIGINT AS n_events,
           COUNT(DISTINCT user_id)::BIGINT AS n_users,
           COUNT(DISTINCT ts::DATE)::BIGINT AS n_days
    FROM events GROUP BY event_type
    """


# ---------------------------------------------------------------------------
# token-table operators (ops.tokenops): dedup and DSIR selection over
# the canonical (doc_id, tokens:array<int>, n_tok, source) shape

DSIR_D = 4096


def _codepoint_tokens() -> "Column":
    """documents.text → array<int> of codepoints: the deterministic
    small-scale stand-in for the pre-tokenized input table (same
    construction the oracle replays with a DuckDB list comprehension)."""
    return F.when(
        F.col("text").isNull() | (F.length("text") == 0),
        F.array().cast("array<int>"),
    ).otherwise(
        F.expr(
            "transform(sequence(1, length(text)), i -> ascii(substr(text, i, 1)))"
        ).cast("array<int>")
    )


def q_token_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact sequence dedup directly on token arrays (no detokenize):
    md5 fingerprint of the comma-joined codes, keeper = min doc_id.
    Injected copies (doc_id+200000) must land in their source's
    group."""
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    dup = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    toked = docs.unionByName(dup).select(
        "doc_id", _codepoint_tokens().alias("tokens")
    )
    out = TK.token_exact_dedup(toked)
    return out.select(
        "doc_id",
        "fingerprint",
        F.col("group_size").cast("long").alias("group_size"),
        F.col("is_dup").cast("int").alias("is_dup"),
    )


def _oracle_token_dedup() -> str:
    return """
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000, text FROM documents WHERE doc_id % 13 = 0),
    tok AS (SELECT doc_id,
              CASE WHEN text IS NULL OR length(text) = 0 THEN ''
                   ELSE array_to_string([ascii(c) FOR c IN split(text, '')], ',')
              END AS ts
            FROM all_docs)
    SELECT doc_id, md5(ts) AS fingerprint,
           count(*) OVER (PARTITION BY md5(ts))::BIGINT AS group_size,
           (doc_id != min(doc_id) OVER (PARTITION BY md5(ts)))::INT AS is_dup
    FROM tok
    """


def q_token_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate sequences via token 8-gram MinHash+LSH — the
    text near-dup path's twin over the pre-tokenized shape. Injected
    near-dups (a short appended tail) must pair with their source."""
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    mut = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz xx cc")).alias("text"),
    )
    toked = docs.unionByName(mut).select(
        "doc_id", _codepoint_tokens().alias("tokens")
    )
    pairs = TK.token_minhash_dedup(toked, n=8, k=16, bands=4, threshold=0.5)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.floor(F.col("jaccard") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("jacc_x1e6"),
    )


def _oracle_token_neardup() -> str:
    from hnormalise_spark.ops.dedup import MINHASH_P, minhash_params

    k, bands, rows, n = 16, 4, 4, 8
    params = minhash_params(k)
    hex7 = " + ".join(
        f"{16 ** (6 - j)} * (strpos('0123456789abcdef', substr(md5(x), {j + 1}, 1)) - 1)"
        for j in range(7)
    )
    sig = ", ".join(
        f"list_min(list_transform(hv, h -> ({a}::BIGINT * h + {b}) % {MINHASH_P})) AS g{i}"
        for i, (a, b) in enumerate(params)
    )
    band_list = ", ".join(
        f"md5('b{b}:' || "
        + " || '|' || ".join(f"g{b * rows + r}::VARCHAR" for r in range(rows))
        + ")"
        for b in range(bands)
    )
    return f"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text || ' zz xx cc' FROM documents WHERE doc_id % 11 = 0),
    tok AS (SELECT doc_id AS id,
              CASE WHEN text IS NULL OR length(text) = 0 THEN []
                   ELSE [ascii(c) FOR c IN split(text, '')] END AS codes
            FROM all_docs),
    sh AS (SELECT id,
             CASE WHEN len(codes) < {n} THEN [array_to_string(codes, ',')]
                  ELSE list_distinct(list_transform(range(1, len(codes) - {n - 2}),
                         i -> array_to_string(codes[i:i + {n - 1}], ','))) END AS s
           FROM tok WHERE len(codes) > 0),
    hv AS (SELECT id, s, list_transform(s, x -> {hex7}) AS hv FROM sh),
    sig AS (SELECT id, s, {sig} FROM hv),
    band AS (SELECT id, s, unnest([{band_list}]) AS bk FROM sig),
    pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                     len(list_intersect(a.s, b.s)) AS inter,
                     len(a.s) AS la, len(b.s) AS lb
              FROM band a JOIN band b ON a.bk = b.bk AND a.id < b.id)
    SELECT id_a, id_b,
           floor(inter / (la + lb - inter) * 1000000.0 + 0.5)::BIGINT AS jacc_x1e6
    FROM pairs WHERE inter / (la + lb - inter) >= 0.5
    """


def q_token_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram-LM perplexity directly on token ids (int model keys) —
    the lm_bigram quality filter without detokenising."""
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    toked = docs.select("doc_id", _codepoint_tokens().alias("tokens"))
    return TK.token_lm_bigram(toked)


def _oracle_token_lm() -> str:
    return """
    WITH tok0 AS (SELECT doc_id,
            CASE WHEN text IS NULL OR length(text) = 0 THEN []
                 ELSE [ascii(c) FOR c IN split(text, '')] END AS codes
          FROM documents),
    base AS (SELECT doc_id, codes FROM tok0 WHERE len(codes) > 0),
    tok AS (SELECT doc_id, unnest(codes) AS w,
                   generate_subscripts(codes, 1) AS pos FROM base),
    uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY 1),
    st AS (SELECT sum(c1) AS t, count(*) AS v FROM uni),
    tp AS (SELECT doc_id, pos, w,
                  lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS p
           FROM tok),
    big AS (SELECT p, w, count(*) AS c2 FROM tp WHERE p IS NOT NULL GROUP BY 1, 2),
    sc AS (SELECT tp.doc_id,
                  CASE WHEN tp.p IS NULL
                       THEN floor(-ln((u.c1 + 1.0) / (st.t + st.v)) * 1000000.0 + 0.5)
                       ELSE floor(-ln((b.c2 + 1.0) / (up.c1 + st.v)) * 1000000.0 + 0.5)
                  END::BIGINT AS nll
           FROM tp
           JOIN uni u ON tp.w = u.w
           LEFT JOIN uni up ON tp.p = up.w
           LEFT JOIN big b ON tp.p = b.p AND tp.w = b.w
           CROSS JOIN st)
    SELECT doc_id::BIGINT AS doc_id, count(*)::BIGINT AS n_tok,
           sum(nll)::BIGINT AS sum_nll_x1e6,
           floor(sum(nll)::DOUBLE / count(*))::BIGINT AS mean_nll_x1e6
    FROM sc GROUP BY 1
    """


def q_token_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup DECISION step on the token table: token-8-gram
    MinHash+LSH pairs -> connected components (min-label propagation,
    O(diameter) rounds) -> full-corpus cluster assignment with one
    canonical keeper per cluster — the text path's dedup_clusters twin
    over pre-tokenized sequences, so a 10^12-row corpus picks its
    keep-set without ever detokenising."""
    from hnormalise_spark.ops import dedup as D
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    mut = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz xx cc")).alias("text"),
    )
    toked = docs.unionByName(mut).select(
        "doc_id", _codepoint_tokens().alias("tokens")
    )
    pairs = TK.token_minhash_dedup(toked, n=8, k=16, bands=4, threshold=0.5)
    out = D.assign_clusters(toked.select("doc_id"), pairs, id_col="doc_id")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("is_canonical").alias("is_canonical"),
    )


def _oracle_token_clusters() -> str:
    return f"""
    WITH RECURSIVE p AS ({_oracle_token_neardup()}),
    all_ids AS (
      SELECT doc_id AS id FROM documents
      UNION ALL
      SELECT doc_id + 100000 FROM documents WHERE doc_id % 11 = 0),
    e AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
    reach AS (
      SELECT src AS node, dst AS r FROM e
      UNION
      SELECT reach.node, e.dst FROM reach JOIN e ON reach.r = e.src
    ),
    lab AS (SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node)
    SELECT a.id::BIGINT AS doc_id,
           coalesce(lab.cluster_id, a.id)::BIGINT AS cluster_id,
           (coalesce(lab.cluster_id, a.id) = a.id) AS is_canonical
    FROM all_ids a LEFT JOIN lab ON a.id = lab.node
    """


def q_dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR hashed-n-gram importance scoring (Xie et al. 2023):
    target = the English slice of the corpus, raw = everything; each
    doc scores sum of per-feature log p_target/p_raw in micro-nats."""
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text", "lang"
        )
    )
    words = F.when(
        F.col("text").isNull() | (F.trim(F.col("text")) == ""),
        F.array().cast("array<string>"),
    ).otherwise(F.split(F.trim(F.col("text")), r"\s+"))
    base = docs.select("doc_id", words.alias("tokens"), "lang")
    tgt = base.filter(F.col("lang") == "en")
    return TK.dsir_score(base, tgt, n_buckets=DSIR_D).select(
        "doc_id",
        F.col("n_feat").cast("long").alias("n_feat"),
        F.col("dsir_x1e6").cast("long").alias("dsir_x1e6"),
    )


def _oracle_dsir_select() -> str:
    d = DSIR_D
    return f"""
    WITH docs AS (SELECT doc_id, lang,
            CASE WHEN text IS NULL OR trim(text) = '' THEN []
                 ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
          FROM documents),
    ne AS (SELECT * FROM docs WHERE len(w) > 0),
    feat AS (
      SELECT doc_id, lang, f FROM ne, UNNEST(w) AS t(f)
      UNION ALL
      SELECT doc_id, lang, w[i] || ' ' || w[i + 1]
      FROM ne, UNNEST(range(1, len(w))) AS r(i) WHERE len(w) >= 2),
    fb AS (SELECT doc_id, lang,
             ('0x' || substr(md5('dsf|' || f), 1, 15))::BIGINT % {d} AS b
           FROM feat),
    rc AS (SELECT b, count(*)::BIGINT AS cr FROM fb GROUP BY 1),
    tc AS (SELECT b, count(*)::BIGINT AS ct FROM fb WHERE lang = 'en' GROUP BY 1),
    tot AS (SELECT (SELECT sum(cr) FROM rc)::BIGINT AS R,
                   (SELECT coalesce(sum(ct), 0) FROM tc)::BIGINT AS T),
    wt AS (SELECT rc.b,
             floor((ln((coalesce(tc.ct, 0) + 1)::DOUBLE / (T + {d})::DOUBLE)
                  - ln((rc.cr + 1)::DOUBLE / (R + {d})::DOUBLE)) * 1e6 + 0.5)::BIGINT AS wt
           FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot)
    SELECT fb.doc_id::BIGINT AS doc_id,
           count(*)::BIGINT AS n_feat,
           sum(wt.wt)::BIGINT AS dsir_x1e6
    FROM fb JOIN wt USING (b)
    GROUP BY 1
    """


def q_dsir_curation(spark: SparkSession, sf: str) -> DataFrame:
    """Composed selection flagship — the published DSIR recipe end to
    end: score every doc against the English target distribution
    (hashed n-gram log-ratio), quantize to deci-nat quality buckets,
    and keep the best-scoring docs under a 40% token budget via the
    scalable histogram-threshold cut (no global sort; the oracle
    recomputes the naive global greedy prefix and must agree exactly).

    n_tok falls out of the DSIR feature count for free
    (n_feat = 2·n_tok − 1 for non-empty docs), so selection adds no
    second corpus scan."""
    import math

    from hnormalise_spark.ops import sampling as S
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text", "lang"
        )
    )
    words = F.when(
        F.col("text").isNull() | (F.trim(F.col("text")) == ""),
        F.array().cast("array<string>"),
    ).otherwise(F.split(F.trim(F.col("text")), r"\s+"))
    base = docs.select("doc_id", words.alias("tokens"), "lang")
    # three downstream actions (token total, budget histogram, final
    # filter+window) would each replay the full DSIR scoring DAG —
    # persist the small (doc_id, bucket, n_tok) frame so the corpus
    # feature explode runs once
    scored = TK.dsir_score(
        base, base.filter(F.col("lang") == "en"), n_buckets=DSIR_D
    ).select(
        "doc_id",
        F.floor(F.col("dsir_x1e6") / F.lit(100000.0))
        .cast("long")
        .alias("dsir_decinat"),
        ((F.col("n_feat") + 1) / 2).cast("long").alias("n_tok"),
    ).persist()
    total = scored.agg(F.sum("n_tok")).collect()[0][0]  # scalar only
    return S.budget_select(
        scored, math.floor(total * BUDGET_FRAC), quality_col="dsir_decinat"
    )


def _oracle_dsir_curation() -> str:
    d = DSIR_D
    return f"""
    WITH docs AS (SELECT doc_id, lang,
            CASE WHEN text IS NULL OR trim(text) = '' THEN []
                 ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
          FROM documents),
    ne AS (SELECT * FROM docs WHERE len(w) > 0),
    feat AS (
      SELECT doc_id, lang, f FROM ne, UNNEST(w) AS t(f)
      UNION ALL
      SELECT doc_id, lang, w[i] || ' ' || w[i + 1]
      FROM ne, UNNEST(range(1, len(w))) AS r(i) WHERE len(w) >= 2),
    fb AS (SELECT doc_id, lang,
             ('0x' || substr(md5('dsf|' || f), 1, 15))::BIGINT % {d} AS b
           FROM feat),
    rc AS (SELECT b, count(*)::BIGINT AS cr FROM fb GROUP BY 1),
    tc AS (SELECT b, count(*)::BIGINT AS ct FROM fb WHERE lang = 'en' GROUP BY 1),
    tot AS (SELECT (SELECT sum(cr) FROM rc)::BIGINT AS R,
                   (SELECT coalesce(sum(ct), 0) FROM tc)::BIGINT AS T),
    wt AS (SELECT rc.b,
             floor((ln((coalesce(tc.ct, 0) + 1)::DOUBLE / (T + {d})::DOUBLE)
                  - ln((rc.cr + 1)::DOUBLE / (R + {d})::DOUBLE)) * 1e6 + 0.5)::BIGINT AS wt
           FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot),
    scored AS (SELECT fb.doc_id,
                 floor(sum(wt.wt) / 100000.0)::BIGINT AS dsir_decinat,
                 ((count(*) + 1) / 2)::BIGINT AS n_tok
               FROM fb JOIN wt USING (b) GROUP BY 1),
    bud AS (SELECT floor(sum(n_tok) * {BUDGET_FRAC}) AS budget FROM scored),
    c AS (SELECT *, sum(n_tok) OVER (ORDER BY dsir_decinat DESC, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM scored)
    SELECT doc_id::BIGINT AS doc_id, dsir_decinat, n_tok
    FROM c, bud WHERE cum <= budget
    """


CHUNK_W, CHUNK_S = 64, 48


def q_token_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window chunking of token sequences (window=64,
    stride=48 → 16-token overlap, HF overflow convention): one row
    per chunk with its 1-slice of the codepoint token array. The
    chunk array is projected to the canonical comma-joined string so
    the driver's value hash is engine-portable."""
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    toked = docs.select("doc_id", _codepoint_tokens().alias("tokens"))
    out = TK.token_chunks(toked, window=CHUNK_W, stride=CHUNK_S)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join(
            F.transform(F.col("chunk_tokens"), lambda t: t.cast("string")), ","
        ).alias("chunk_str"),
        F.col("chunk_len").cast("long").alias("chunk_len"),
    )


def _oracle_token_chunks() -> str:
    w, s = CHUNK_W, CHUNK_S
    return f"""
    WITH tok AS (SELECT doc_id,
            CASE WHEN text IS NULL OR length(text) = 0 THEN []
                 ELSE [ascii(c) FOR c IN split(text, '')] END AS codes
          FROM documents),
    ne AS (SELECT doc_id, codes, len(codes) AS n FROM tok WHERE len(codes) > 0),
    idx AS (SELECT doc_id, codes,
              unnest(generate_series(0,
                CASE WHEN n <= {w} THEN 0
                     ELSE (n - {w} + {s} - 1) // {s} END)) AS i
            FROM ne)
    SELECT doc_id::BIGINT AS doc_id, i::BIGINT AS chunk_idx,
           array_to_string(codes[i * {s} + 1 : i * {s} + {w}], ',') AS chunk_str,
           len(codes[i * {s} + 1 : i * {s} + {w}])::BIGINT AS chunk_len
    FROM idx
    """


def q_token_decontam(spark: SparkSession, sf: str) -> DataFrame:
    """Token-level decontamination: eval set = every 17th document's
    token 8-grams (broadcast); every corpus sequence annotated with
    its distinct eval-gram hit count. Eval members flag themselves
    (planted contamination); exact/near copies of them flag too."""
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    toked = docs.select("doc_id", _codepoint_tokens().alias("tokens"))
    ev = TK.token_eval_grams(toked.filter(F.col("doc_id") % 17 == 0), n=8)
    out = TK.token_decontaminate(toked, ev, n=8)
    return out.select(
        "doc_id",
        F.col("n_eval_hits").cast("long").alias("n_eval_hits"),
        F.col("contaminated").cast("int").alias("contaminated"),
    )


def _oracle_token_decontam() -> str:
    return """
    WITH tok AS (SELECT doc_id,
            CASE WHEN text IS NULL OR length(text) = 0 THEN []
                 ELSE [ascii(c) FOR c IN split(text, '')] END AS codes
          FROM documents),
    grams AS (SELECT doc_id,
                md5(array_to_string(codes[i : i + 7], ',')) AS gram
              FROM tok, UNNEST(range(1, len(codes) - 6)) AS r(i)
              WHERE len(codes) >= 8),
    dg AS (SELECT DISTINCT doc_id, gram FROM grams),
    ev AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 17 = 0),
    hits AS (SELECT dg.doc_id, count(*)::BIGINT AS n
             FROM dg JOIN ev USING (gram) GROUP BY 1)
    SELECT tok.doc_id::BIGINT AS doc_id,
           coalesce(hits.n, 0)::BIGINT AS n_eval_hits,
           (coalesce(hits.n, 0) > 0)::INT AS contaminated
    FROM tok LEFT JOIN hits USING (doc_id)
    """


VOCAB_V = 48


def q_token_oov(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary coverage: vocab = top-48 codepoint tokens by corpus
    frequency (deterministic count-DESC/token-ASC tiebreak), then
    per-sequence OOV counts and ppm against the broadcast vocab."""
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    toked = docs.select("doc_id", _codepoint_tokens().alias("tokens"))
    vocab = TK.vocab_top_tokens(toked, top_v=VOCAB_V)
    return TK.token_oov_stats(toked, vocab).select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("n_oov").cast("long").alias("n_oov"),
        F.col("oov_ppm").cast("long").alias("oov_ppm"),
    )


def _oracle_token_oov() -> str:
    return f"""
    WITH tok AS (SELECT doc_id,
            CASE WHEN text IS NULL OR length(text) = 0 THEN []
                 ELSE [ascii(c) FOR c IN split(text, '')] END AS codes
          FROM documents),
    flat AS (SELECT doc_id, unnest(codes) AS t FROM tok WHERE len(codes) > 0),
    vocab AS (SELECT t FROM flat GROUP BY t
              ORDER BY count(*) DESC, t ASC LIMIT {VOCAB_V})
    SELECT flat.doc_id::BIGINT AS doc_id,
           count(*)::BIGINT AS n_tok,
           sum((flat.t NOT IN (SELECT t FROM vocab))::INT)::BIGINT AS n_oov,
           floor(sum((flat.t NOT IN (SELECT t FROM vocab))::INT) * 1e6
                 / count(*) + 0.5)::BIGINT AS oov_ppm
    FROM flat GROUP BY 1
    """


ZIPF_V = 64


def q_token_zipf(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf exponent of the codepoint token distribution: one-row
    corpus-health metric (least-squares slope of ln f vs ln r over
    the top-64 tokens, integer micro-units end-to-end)."""
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    toked = docs.select("doc_id", _codepoint_tokens().alias("tokens"))
    return TK.token_zipf_fit(toked, top_v=ZIPF_V)


def _oracle_token_zipf() -> str:
    return f"""
    WITH tok AS (SELECT doc_id,
            CASE WHEN text IS NULL OR length(text) = 0 THEN []
                 ELSE [ascii(c) FOR c IN split(text, '')] END AS codes
          FROM documents),
    flat AS (SELECT unnest(codes) AS t FROM tok WHERE len(codes) > 0),
    freq AS (SELECT t, count(*)::BIGINT AS f FROM flat GROUP BY t
             ORDER BY f DESC, t ASC LIMIT {ZIPF_V}),
    rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, t ASC) AS r FROM freq),
    m AS (SELECT floor(ln(r::DOUBLE) * 1e6 + 0.5)::HUGEINT AS x,
                 floor(ln(f::DOUBLE) * 1e6 + 0.5)::HUGEINT AS y
          FROM rk),
    s AS (SELECT count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx
          FROM m)
    SELECT n::BIGINT AS n_vocab,
           CASE WHEN (n * sxx - sx * sx) > 0 THEN
             floor((-(n * sxy - sx * sy))::DOUBLE
                   / (n * sxx - sx * sx)::DOUBLE * 1e6 + 0.5)::BIGINT
           ELSE NULL END AS alpha_x1e6
    FROM s
    """


TPB_CTX, TPB_EOD = 96, 10


def q_token_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized concat-then-chunk packing: the codepoint token
    arrays (plus a newline EOD) concatenated in per-shard doc order
    and cut into ctx=96 training blocks. The packed array is
    projected to the canonical comma-joined string so the driver's
    value hash is engine-portable."""
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    toked = docs.select("doc_id", _codepoint_tokens().alias("tokens"))
    out = TK.token_pack_blocks(
        toked, ctx=TPB_CTX, eod=TPB_EOD, shards=PACK_SHARDS
    )
    return out.select(
        "block_id",
        F.array_join(
            F.transform(F.col("tokens"), lambda t: t.cast("string")), ","
        ).alias("token_str"),
        "n_tok",
        "n_docs",
    )


def _oracle_token_pack() -> str:
    u = _u_sql("doc_id", "pack")
    c, s, e = TPB_CTX, PACK_SHARDS, TPB_EOD
    return f"""
    WITH tok AS (SELECT doc_id,
            CASE WHEN text IS NULL OR length(text) = 0 THEN []
                 ELSE [ascii(ch) FOR ch IN split(text, '')] END AS codes
          FROM documents),
    ne AS (SELECT doc_id, list_append(codes, {e}) AS codes
           FROM tok WHERE len(codes) > 0),
    h AS (SELECT doc_id::BIGINT AS doc_id, codes,
                 len(codes)::BIGINT AS n,
                 floor({u} * {s})::INT AS shard
          FROM ne),
    cum AS (SELECT *, coalesce(sum(n) OVER (
                PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cb
            FROM h),
    frag AS (SELECT shard,
               (cb // {c} + j)::BIGINT AS blk,
               greatest(0, cb - (cb // {c} + j) * {c})::BIGINT AS off,
               codes[(greatest(0, (cb // {c} + j) * {c} - cb) + 1)::BIGINT
                     : least(n, (cb // {c} + j + 1) * {c} - cb)::BIGINT] AS seg
             FROM cum,
               UNNEST(generate_series(0, ((cb + n - 1) // {c} - cb // {c})::BIGINT)) AS t(j))
    SELECT (shard::BIGINT * 4294967296 + blk)::BIGINT AS block_id,
           string_agg(array_to_string(seg, ','), ',' ORDER BY off) AS token_str,
           sum(len(seg))::BIGINT AS n_tok,
           count(*)::BIGINT AS n_docs
    FROM frag GROUP BY 1
    """


def q_token_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition filters on the token table: duplicate
    bigram/trigram ppm + longest same-token run, all per-row HOF
    expressions (no shuffle, no Python)."""
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    toked = docs.select("doc_id", _codepoint_tokens().alias("tokens"))
    return TK.token_repetition_stats(toked)


def _oracle_token_repetition() -> str:
    return """
    WITH tok AS (SELECT doc_id,
            CASE WHEN text IS NULL OR length(text) = 0 THEN []
                 ELSE [ascii(c) FOR c IN split(text, '')] END AS codes
          FROM documents),
    base AS (SELECT doc_id, codes, len(codes)::BIGINT AS n FROM tok),
    grams AS (SELECT doc_id, n,
            CASE WHEN n >= 2 THEN list_transform(range(1, n::INT),
                i -> codes[i]::VARCHAR || ',' || codes[i+1]::VARCHAR)
              ELSE [] END AS bi,
            CASE WHEN n >= 3 THEN list_transform(range(1, (n-1)::INT),
                i -> codes[i]::VARCHAR || ',' || codes[i+1]::VARCHAR
                     || ',' || codes[i+2]::VARCHAR)
              ELSE [] END AS tri
        FROM base),
    flat AS (SELECT doc_id, unnest(codes) AS t,
                    generate_subscripts(codes, 1) AS idx FROM tok),
    marks AS (SELECT doc_id, idx,
            CASE WHEN lag(t) OVER (PARTITION BY doc_id ORDER BY idx) = t
                 THEN 0 ELSE 1 END AS brk
        FROM flat),
    grp AS (SELECT doc_id,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY idx) AS g
            FROM marks),
    runs AS (SELECT doc_id, g, count(*)::BIGINT AS rl FROM grp GROUP BY 1, 2),
    mr AS (SELECT doc_id, max(rl)::BIGINT AS max_run FROM runs GROUP BY 1)
    SELECT grams.doc_id::BIGINT AS doc_id, grams.n AS n_tok,
        CASE WHEN len(bi) > 0 THEN
          floor((len(bi) - len(list_distinct(bi))) * 1e6 / len(bi) + 0.5)::BIGINT
          ELSE NULL END AS dup_bigram_ppm,
        CASE WHEN len(tri) > 0 THEN
          floor((len(tri) - len(list_distinct(tri))) * 1e6 / len(tri) + 0.5)::BIGINT
          ELSE NULL END AS dup_trigram_ppm,
        coalesce(mr.max_run, 0)::BIGINT AS max_run
    FROM grams LEFT JOIN mr USING (doc_id)
    """


def q_stratified_take(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-(source, lang) quota sampling: precisely min(5, |cell|)
    docs per cell, chosen by md5-hash rank — balanced-eval-set carving
    as a query. One stratum-keyed shuffle; rank window inside cells."""
    from hnormalise_spark.ops import sampling as S

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source", "lang", F.col("n_chars").cast("long").alias("n_chars"),
        )
    )
    return S.stratified_take(docs, 5, ["source", "lang"], "doc_id")


def _oracle_stratified_take() -> str:
    return """
    WITH ranked AS (
      SELECT doc_id::BIGINT AS doc_id, source, lang, n_chars::BIGINT AS n_chars,
             row_number() OVER (
               PARTITION BY source, lang
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '|take'), 1, 15))::BIGINT ASC,
                        doc_id::VARCHAR ASC
             ) AS rk
      FROM documents)
    SELECT doc_id, source, lang, n_chars FROM ranked WHERE rk <= 5
    """


def q_source_token_kl(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source token-distribution KL divergence from the corpus
    mixture (integer micro-nats) — mixture drift monitoring over the
    pre-tokenized table. One corpus-sized (source, token) count
    shuffle; the KL itself runs on the observed source x vocab table."""
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "source", "text"
        )
    )
    toked = docs.select("source", _codepoint_tokens().alias("tokens"))
    return TK.source_token_kl(toked)


def _oracle_source_token_kl() -> str:
    return """
    WITH tok AS (SELECT source,
            CASE WHEN text IS NULL OR length(text) = 0 THEN []
                 ELSE [ascii(c) FOR c IN split(text, '')] END AS codes
          FROM documents),
    st AS (SELECT source, token, count(*)::BIGINT AS c_st
           FROM (SELECT source, unnest(codes) AS token FROM tok)
           GROUP BY 1, 2),
    per_source AS (SELECT source, sum(c_st)::BIGINT AS n_s FROM st GROUP BY 1),
    per_token AS (SELECT token, sum(c_st)::BIGINT AS c_t FROM st GROUP BY 1),
    grand AS (SELECT sum(n_s)::BIGINT AS n_total FROM per_source)
    SELECT st.source, sum(c_st)::BIGINT AS n_tok,
           count(*)::BIGINT AS n_vocab_src,
           sum(floor(
             (c_st::DOUBLE / n_s::DOUBLE)
             * ln((c_st::DOUBLE * n_total::DOUBLE) / (n_s::DOUBLE * c_t::DOUBLE))
             * 1000000.0 + 0.5)::BIGINT)::BIGINT AS kl_x1e6
    FROM st
    JOIN per_source USING (source)
    JOIN per_token USING (token)
    CROSS JOIN grand
    GROUP BY 1
    """


def q_vocab_remap(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary truncation + dense id remap: top-32 tokens become
    ids 1..32 by frequency rank, everything else collapses to unk=0;
    arrays compared as comma-joined strings (the token_chunks oracle
    convention). One corpus shuffle; vocab rank is a bounded window."""
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    toked = docs.select("doc_id", _codepoint_tokens().alias("tokens"))
    vocab = TK.vocab_top_tokens(toked, top_v=32)
    out = TK.vocab_remap(toked, vocab)
    return out.select(
        "doc_id",
        F.array_join(F.transform("tokens", lambda t: t.cast("string")), ",")
        .alias("tokens_str"),
        "n_tok",
        "n_unk",
    )


def _oracle_vocab_remap() -> str:
    return """
    WITH tok AS (SELECT doc_id,
            CASE WHEN text IS NULL OR length(text) = 0 THEN []
                 ELSE [ascii(c) FOR c IN split(text, '')] END AS codes
          FROM documents),
    freq AS (SELECT token, count(*)::BIGINT AS freq
             FROM (SELECT unnest(codes) AS token FROM tok) GROUP BY 1),
    ranked AS (SELECT token,
                 row_number() OVER (ORDER BY freq DESC, token ASC) AS nid
               FROM freq),
    vocab AS (SELECT token, nid::INT AS nid FROM ranked WHERE nid <= 32),
    flat AS (SELECT doc_id, unnest(codes) AS t,
                    generate_subscripts(codes, 1) AS idx FROM tok),
    mapped AS (SELECT doc_id, idx, coalesce(v.nid, 0) AS nid,
                      (v.nid IS NULL)::BIGINT AS unk
               FROM flat LEFT JOIN vocab v ON flat.t = v.token),
    agg AS (SELECT doc_id,
                   array_to_string(list(nid ORDER BY idx), ',') AS tokens_str,
                   count(*)::BIGINT AS n_tok, sum(unk)::BIGINT AS n_unk
            FROM mapped GROUP BY 1)
    SELECT doc_id::BIGINT AS doc_id, tokens_str, n_tok, n_unk FROM agg
    UNION ALL
    SELECT doc_id::BIGINT, '', 0::BIGINT, 0::BIGINT
    FROM tok WHERE len(codes) = 0
    """


def q_length_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Length-bucketed batch assembly + padding-waste report: buckets
    of 64 tokens, batches of 8, 4 hash shards. One (bucket, shard)
    shuffle; the batch-max window reuses the same partitioning."""
    from hnormalise_spark.ops import packing as PK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    toked = docs.select("doc_id", _codepoint_tokens().alias("tokens"))
    return PK.length_bucket_batches(
        toked, bucket_width=64, batch_size=8, shards=4
    ).select(
        "doc_id", "n_tok", "bucket", "shard", "batch_idx",
        "batch_max_len", "pad_ppm",
    )


def _oracle_length_buckets() -> str:
    span = float(1 << 60)
    return f"""
    WITH tok AS (SELECT doc_id,
            CASE WHEN text IS NULL OR length(text) = 0 THEN 0
                 ELSE length(text) END AS n_tok
          FROM documents),
    base AS (SELECT doc_id::BIGINT AS doc_id, n_tok::BIGINT AS n_tok,
               ((n_tok - 1) // 64)::INT AS bucket,
               floor(('0x' || substr(md5(doc_id::VARCHAR || '|lbb'), 1, 15))::BIGINT
                     / {span!r} * 4)::INT AS shard
             FROM tok WHERE n_tok > 0),
    ranked AS (SELECT *,
               ((row_number() OVER (PARTITION BY bucket, shard
                                    ORDER BY doc_id ASC) - 1) // 8)::BIGINT
                 AS batch_idx
             FROM base)
    SELECT doc_id, n_tok, bucket, shard, batch_idx,
           max(n_tok) OVER (PARTITION BY bucket, shard, batch_idx)::BIGINT
             AS batch_max_len,
           floor((max(n_tok) OVER (PARTITION BY bucket, shard, batch_idx) - n_tok)
                 * 1000000
                 / max(n_tok) OVER (PARTITION BY bucket, shard, batch_idx)
                 + 0.5)::BIGINT AS pad_ppm
    FROM ranked
    """


def q_batch_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Composed flagship #5 — tokenizer-to-padded-batches: vocabulary
    truncation to top-32 dense ids (unk=0) -> fixed 128-token context
    chunks -> length-bucketed batch assembly with padding report, ONE
    oracle over the whole chain. The padded-batch counterpart of
    training_pipeline's concat-packing path: exactly what an inference
    or finetuning fleet runs between a raw corpus and its GPU batches.

    Scale shape: remap is one doc-keyed shuffle (arrays cross the wire
    once), chunking is narrow on top of it, batching is one
    (bucket, shard) shuffle of CHUNK METADATA + the chunk string —
    three corpus-sized exchanges end to end, each on a different,
    necessary key."""
    from hnormalise_spark.ops import packing as PK
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    toked = docs.select("doc_id", _codepoint_tokens().alias("tokens"))
    remapped = TK.vocab_remap(toked, TK.vocab_top_tokens(toked, top_v=32))
    chunks = TK.token_chunks(
        remapped.select("doc_id", "tokens"), window=128
    ).select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("chunk_id"),
        "doc_id",
        "chunk_idx",
        F.col("chunk_tokens").alias("tokens"),
    )
    out = PK.length_bucket_batches(
        chunks, bucket_width=32, batch_size=4, shards=2, id_col="chunk_id"
    )
    return (
        out.select(
            "doc_id", "chunk_idx",
            F.array_join(
                F.transform("tokens", lambda t: t.cast("string")), ","
            ).alias("chunk_str"),
            F.col("n_tok").alias("chunk_len"),
            "bucket", "shard", "batch_idx", "batch_max_len", "pad_ppm",
        )
    )


def _oracle_batch_pipeline() -> str:
    span = float(1 << 60)
    return f"""
    WITH tok AS (SELECT doc_id,
            CASE WHEN text IS NULL OR length(text) = 0 THEN []
                 ELSE [ascii(c) FOR c IN split(text, '')] END AS codes
          FROM documents),
    freq AS (SELECT token, count(*)::BIGINT AS freq
             FROM (SELECT unnest(codes) AS token FROM tok) GROUP BY 1),
    ranked AS (SELECT token,
                 row_number() OVER (ORDER BY freq DESC, token ASC) AS nid
               FROM freq),
    vocab AS (SELECT token, nid::INT AS nid FROM ranked WHERE nid <= 32),
    flat AS (SELECT doc_id, unnest(codes) AS t,
                    generate_subscripts(codes, 1) AS idx FROM tok),
    remapped AS (SELECT doc_id, list(coalesce(v.nid, 0) ORDER BY idx) AS nids
                 FROM flat LEFT JOIN vocab v ON flat.t = v.token
                 GROUP BY doc_id),
    ne AS (SELECT doc_id, nids, len(nids) AS n FROM remapped WHERE len(nids) > 0),
    idx AS (SELECT doc_id, nids,
              unnest(generate_series(0,
                CASE WHEN n <= 128 THEN 0
                     ELSE (n - 128 + 127) // 128 END)) AS i
            FROM ne),
    chunks AS (SELECT doc_id::BIGINT AS doc_id, i::BIGINT AS chunk_idx,
                 (doc_id * 1000 + i)::BIGINT AS chunk_id,
                 nids[i * 128 + 1 : i * 128 + 128] AS ctoks,
                 len(nids[i * 128 + 1 : i * 128 + 128])::BIGINT AS n_tok
               FROM idx),
    base AS (SELECT *, ((n_tok - 1) // 32)::INT AS bucket,
               floor(('0x' || substr(md5(chunk_id::VARCHAR || '|lbb'), 1, 15))::BIGINT
                     / {span!r} * 2)::INT AS shard
             FROM chunks WHERE n_tok > 0),
    rk AS (SELECT *,
             ((row_number() OVER (PARTITION BY bucket, shard
                                  ORDER BY chunk_id ASC) - 1) // 4)::BIGINT
               AS batch_idx
           FROM base)
    SELECT doc_id, chunk_idx, array_to_string(ctoks, ',') AS chunk_str,
           n_tok AS chunk_len, bucket, shard, batch_idx,
           max(n_tok) OVER (PARTITION BY bucket, shard, batch_idx)::BIGINT
             AS batch_max_len,
           floor((max(n_tok) OVER (PARTITION BY bucket, shard, batch_idx) - n_tok)
                 * 1000000
                 / max(n_tok) OVER (PARTITION BY bucket, shard, batch_idx)
                 + 0.5)::BIGINT AS pad_ppm
    FROM rk
    """


# --- log template mining / drift / burst (ops.logmine) ----------------





# Four syslog-ish message shapes with embedded variable fields; the
# masked skeletons below are what mine_templates must recover. The
# oracle emits these as LITERALS keyed by shape — it never re-runs the
# masking — so a pass proves the regexp chain collapses every
# constructed variant of a shape to exactly one template.
_LOG_SHAPES = [
    "sshd[<N>]: Accepted publickey for user<N> from <IP> port <N>",
    "kernel: CPU<N>: temperature above threshold (<N> C)",
    "systemd[<N>]: Started Session <N> of user u<N>.",
    "nfs: server fs<N> not responding, still trying (retry <N>)",
]


def _log_shape_line(k, c, shape):
    """Raw line for shape i, all variable fields driven by (k, c)."""
    return (
        F.when(
            shape == 0,
            F.format_string(
                "sshd[%d]: Accepted publickey for user%d from 10.%d.%d.%d port %d",
                k % 30000 + 1, c % 500, c % 200 + 1, k % 250, c % 250,
                k % 60000 + 1024,
            ),
        )
        .when(
            shape == 1,
            F.format_string(
                "kernel: CPU%d: temperature above threshold (%d C)",
                k % 32, k % 30 + 60,
            ),
        )
        .when(
            shape == 2,
            F.format_string(
                "systemd[%d]: Started Session %d of user u%d.",
                k % 7 + 1, k % 90000, c % 500,
            ),
        )
        .otherwise(
            F.format_string(
                "nfs: server fs%d not responding, still trying (retry %d)",
                c % 40, k % 9 + 1,
            )
        )
    )


def q_log_templates(spark: SparkSession, sf: str) -> DataFrame:
    """Drain-style template mining over a four-shape synthetic syslog
    corpus: mask variables, one map-side-combining aggregate, integer
    ppm shares. The failure-stream triage op (see ops/logmine.py)."""
    from hnormalise_spark.ops import logmine as LM

    o = spread_to_cores(
        spark.read.parquet(f"{sf}/orders.parquet").select("o_orderkey", "o_custkey")
    )
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    raw = o.select(_log_shape_line(k, c, k % 4).alias("raw"))
    return LM.mine_templates(raw, "raw")


def _oracle_log_templates() -> str:
    tpl_values = ", ".join(
        f"({i}, '{t}')" for i, t in enumerate(_LOG_SHAPES)
    )
    return f"""
    WITH cnt AS (SELECT o_orderkey % 4 AS shape, count(*)::BIGINT AS n
                 FROM orders GROUP BY 1),
    tot AS (SELECT sum(n)::BIGINT AS t FROM cnt),
    tpl AS (SELECT * FROM (VALUES {tpl_values}) AS v(shape, template))
    SELECT tpl.template AS template, cnt.n AS n_lines,
           floor(cnt.n * 1e6 / tot.t + 0.5)::BIGINT AS share_ppm
    FROM cnt JOIN tpl USING (shape) CROSS JOIN tot
    """


def q_template_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Template-population drift between two corpora: 'old' emits
    shapes {0,1,2} (by k%3), 'new' emits {1,2,3} for the same keys —
    so shape 0 must report 'gone', shape 3 'new', and 1/2 get the
    exact integer 2x-share test. Both sides collapse to
    template-cardinality tables before the full-outer join."""
    from hnormalise_spark.ops import logmine as LM

    o = spread_to_cores(
        spark.read.parquet(f"{sf}/orders.parquet").select("o_orderkey", "o_custkey")
    )
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    old = o.select(_log_shape_line(k, c, k % 3).alias("raw"))
    new = o.select(_log_shape_line(k, c, k % 3 + 1).alias("raw"))
    return LM.template_drift(old, new, "raw")


def _oracle_template_drift() -> str:
    tpl_values = ", ".join(
        f"({i}, '{t}')" for i, t in enumerate(_LOG_SHAPES)
    )
    return f"""
    WITH m AS (SELECT o_orderkey % 3 AS s, count(*)::BIGINT AS n
               FROM orders GROUP BY 1),
    tot AS (SELECT sum(n)::BIGINT AS t FROM m),
    tpl AS (SELECT * FROM (VALUES {tpl_values}) AS v(i, template)),
    sides AS (SELECT tpl.template,
                     coalesce((SELECT n FROM m WHERE s = tpl.i), 0) AS n_old,
                     coalesce((SELECT n FROM m WHERE s = tpl.i - 1), 0) AS n_new
              FROM tpl),
    shares AS (SELECT template, n_old, n_new,
                      floor(n_old * 1e6 / tot.t + 0.5)::BIGINT AS share_old_ppm,
                      floor(n_new * 1e6 / tot.t + 0.5)::BIGINT AS share_new_ppm
               FROM sides CROSS JOIN tot)
    SELECT template, n_old, n_new, share_old_ppm, share_new_ppm,
           CASE WHEN n_old = 0 THEN 'new'
                WHEN n_new = 0 THEN 'gone'
                WHEN share_new_ppm > 2 * share_old_ppm
                     OR share_old_ppm > 2 * share_new_ppm THEN 'shifted'
                ELSE 'stable' END AS status
    FROM shares
    """


def q_error_burst(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user hourly error-burst flags at 1.5x the user's own mean
    bucket rate — exact integer decision (n * n_buckets * 2 >
    3 * total), ratio in ppm."""
    from hnormalise_spark.ops import logmine as LM

    ev = spark.read.parquet(f"{sf}/events.parquet").where(
        F.col("event_type") == "error"
    )
    b = LM.error_burst(
        ev, entity_col="user_id", ts_col="ts", bucket="hour",
        threshold_num=3, threshold_den=2,
    )
    return b.select(
        "entity",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "n_events",
        "ratio_ppm",
    )


def _oracle_error_burst() -> str:
    return """
    WITH r AS (SELECT user_id AS entity, date_trunc('hour', ts) AS b,
                      count(*)::BIGINT AS n_events
               FROM events WHERE event_type = 'error' GROUP BY 1, 2),
    t AS (SELECT entity, sum(n_events)::BIGINT AS total,
                 count(*)::BIGINT AS nb
          FROM r GROUP BY 1)
    SELECT r.entity::BIGINT AS entity,
           strftime(r.b, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
           r.n_events AS n_events,
           floor(r.n_events * t.nb * 1e6 / t.total + 0.5)::BIGINT AS ratio_ppm
    FROM r JOIN t USING (entity)
    WHERE r.n_events * t.nb * 2 > 3 * t.total
    """


SEMDEDUP_THRESHOLD = 0.35


def q_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup keep/drop decision over the embedding corpus: IVF
    clusters (same deterministic stride-37 centroids as the IVF ANN
    index) scope the candidate pairs, any member cosine-similar to a
    lower-id cluster-mate at >= 0.35 drops. filter(keep) IS the
    semantically deduped corpus."""
    from hnormalise_spark.ops import dedup as D
    from hnormalise_spark.ops import similarity as S

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    cents = S.ivf_centroids(emb, IVF_STRIDE)
    out = D.semdedup_keep(emb, cents, threshold=SEMDEDUP_THRESHOLD)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("list_id").cast("long").alias("list_id"),
        "keep",
    )


def _oracle_semdedup() -> str:
    """Re-derives centroid selection, argmax-cosine cluster
    assignment, the in-cluster pairwise cosines and the lower-id drop
    rule entirely in SQL."""
    cdot = (
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
        "i -> e.embedding[i]::DOUBLE * c.c_emb[i]::DOUBLE))"
    )
    pdot = (
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
        "i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE))"
    )
    nrm = "sqrt(list_sum(list_transform({}.embedding, x -> x::DOUBLE * x::DOUBLE)))"
    return f"""
    WITH c AS (SELECT vec_id AS c_id, embedding AS c_emb,
                      sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS c_nrm
               FROM embeddings WHERE vec_id % {IVF_STRIDE} = 0),
    scored AS (SELECT e.vec_id, c.c_id,
                 {cdot} / ({nrm.format('e')} * c.c_nrm) AS cos
               FROM embeddings e CROSS JOIN c),
    asg AS (SELECT vec_id, c_id AS list_id FROM (
              SELECT vec_id, c_id,
                     row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_id ASC) AS rn
              FROM scored) WHERE rn = 1),
    dropped AS (SELECT DISTINCT b.vec_id
                FROM asg a JOIN asg b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
                JOIN embeddings ea ON ea.vec_id = a.vec_id
                JOIN embeddings eb ON eb.vec_id = b.vec_id
                WHERE {pdot} / ({nrm.format('ea')} * {nrm.format('eb')})
                      >= {SEMDEDUP_THRESHOLD!r})
    SELECT asg.vec_id::BIGINT AS vec_id, asg.list_id::BIGINT AS list_id,
           (dropped.vec_id IS NULL) AS keep
    FROM asg LEFT JOIN dropped ON asg.vec_id = dropped.vec_id
    """


PPL_GRAIN = 1000


def q_ppl_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet head/middle/tail perplexity thirds per source, decided at
    milli-nat histogram granularity — the curation split that feeds
    'head' into high-quality mixes and queues 'tail' for filtering."""
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "source", "text"
        )
    )
    toked = docs.select("doc_id", "source", _codepoint_tokens().alias("tokens"))
    return TK.perplexity_buckets(toked, grain=PPL_GRAIN)


def _oracle_ppl_buckets() -> str:
    return f"""
    WITH lm AS ({_oracle_token_lm()}),
    sc AS (SELECT lm.doc_id, d.source, lm.mean_nll_x1e6,
                  (lm.mean_nll_x1e6 // {PPL_GRAIN}) AS cell
           FROM lm JOIN documents d USING (doc_id)),
    hist AS (SELECT source, cell, count(*)::BIGINT AS c FROM sc GROUP BY 1, 2),
    cum AS (SELECT source, cell,
                   sum(c) OVER (PARTITION BY source ORDER BY cell) AS cum,
                   sum(c) OVER (PARTITION BY source) AS n
            FROM hist),
    lab AS (SELECT source, cell,
                   CASE WHEN cum * 3 <= n THEN 'head'
                        WHEN cum * 3 <= n * 2 THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM cum)
    SELECT sc.doc_id, sc.source, sc.mean_nll_x1e6, lab.ppl_bucket
    FROM sc JOIN lab USING (source, cell)
    """


EPOCH_TARGET = 500_000
EPOCH_CAP = 4
EPOCH_WEIGHTS = {f"src{i}": (i % 5) + 1 for i in range(20)}


def q_epoch_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Data-constrained repeat plan: a 500k-token budget split over
    weighted sources, epochs capped at 4 — the per-source repeat
    schedule plus the shortfall the cap leaves unfilled."""
    from hnormalise_spark.ops import sampling as SMP

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            "source", F.length("text").cast("long").alias("n_tok")
        )
    )
    return SMP.epoch_plan(
        docs, target_total=EPOCH_TARGET, weights=EPOCH_WEIGHTS, max_epochs=EPOCH_CAP
    )


def _oracle_epoch_mix() -> str:
    wsum = sum(EPOCH_WEIGHTS.values())
    vals = ", ".join(f"('{k}', {v})" for k, v in sorted(EPOCH_WEIGHTS.items()))
    return f"""
    WITH w(source, wt) AS (VALUES {vals}),
    av AS (SELECT source, sum(length(text))::BIGINT AS n_tok_avail
           FROM documents GROUP BY 1),
    j AS (SELECT av.source, av.n_tok_avail,
                 (({EPOCH_TARGET}::BIGINT * coalesce(w.wt, 0)) // {wsum})::BIGINT AS desired_tok
          FROM av LEFT JOIN w USING (source)),
    e AS (SELECT source, n_tok_avail, desired_tok,
                 CASE WHEN desired_tok <= 0 THEN 0
                      WHEN coalesce(n_tok_avail, 0) = 0 THEN 0
                      ELSE least({EPOCH_CAP}, ceil(desired_tok / n_tok_avail)) END::BIGINT AS epochs
          FROM j)
    SELECT source, n_tok_avail, desired_tok, epochs,
           least(desired_tok, epochs * n_tok_avail)::BIGINT AS n_tok_planned,
           (desired_tok - least(desired_tok, epochs * n_tok_avail))::BIGINT AS shortfall
    FROM e
    """


SEMDECON_TAU = 0.30


def q_semantic_decontam(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space decontamination: every train vector (vec_id not
    in the deterministic %37 eval subset) is flagged when its cosine to
    ANY eval vector reaches 0.30 — the semantic complement of the
    n-gram `decontaminate` leg, catching paraphrased leakage. Eval
    side broadcast; the only shuffle is the map-side-combined
    per-vector rollup."""
    from hnormalise_spark.ops import decontam as D

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    ev = emb.filter(F.col("vec_id") % 37 == 0)
    tr = emb.filter(F.col("vec_id") % 37 != 0)
    out = D.semantic_decontaminate(tr, ev, tau=SEMDECON_TAU)
    return out.select(
        "vec_id", "n_sem_hits", "max_cos_x1e6",
        F.col("contaminated").cast("int").alias("contaminated"),
    )


def _oracle_semantic_decontam() -> str:
    dot = (
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
        "i -> tr.embedding[i]::DOUBLE * ev.embedding[i]::DOUBLE))"
    )
    nrm = "sqrt(list_sum(list_transform({}.embedding, x -> x::DOUBLE * x::DOUBLE)))"
    return f"""
    WITH ev AS (SELECT embedding FROM embeddings WHERE vec_id % 37 = 0),
    tr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 37 <> 0),
    p AS (SELECT tr.vec_id,
            {dot} / ({nrm.format('tr')} * {nrm.format('ev')}) AS cos
          FROM tr CROSS JOIN ev)
    SELECT vec_id,
           sum(CASE WHEN cos >= {SEMDECON_TAU!r} THEN 1 ELSE 0 END)::BIGINT AS n_sem_hits,
           max(floor(cos * 1000000.0 + 0.5))::BIGINT AS max_cos_x1e6,
           (sum(CASE WHEN cos >= {SEMDECON_TAU!r} THEN 1 ELSE 0 END) > 0)::INT AS contaminated
    FROM p GROUP BY 1
    """


def q_token_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-sequence Shannon entropy of the token-id distribution in
    integer micro-nats over the pre-tokenized table — the
    position-independent degenerate-text signal (shuffled boilerplate
    scores low here even when run/ngram repetition checks miss it).
    Pure narrow transform, no shuffle."""
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    toked = docs.select("doc_id", _codepoint_tokens().alias("tokens"))
    return TK.token_entropy(toked)


def _oracle_token_entropy() -> str:
    return """
    WITH tok AS (SELECT doc_id, [ascii(c) FOR c IN split(text, '')] AS ts
                 FROM documents WHERE text IS NOT NULL AND length(text) > 0),
    cnt AS (SELECT doc_id, t, count(*)::BIGINT AS c
            FROM tok, UNNEST(ts) AS u(t) GROUP BY 1, 2),
    n AS (SELECT doc_id, len(ts)::BIGINT AS n_tok FROM tok)
    SELECT n.doc_id, n.n_tok,
           count(*)::BIGINT AS n_distinct,
           sum(floor((c::DOUBLE / n_tok) * ln(n_tok::DOUBLE / c) * 1000000.0))::BIGINT
             AS entropy_x1e6
    FROM n JOIN cnt ON n.doc_id = cnt.doc_id
    GROUP BY 1, 2
    """


def q_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source tokenizer fertility report: BPE-ish tokens per char
    and chars per whitespace word as exact integer ppm of the BIGINT
    sums — the multilingual-mix health check. One map-side-combined
    groupBy(source)."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select("source", "text")
    )
    return T.fertility_stats(docs)


def _oracle_fertility() -> str:
    return r"""
    WITH per AS (SELECT source, length(text)::BIGINT AS n_chars,
        (CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS n_words,
        len(regexp_extract_all(text, '[A-Za-z]+|\d+|[^\sA-Za-z\d]'))::BIGINT AS n_bpe
      FROM documents)
    SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS n_chars,
           sum(n_words)::BIGINT AS n_words, sum(n_bpe)::BIGINT AS n_bpe_tokens,
           (CASE WHEN sum(n_chars) > 0
                 THEN (sum(n_bpe) * 1000000) // sum(n_chars) END)::BIGINT AS bpe_per_char_ppm,
           (CASE WHEN sum(n_words) > 0
                 THEN (sum(n_chars) * 1000000) // sum(n_words) END)::BIGINT AS chars_per_word_ppm
    FROM per GROUP BY 1
    """


HIST_WIDTH = 32
HIST_BINS = 32
HIST_QS = [500000, 900000, 990000]


def q_sketch_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable histogram-sketch quantiles: doc-length p50/p90/p99
    per source, computed from FOUR shard partial sketches folded by
    the merge law (union + per-bin sum) — the streaming/shardable
    quantile path next to the exact rank-selection legs. Every number
    is integer; the estimate is the winning bin's lower edge."""
    from hnormalise_spark.ops import sketches as SK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            F.length("text").cast("long").alias("n_chars"),
        )
    )
    partials = [
        SK.hist_sketch(
            docs.filter(F.col("doc_id") % 4 == s), ["source"], "n_chars",
            HIST_WIDTH, HIST_BINS,
        )
        for s in range(4)
    ]
    merged = SK.hist_merge(*partials)
    out = SK.hist_quantiles(merged, ["source"], HIST_WIDTH, HIST_QS)
    return out.select(
        "source",
        F.col("q_x1e6").cast("long").alias("q_x1e6"),
        F.col("bin").cast("int").alias("bin"),
        F.col("est").cast("long").alias("est"),
    )


def _oracle_sketch_quantiles() -> str:
    qvals = ", ".join(f"({q})" for q in HIST_QS)
    return f"""
    WITH v AS (SELECT source,
                 least(greatest(length(text) // {HIST_WIDTH}, 0), {HIST_BINS - 1}) AS bin
               FROM documents),
    h AS (SELECT source, bin, count(*)::BIGINT AS n FROM v GROUP BY 1, 2),
    c AS (SELECT source, bin,
                 sum(n) OVER (PARTITION BY source ORDER BY bin) AS cum,
                 sum(n) OVER (PARTITION BY source) AS total
          FROM h),
    q(q_x1e6) AS (VALUES {qvals})
    SELECT source, q_x1e6::BIGINT AS q_x1e6, min(bin)::INT AS bin,
           (min(bin) * {HIST_WIDTH})::BIGINT AS est
    FROM c CROSS JOIN q
    WHERE cum * 1000000 >= q_x1e6 * total
    GROUP BY 1, 2
    """



HNEG_K = 3
HNEG_LO = 150000
HNEG_HI = 900000


def q_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor vector (the
    deterministic %37 subset) the top-3 train vectors with cosine in
    [0.15, 0.90) — informative negatives below the near-dup ceiling.
    Anchors broadcast; the band filter bounds the per-anchor rank
    window; ordering fully deterministic (cos_x1e6 DESC, vec_id)."""
    from hnormalise_spark.ops import similarity as S

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    anchors = emb.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    tr = emb.filter(F.col("vec_id") % 37 != 0)
    return S.hard_negatives(
        tr, anchors, k=HNEG_K, lo=HNEG_LO / 1e6, hi=HNEG_HI / 1e6
    )


def _oracle_hard_negatives() -> str:
    dot = (
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
        "i -> tr.embedding[i]::DOUBLE * a.qv[i]::DOUBLE))"
    )
    nrm = "sqrt(list_sum(list_transform({}, x -> x::DOUBLE * x::DOUBLE)))"
    return f"""
    WITH a AS (SELECT vec_id AS q_id, embedding AS qv
               FROM embeddings WHERE vec_id % 37 = 0),
    tr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 37 <> 0),
    p AS (SELECT a.q_id, tr.vec_id,
            floor({dot} / ({nrm.format('tr.embedding')} * {nrm.format('a.qv')})
                  * 1000000.0 + 0.5)::BIGINT AS cos_x1e6
          FROM tr CROSS JOIN a),
    b AS (SELECT * FROM p WHERE cos_x1e6 >= {HNEG_LO} AND cos_x1e6 < {HNEG_HI}),
    r AS (SELECT q_id, vec_id, cos_x1e6,
            row_number() OVER (PARTITION BY q_id
                               ORDER BY cos_x1e6 DESC, vec_id) AS rn
          FROM b)
    SELECT q_id, rn::INT AS rank, vec_id, cos_x1e6 FROM r WHERE rn <= {HNEG_K}
    """


TRIM_LO = 20000
TRIM_HI = 980000


def q_length_trim(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source length-outlier trim from the mergeable histogram
    sketch: keep documents inside their OWN source's [p2, p98] length
    band (bin-granular, all-integer bounds). Two corpus scans, zero
    corpus shuffles — sketch partials map-side, bounds broadcast."""
    from hnormalise_spark.ops import sampling as SMP

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            F.length("text").cast("long").alias("n_chars"),
        )
    )
    out = SMP.length_trim(
        docs, TRIM_LO, TRIM_HI, width=HIST_WIDTH, nbins=HIST_BINS,
        source_col="source", len_col="n_chars",
    )
    return out.select(
        "doc_id", "source", "n_chars",
        F.col("lo_est").cast("long").alias("lo_est"),
        F.col("hi_est").cast("long").alias("hi_est"),
        F.col("keep").cast("int").alias("keep"),
    )


def _oracle_length_trim() -> str:
    w, nb = HIST_WIDTH, HIST_BINS
    return f"""
    WITH v AS (SELECT doc_id, source, length(text)::BIGINT AS n_chars,
                 least(greatest(length(text) // {w}, 0), {nb - 1}) AS bin
               FROM documents),
    h AS (SELECT source, bin, count(*)::BIGINT AS n FROM v GROUP BY 1, 2),
    c AS (SELECT source, bin,
                 sum(n) OVER (PARTITION BY source ORDER BY bin) AS cum,
                 sum(n) OVER (PARTITION BY source) AS total
          FROM h),
    q(q_x1e6) AS (VALUES ({TRIM_LO}), ({TRIM_HI})),
    qq AS (SELECT source, q_x1e6, min(bin) * {w} AS est
           FROM c CROSS JOIN q
           WHERE cum * 1000000 >= q_x1e6 * total GROUP BY 1, 2),
    b AS (SELECT source,
            min(est) FILTER (WHERE q_x1e6 = {TRIM_LO}) AS lo_est,
            min(est) FILTER (WHERE q_x1e6 = {TRIM_HI}) AS hi_est
          FROM qq GROUP BY 1)
    SELECT v.doc_id, v.source, v.n_chars,
           b.lo_est::BIGINT AS lo_est, b.hi_est::BIGINT AS hi_est,
           (v.n_chars >= b.lo_est AND v.n_chars < b.hi_est + {w})::INT AS keep
    FROM v JOIN b USING (source)
    """



RRF_K = 60
RRF_TOPK = 20


def q_rrf_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank fusion of the exact fp32 cosine top-50 and the
    int8-quantized top-50 for the literal query vector — the
    calibration-free hybrid rerank (RRF, Cormack et al. 2009) that a
    retrieval stack runs when two scorers disagree on scale. Both
    lists are TakeOrdered 50-row frames, so the fusion join is
    broadcast-sized; scores are exact integers in both engines."""
    from hnormalise_spark.ops import similarity as S

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    deq = S.quantize_embeddings(emb).select(
        "vec_id",
        F.transform(
            "q",
            lambda x: x.cast("double")
            * (F.col("scale_x1e9").cast("double") / F.lit(1e9)),
        ).alias("embedding"),
    )
    qscored = S.cosine_scores(deq, QVEC).filter(F.col("cosine").isNotNull())
    approx = (
        qscored.select(
            "vec_id",
            F.floor(F.col("cosine") * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
            .alias("cos_x1e6"),
        )
        .orderBy(F.desc("cos_x1e6"), "vec_id")
        .limit(50)
    )
    w = Window.orderBy(F.desc("cos_x1e6"), F.col("vec_id").asc())
    exact_r = (
        q_similarity_topk(spark, sf)
        .select("vec_id", "cos_x1e6")
        .withColumn("rank", F.row_number().over(w))
        .select("vec_id", "rank")
    )
    quant_r = (
        approx.withColumn("rank", F.row_number().over(w))
        .select("vec_id", "rank")
    )
    return S.rrf_fuse(exact_r, quant_r, k_const=RRF_K, topk=RRF_TOPK)


def _oracle_rrf_fusion() -> str:
    return f"""
    WITH s AS (SELECT vec_id,
                 list_sum(list_transform(range(1, {EMB_DIM + 1}),
                          i -> embedding[i]::DOUBLE * ({_qvec_sql()})[i])) AS dot,
                 sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
               FROM embeddings),
    e50 AS (SELECT vec_id,
              floor(dot / (nrm * {_QNORM!r}) * 1000000.0 + 0.5)::BIGINT AS cos_x1e6
            FROM s ORDER BY cos_x1e6 DESC, vec_id LIMIT 50),
    e AS (SELECT vec_id,
            row_number() OVER (ORDER BY cos_x1e6 DESC, vec_id) AS ra
          FROM e50),
    bq AS (SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
               / 127.0::DOUBLE AS scale
           FROM embeddings),
    qz AS (SELECT vec_id,
             CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding,
                         x -> floor(x::DOUBLE / scale + 0.5)::INT) END AS qc,
             floor(scale * 1000000000.0 + 0.5)::BIGINT AS scale_x1e9
           FROM bq),
    deq AS (SELECT vec_id,
              list_transform(qc,
                c -> c::DOUBLE * (scale_x1e9::DOUBLE / 1000000000.0)) AS v
            FROM qz),
    s2 AS (SELECT vec_id,
             list_sum(list_transform(range(1, {EMB_DIM + 1}),
                      i -> v[i] * ({_qvec_sql()})[i])) AS dot,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM deq),
    a50 AS (SELECT vec_id,
              floor(dot / (nrm * {_QNORM!r}) * 1000000.0 + 0.5)::BIGINT AS cos_x1e6
            FROM s2 WHERE nrm > 0
            ORDER BY cos_x1e6 DESC, vec_id LIMIT 50),
    a AS (SELECT vec_id,
            row_number() OVER (ORDER BY cos_x1e6 DESC, vec_id) AS rb
          FROM a50),
    f AS (SELECT vec_id, ra, rb FROM e FULL JOIN a USING (vec_id)),
    sc AS (SELECT vec_id, ra, rb,
             coalesce(floor(1000000.0 / ({RRF_K} + ra))::BIGINT, 0)
               + coalesce(floor(1000000.0 / ({RRF_K} + rb))::BIGINT, 0) AS rrf
           FROM f)
    SELECT vec_id, ra::INT AS rank_a, rb::INT AS rank_b, rrf AS rrf_x1e6,
           row_number() OVER (ORDER BY rrf DESC, vec_id)::INT AS fused_rank
    FROM sc ORDER BY rrf DESC, vec_id LIMIT {RRF_TOPK}
    """


def q_cluster_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-aware canonical selection over the embedding near-dup
    clusters: join each vector's document (doc_id == vec_id in the
    synthetic corpus) and keep the LONGEST member per cluster (tie →
    min id) instead of assign_clusters' arbitrary min-id canonical —
    the keep-the-better-copy decision step of a curation pipeline.
    Argmax is a map-side-combinable struct-max aggregate, never a
    whole-cluster window."""
    from hnormalise_spark.ops import dedup as D

    emb = spread_to_cores(spark.read.parquet(f"{sf}/embeddings.parquet"))
    pairs = D.embedding_neardup_pairs(
        emb, EMB_DIM, threshold=NEARDUP_THRESHOLD, n_planes=NEARDUP_PLANES
    )
    assigned = D.assign_clusters(emb.select("vec_id"), pairs, id_col="vec_id")
    quality = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.col("doc_id").alias("vec_id"), F.col("n_chars").alias("quality")
    )
    out = D.canonical_by_quality(
        assigned, quality, id_col="vec_id", quality_col="quality"
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("quality").cast("long").alias("quality"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("is_kept").alias("is_kept"),
    )


def _oracle_cluster_canonical() -> str:
    return f"""
    WITH RECURSIVE {_neardup_pairs_cte()},
    e AS (SELECT id_a AS src, id_b AS dst FROM p WHERE cos >= {NEARDUP_THRESHOLD!r}
          UNION SELECT id_b, id_a FROM p WHERE cos >= {NEARDUP_THRESHOLD!r}),
    reach AS (
      SELECT src AS node, dst AS r FROM e
      UNION
      SELECT reach.node, e.dst FROM reach JOIN e ON reach.r = e.src
    ),
    lab AS (SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node),
    asg AS (SELECT v.vec_id, coalesce(lab.cluster_id, v.vec_id) AS cluster_id
            FROM embeddings v LEFT JOIN lab ON v.vec_id = lab.node),
    jq AS (SELECT asg.vec_id, asg.cluster_id, d.n_chars AS quality
           FROM asg JOIN documents d ON d.doc_id = asg.vec_id),
    r AS (SELECT vec_id, cluster_id, quality,
            row_number() OVER (PARTITION BY cluster_id
                               ORDER BY quality DESC, vec_id) AS rn
          FROM jq),
    bst AS (SELECT cluster_id, vec_id AS canonical_id FROM r WHERE rn = 1),
    cnt AS (SELECT cluster_id, count(*) AS n_members FROM jq GROUP BY 1)
    SELECT jq.vec_id, jq.cluster_id, jq.quality::BIGINT AS quality,
           bst.canonical_id, cnt.n_members::BIGINT AS n_members,
           (jq.vec_id = bst.canonical_id) AS is_kept
    FROM jq JOIN bst USING (cluster_id) JOIN cnt USING (cluster_id)
    """


OVERLAP_N = 5


def _oracle_gram_cte(keep: str) -> str:
    """Shared word-5-gram CTE prefix (base/g/x), parameterised on the
    carried column — parity twin of dedup.word_ngrams (lowercase,
    whitespace-collapse, <n-word texts collapse to one whole-text
    gram, per-row distinct)."""
    n = OVERLAP_N
    parts = " || ' ' || ".join(f"w[i+{j + 1}]" for j in range(n))
    return f"""
    base AS (SELECT {keep},
               string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
             FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
    g AS (SELECT {keep},
            CASE WHEN len(w) < {n} THEN [array_to_string(w, ' ')]
                 ELSE list_distinct(list_transform(range(0, len(w) - {n - 1}),
                        i -> {parts})) END AS gs
          FROM base),
    x AS (SELECT {keep}, unnest(gs) AS gr FROM g)
    """


def q_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source 5-gram containment matrix: the contamination /
    re-crawl report run before mixing snapshots. Corpus collapses to
    distinct (source, gram-md5) before any join; the pair join is an
    equi-join on the 32-byte hash, never doc x doc."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select("source", "text")
    )
    return T.source_ngram_containment(docs, n=OVERLAP_N)


def _oracle_source_overlap() -> str:
    return f"""
    WITH {_oracle_gram_cte("source")},
    d AS (SELECT DISTINCT source, md5(gr) AS h FROM x),
    sz AS (SELECT source, count(*) AS n FROM d GROUP BY 1),
    cm AS (SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_common
           FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
           GROUP BY 1, 2)
    SELECT cm.source_a, cm.source_b, cm.n_common::BIGINT AS n_common,
           sa.n::BIGINT AS n_a, sb.n::BIGINT AS n_b,
           floor(cm.n_common * 1000000.0 / sa.n)::BIGINT AS contain_a_in_b_x1e6,
           floor(cm.n_common * 1000000.0 / sb.n)::BIGINT AS contain_b_in_a_x1e6
    FROM cm JOIN sz sa ON sa.source = cm.source_a
            JOIN sz sb ON sb.source = cm.source_b
    """


def q_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document 5-gram novelty: the fraction of each doc's grams
    found nowhere else in the corpus — the diversity dual of the
    dup-span family. One gram-hash shuffle for document frequency,
    one doc-id shuffle for the ratio; no pairwise join."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    return T.ngram_novelty(docs, n=OVERLAP_N)


def _oracle_ngram_novelty() -> str:
    return f"""
    WITH {_oracle_gram_cte("doc_id")},
    d AS (SELECT DISTINCT doc_id, md5(gr) AS h FROM x),
    dfq AS (SELECT h, count(*) AS dfc FROM d GROUP BY 1)
    SELECT doc_id, count(*)::BIGINT AS n_grams,
           sum(CASE WHEN dfc = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
           floor(sum(CASE WHEN dfc = 1 THEN 1 ELSE 0 END) * 1000000.0
                 / count(*))::BIGINT AS novelty_x1e6
    FROM d JOIN dfq USING (h) GROUP BY 1
    """


def q_domain_reweight(spark: SparkSession, sf: str) -> DataFrame:
    """DoReMi-flavoured one-step domain reweighting: per-source mean
    unigram NLL vs the token-weighted global mean; sources above
    average get weight proportional to their excess (uniform fallback
    when none are). Exact-integer micro-nats end to end."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text", "source"
        )
    )
    return T.domain_reweight(docs)


def _oracle_domain_reweight() -> str:
    return """
    WITH base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
    tw AS (SELECT doc_id, unnest(w) AS t FROM base),
    cnt AS (SELECT t, count(*) AS c FROM tw GROUP BY 1),
    st AS (SELECT sum(c) AS tt, count(*) AS v FROM cnt),
    sc AS (SELECT tw.doc_id,
                  floor(-ln((cnt.c + 1.0) / (st.tt + st.v)) * 1000000.0 + 0.5)::BIGINT AS nll
           FROM tw JOIN cnt USING (t) CROSS JOIN st),
    doc AS (SELECT doc_id, count(*) AS n_tok, sum(nll) AS sum_nll FROM sc GROUP BY 1),
    ps AS (SELECT d2.source, sum(doc.n_tok) AS n_tok, sum(doc.sum_nll) AS sum_nll
           FROM doc JOIN documents d2 USING (doc_id) GROUP BY 1),
    ps2 AS (SELECT source, n_tok, sum_nll,
              floor(sum_nll::DOUBLE / n_tok)::BIGINT AS mean_nll_x1e6 FROM ps),
    gm AS (SELECT floor(sum(sum_nll)::DOUBLE / sum(n_tok))::BIGINT AS gmean FROM ps2),
    ex AS (SELECT source, n_tok, mean_nll_x1e6,
             greatest(mean_nll_x1e6 - gm.gmean, 0)::BIGINT AS excess_x1e6
           FROM ps2 CROSS JOIN gm),
    sm AS (SELECT sum(excess_x1e6) AS se, count(*) AS ns FROM ex)
    SELECT source, n_tok::BIGINT AS n_tok, mean_nll_x1e6, excess_x1e6,
           CASE WHEN sm.se > 0 THEN floor(excess_x1e6 * 1000000.0 / sm.se)
                ELSE floor(1000000.0 / sm.ns) END::BIGINT AS weight_x1e6
    FROM ex CROSS JOIN sm
    """


def q_data_card(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus data card (Datasheets for Datasets): global totals,
    exact-dup count under the ``exact_dedup`` fingerprint, per-source
    and per-language doc counts, and exact length percentiles — one
    long-format frame per corpus release. The percentile pass runs on
    a value histogram (bounded by max doc length), never a global sort
    of the corpus."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
    )
    return T.data_card(docs)


def _card_cte_block(rel: str, p: str) -> str:
    """The data-card CTE chain over relation ``rel``, CTE names
    prefixed with ``p`` so two corpus versions can share one query."""
    return f"""
    {p}f AS (SELECT doc_id, source, lang, n_chars::BIGINT AS chars,
               (CASE WHEN text IS NULL THEN 0
                     WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                END)::BIGINT AS words,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
             FROM ({rel})),
    {p}g AS (SELECT count(*)::BIGINT AS docs,
                    sum(chars)::BIGINT AS chars,
                    sum(words)::BIGINT AS words,
                    count(DISTINCT source)::BIGINT AS sources,
                    count(DISTINCT lang)::BIGINT AS langs,
                    (count(*) - count(DISTINCT fp))::BIGINT AS dup_docs
             FROM {p}f),
    {p}r AS (SELECT chars AS v,
                    row_number() OVER (ORDER BY chars) - 1 AS rn,
                    count(*) OVER () AS n
             FROM {p}f WHERE chars IS NOT NULL),
    {p}card AS (
      SELECT 'global' AS section, 'docs' AS metric, docs AS value FROM {p}g
      UNION ALL SELECT 'global', 'chars', chars FROM {p}g
      UNION ALL SELECT 'global', 'words', words FROM {p}g
      UNION ALL SELECT 'global', 'sources', sources FROM {p}g
      UNION ALL SELECT 'global', 'langs', langs FROM {p}g
      UNION ALL SELECT 'global', 'dup_docs', dup_docs FROM {p}g
      UNION ALL SELECT 'source_docs', source, count(*)::BIGINT
                FROM {p}f GROUP BY source
      UNION ALL SELECT 'lang_docs', lang, count(*)::BIGINT
                FROM {p}f GROUP BY lang
      UNION ALL SELECT 'len_pct', 'p50_chars',
                max(CASE WHEN rn = floor((n - 1) * 0.50) THEN v END)::BIGINT FROM {p}r
      UNION ALL SELECT 'len_pct', 'p90_chars',
                max(CASE WHEN rn = floor((n - 1) * 0.90) THEN v END)::BIGINT FROM {p}r
      UNION ALL SELECT 'len_pct', 'p99_chars',
                max(CASE WHEN rn = floor((n - 1) * 0.99) THEN v END)::BIGINT FROM {p}r)"""


def _oracle_data_card() -> str:
    return f"""
    WITH {_card_cte_block("SELECT * FROM documents", "a")}
    SELECT section, metric, value FROM acard
    """


# Curated version B for the card diff: exact-dedup keepers (min doc_id
# per normalized-text fingerprint) inside the [50, 400] char band.
CARD_B_REL = """SELECT d.* FROM documents d
    JOIN (SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
                 min(doc_id) AS keeper
          FROM documents GROUP BY 1) k ON d.doc_id = k.keeper
    WHERE d.n_chars BETWEEN 50 AND 400"""


def q_card_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Data-card diff between the raw corpus (version A) and a
    deterministic curated version B (exact-dedup keepers inside the
    [50, 400]-char band) — the release-gate "what exactly changed"
    check. Both cards come from the REAL ``data_card`` operator; the
    diff is a full-outer join on (section, metric), so sources or
    langs that curation drops entirely still surface with a NULL B
    side."""
    from hnormalise_spark.ops import dedup as D
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
    )
    keepers = docs.groupBy(
        F.md5(D.normalized_text(F.col("text"))).alias("_fp")
    ).agg(F.min("doc_id").alias("doc_id"))
    curated = docs.join(keepers.select("doc_id"), "doc_id").filter(
        F.col("n_chars").between(50, 400)
    )
    return T.card_diff(T.data_card(docs), T.data_card(curated))


def _oracle_card_diff() -> str:
    return f"""
    WITH {_card_cte_block("SELECT * FROM documents", "a")},
    {_card_cte_block(CARD_B_REL, "b")}
    SELECT coalesce(acard.section, bcard.section) AS section,
           coalesce(acard.metric, bcard.metric) AS metric,
           acard.value AS value_a,
           bcard.value AS value_b,
           (coalesce(bcard.value, 0) - coalesce(acard.value, 0))::BIGINT AS delta
    FROM acard FULL OUTER JOIN bcard
      ON acard.section = bcard.section AND acard.metric = bcard.metric
    """


def q_pmi_phrases(spark: SparkSession, sf: str) -> DataFrame:
    """Top-40 PMI collocations over adjacent word pairs (pair-count
    floor 5) — the Mikolov phrase-detection pass vocabulary
    construction runs before BPE training so multi-word units get
    their own tokens. Integer micro-nat PMI with a total (pmi, w1,
    w2) order, so the top-k set is deterministic cross-engine."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select("text")
    )
    return T.pmi_collocations(docs, min_count=5, k=40)


def _oracle_pmi_phrases() -> str:
    return """
    WITH w AS (SELECT [x FOR x IN split(text, ' ') IF x <> ''] AS ws
               FROM documents WHERE text IS NOT NULL AND length(text) > 0),
    uni AS (SELECT word, count(*)::BIGINT AS c1
            FROM (SELECT unnest(ws) AS word FROM w) GROUP BY 1),
    tot AS (SELECT sum(c1)::BIGINT AS t_uni FROM uni),
    pairs AS (SELECT unnest([{'w1': ws[i], 'w2': ws[i+1]}
                             FOR i IN range(1, len(ws))], recursive := true)
              FROM w WHERE len(ws) >= 2),
    big AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM pairs GROUP BY 1, 2),
    btot AS (SELECT sum(c12)::BIGINT AS t_big FROM big)
    SELECT w1, w2, c12 AS pair_count,
           floor(ln((c12::DOUBLE * t_uni::DOUBLE * t_uni::DOUBLE)
                    / (t_big::DOUBLE * u1.c1::DOUBLE * u2.c1::DOUBLE))
                 * 1000000.0 + 0.5)::BIGINT AS pmi_x1e6
    FROM big
    JOIN uni u1 ON u1.word = big.w1
    JOIN uni u2 ON u2.word = big.w2
    CROSS JOIN tot CROSS JOIN btot
    WHERE c12 >= 5
    ORDER BY pmi_x1e6 DESC, w1, w2
    LIMIT 40
    """


def q_blocklist(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style blocklist filtering: flag docs containing any of a
    fixed term list, with occurrence counts and the sorted distinct
    hit terms. One row per document (null text kept, keep=true) — the
    small-list zero-shuffle expression path."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    )
    return T.blocklist_filter(docs, ["dup", "junk", "slow"])


def _oracle_blocklist() -> str:
    return """
    WITH bl AS (SELECT unnest(['dup', 'junk', 'slow']) AS word),
    w AS (SELECT doc_id,
                 unnest([x FOR x IN split(text, ' ') IF x <> '']) AS word
          FROM documents WHERE text IS NOT NULL),
    h AS (SELECT w.doc_id, count(*)::BIGINT AS n_hits,
                 string_agg(DISTINCT w.word, ',' ORDER BY w.word) AS hit_terms
          FROM w JOIN bl ON bl.word = w.word GROUP BY 1)
    SELECT d.doc_id, h.doc_id IS NULL AS keep,
           coalesce(h.n_hits, 0)::BIGINT AS n_hits, h.hit_terms
    FROM documents d LEFT JOIN h ON h.doc_id = d.doc_id
    """


def q_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Doc-level crawl-over-crawl diff (table.snapshot_doc_diff):
    version A = raw documents; version B = a deterministic "next
    crawl" — docs with doc_id%11==5 dropped (removed), docs with
    doc_id%7==3 get ' v2' appended (changed), and docs with
    doc_id%13==1 re-added under doc_id+10^7 (added). Aggregated to
    (status, n_docs, sum_doc_id) so every class is pinned by count
    AND id-sum."""
    from hnormalise_spark.table import snapshot_doc_diff

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    )
    b = docs.filter(F.col("doc_id") % 11 != 5).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 3, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 13 == 1).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
    )
    return (
        snapshot_doc_diff(docs, b)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
        )
    )


def _oracle_snapshot_diff() -> str:
    return r"""
    WITH a AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      FROM documents),
    b_src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 3 THEN text || ' v2' ELSE text END AS text
      FROM documents WHERE doc_id % 11 <> 5
      UNION ALL
      SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 13 = 1),
    b AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      FROM b_src),
    d AS (
      SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
             CASE WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.doc_id IS NULL THEN 'added'
                  WHEN a.fp IS NOT DISTINCT FROM b.fp THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
    SELECT status, count(*)::BIGINT AS n_docs,
           sum(doc_id)::BIGINT AS sum_doc_id
    FROM d GROUP BY status
    """


def q_heaps(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve over the documents table at
    power-of-two doc-count checkpoints, with the least-squares
    exponent in integer micro-units on every row."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    )
    return T.heaps_growth(docs)


def _oracle_heaps() -> str:
    from hnormalise_spark.ops.textops import HEAPS_LADDER

    ladder = ", ".join(str(t) for t in HEAPS_LADDER)
    return f"""
    WITH w AS (SELECT doc_id, [x FOR x IN split(text, ' ') IF x <> ''] AS ws
               FROM documents WHERE text IS NOT NULL),
    dt AS (SELECT doc_id, len(ws)::BIGINT AS n_tok FROM w),
    firsts AS (SELECT word, min(doc_id) AS fd
               FROM (SELECT doc_id, unnest(ws) AS word FROM w) GROUP BY 1),
    mx AS (SELECT max(doc_id) AS m FROM dt),
    th AS (SELECT t FROM (SELECT unnest([{ladder}]) AS t), mx
           WHERE t <= 2 * m),
    curve AS (SELECT t,
        (SELECT coalesce(sum(n_tok), 0) FROM dt WHERE doc_id < t)::BIGINT
          AS tokens_cum,
        (SELECT count(*) FROM firsts WHERE fd < t)::BIGINT AS vocab_cum
        FROM th),
    pts AS (SELECT
        floor(ln(tokens_cum::DOUBLE) * 1000000.0 + 0.5)::HUGEINT AS x,
        floor(ln(vocab_cum::DOUBLE) * 1000000.0 + 0.5)::HUGEINT AS y
        FROM curve WHERE tokens_cum > 0 AND vocab_cum > 0),
    s AS (SELECT count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx FROM pts)
    SELECT c.t AS n_docs_lt, c.tokens_cum, c.vocab_cum,
           CASE WHEN (n * sxx - sx * sx) > 0 THEN
             floor((n * sxy - sx * sy)::DOUBLE
                   / (n * sxx - sx * sx)::DOUBLE * 1000000.0 + 0.5)::BIGINT
           END AS beta_x1e6
    FROM curve c, s
    WHERE c.tokens_cum > 0 AND c.vocab_cum > 0
    """


def q_lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Declared-vs-detected language confusion matrix over the
    documents table, with integer-ppm per-declared-language shares."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select("lang", "text")
    )
    return T.lang_confusion(docs)


def _oracle_lang_confusion() -> str:
    hit_cols, lang_cases = _lang_pred_sql()
    return f"""
    WITH base AS (
      SELECT coalesce(lang, 'und') AS lang_declared, {hit_cols}
      FROM documents),
    p AS (SELECT lang_declared,
                 CASE {lang_cases} ELSE 'und' END AS lang_pred
          FROM base),
    c AS (SELECT lang_declared, lang_pred, count(*)::BIGINT AS n_docs
          FROM p GROUP BY 1, 2)
    SELECT lang_declared, lang_pred, n_docs,
           floor(n_docs::DOUBLE
                 / (sum(n_docs) OVER (PARTITION BY lang_declared))::DOUBLE
                 * 1000000.0 + 0.5)::BIGINT AS share_ppm
    FROM c
    """


def q_span_plan(spark: SparkSession, sf: str) -> DataFrame:
    """T5 span-corruption length planning over codepoint token
    sequences (density 0.15, mean span 3.0): per-doc masked-token
    budget, span count, and encoder/decoder example lengths."""
    from hnormalise_spark.ops import tokenops as TK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    toked = docs.select("doc_id", _codepoint_tokens().alias("tokens"))
    return TK.span_corruption_plan(toked, density=0.15, mean_span=3.0)


def _oracle_span_plan() -> str:
    return """
    WITH t AS (SELECT doc_id,
                      CASE WHEN text IS NULL THEN 0
                           ELSE length(text) END::BIGINT AS n
               FROM documents),
    m AS (SELECT doc_id, n,
                 CASE WHEN n >= 2 THEN
                   least(greatest(floor(n::DOUBLE * 0.15 + 0.5)::BIGINT, 1),
                         n - 1)
                 ELSE 0 END AS n_masked
          FROM t),
    s AS (SELECT doc_id, n, n_masked,
                 CASE WHEN n_masked > 0 THEN
                   least(greatest(
                     floor(n_masked::DOUBLE / 3.0 + 0.5)::BIGINT, 1),
                     n_masked)
                 ELSE 0 END AS n_spans
          FROM m)
    SELECT doc_id, n AS n_tok, n_masked, n_spans,
           (n - n_masked + n_spans)::BIGINT AS enc_len,
           CASE WHEN n_masked > 0 THEN n_masked + n_spans + 1
                ELSE 0 END::BIGINT AS dec_len
    FROM s
    """


def q_media_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact media dedup by binary content hash over the synthetic
    media table with planted duplicates (payload keyed on id % 37, so
    each distinct payload spans ~3 ids and multiple modality
    labels)."""
    from hnormalise_spark.ops import multimodal as M

    media = M.synth_media(spark, N_MEDIA, dup_mod=37)
    return M.media_dedup(media)


def _oracle_media_dedup() -> str:
    return f"""
    WITH m AS (SELECT range AS id FROM range({N_MEDIA})),
    p AS (SELECT printf('m-%06d', id) AS media_id,
                 CASE WHEN id % 3 = 0 THEN 'image'
                      WHEN id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
                 upper(md5((id % 37)::VARCHAR)) AS payload_hex
          FROM m)
    SELECT md5(payload_hex) AS fingerprint,
           min(media_id) AS keeper_id,
           count(*)::BIGINT AS n_copies,
           16::BIGINT AS n_bytes,
           string_agg(DISTINCT kind, ',' ORDER BY kind) AS kinds
    FROM p GROUP BY fingerprint
    """


def q_distinct_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source distinct-2 diversity: total vs distinct word
    bigrams and their integer-ppm ratio."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select("source", "text")
    )
    return T.distinct_ngrams(docs, n=2)


def _oracle_distinct_ngrams() -> str:
    return """
    WITH w AS (SELECT source, [x FOR x IN split(text, ' ') IF x <> ''] AS ws
               FROM documents WHERE text IS NOT NULL),
    g AS (SELECT source, ws[i] || ' ' || ws[i + 1] AS gram
          FROM (SELECT source, ws, unnest(range(1, len(ws))) AS i
                FROM w WHERE len(ws) >= 2)),
    c AS (SELECT source, gram, count(*)::BIGINT AS c
          FROM g GROUP BY 1, 2)
    SELECT source,
           sum(c)::BIGINT AS n_grams_total,
           count(*)::BIGINT AS n_grams_distinct,
           floor(count(*)::DOUBLE / sum(c)::DOUBLE * 1000000.0 + 0.5)::BIGINT
             AS distinct_ppm
    FROM c GROUP BY source
    """


def q_budget_batches(spark: SparkSession, sf: str) -> DataFrame:
    """fairseq-style max-tokens batching (length_bucket_batches in
    token-budget mode): buckets of 32, budget 512 padded tokens per
    batch, 4 hash shards — short docs form large batches, long docs
    small ones, every batch's padded cost bounded by the budget."""
    from hnormalise_spark.ops import packing as PK

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    toked = docs.select("doc_id", _codepoint_tokens().alias("tokens"))
    return PK.length_bucket_batches(
        toked, bucket_width=32, shards=4, max_tokens=512
    ).select(
        "doc_id",
        "n_tok",
        "bucket",
        "shard",
        "batch_idx",
        F.col("batch_n").cast("long").alias("batch_n"),
        F.col("batch_cost").cast("long").alias("batch_cost"),
        F.col("batch_max_len").cast("long").alias("batch_max_len"),
        F.col("pad_ppm").cast("long").alias("pad_ppm"),
    )


def _oracle_budget_batches() -> str:
    span = float(1 << 60)
    return f"""
    WITH tok AS (SELECT doc_id,
            CASE WHEN text IS NULL OR length(text) = 0 THEN 0
                 ELSE length(text) END AS n_tok
          FROM documents),
    base AS (SELECT doc_id::BIGINT AS doc_id, n_tok::BIGINT AS n_tok,
               ((n_tok - 1) // 32)::INT AS bucket,
               floor(('0x' || substr(md5(doc_id::VARCHAR || '|lbb'), 1, 15))::BIGINT
                     / {span!r} * 4)::INT AS shard
             FROM tok WHERE n_tok > 0),
    capd AS (SELECT *,
               greatest(1, 512 // ((bucket + 1) * 32))::BIGINT AS cap
             FROM base),
    ranked AS (SELECT *,
               ((row_number() OVER (PARTITION BY bucket, shard
                                    ORDER BY doc_id ASC) - 1) // cap)::BIGINT
                 AS batch_idx
             FROM capd)
    SELECT doc_id, n_tok, bucket, shard, batch_idx,
           (count(*) OVER w)::BIGINT AS batch_n,
           (count(*) OVER w * max(n_tok) OVER w)::BIGINT AS batch_cost,
           (max(n_tok) OVER w)::BIGINT AS batch_max_len,
           floor((max(n_tok) OVER w - n_tok) * 1000000
                 / max(n_tok) OVER w + 0.5)::BIGINT AS pad_ppm
    FROM ranked
    WINDOW w AS (PARTITION BY bucket, shard, batch_idx)
    """


# 'dup' is a rare corpus word (~5% of docs), 'junk' absent — a
# realistic gate; 'slow' (in ~80% of docs) would nuke the release
RELEASE_TERMS = ["dup", "junk"]
RELEASE_CAP = 400


def q_release_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Composed flagship #7 — corpus release gate: blocklist drop
    (zero-shuffle ``blocklist_hits`` predicate) → exact-dedup keepers
    (min-id per normalized-text fingerprint) → length-cap truncation
    at {cap} chars → doc-level ``snapshot_doc_diff`` of the release
    against the raw corpus, aggregated per status with doc counts,
    id-sums, and char accounting. One hash-green row set proves the
    whole drop/keep/truncate classification end to end: removed =
    blocklisted ∪ dup non-keepers, changed = truncated longs,
    unchanged = everything else.

    Scale shape: the gate is a per-row expression on the scan; the
    keeper aggregate is exact_dedup's fixed-width-fingerprint
    shuffle; the diff reduces both sides to (id, fp) before its one
    full-outer join; the char join rides the same id key and the
    final aggregate is 3 rows."""
    from hnormalise_spark.ops import dedup as D
    from hnormalise_spark.ops import textops as T
    from hnormalise_spark.table import snapshot_doc_diff

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text", "n_chars"
        )
    )
    kept = docs.filter(F.size(T.blocklist_hits(RELEASE_TERMS)) == 0)
    keepers = kept.groupBy(
        F.md5(D.normalized_text(F.col("text"))).alias("_fp")
    ).agg(F.min("doc_id").alias("doc_id"))
    curated = kept.join(keepers.select("doc_id"), "doc_id").select(
        "doc_id",
        F.when(
            F.length("text") > RELEASE_CAP,
            F.substring("text", 1, RELEASE_CAP),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    diff = snapshot_doc_diff(docs.select("doc_id", "text"), curated)
    return (
        diff.join(docs.select("doc_id", "n_chars"), "doc_id", "left")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum(F.coalesce("n_chars", F.lit(0)))
            .cast("long")
            .alias("sum_n_chars"),
        )
    )


if q_release_pipeline.__doc__:  # absent under python -OO
    q_release_pipeline.__doc__ = q_release_pipeline.__doc__.format(
        cap=RELEASE_CAP
    )


def _oracle_release_pipeline() -> str:
    terms = ", ".join(f"'{t}'" for t in RELEASE_TERMS)
    return rf"""
    WITH kept AS (
      SELECT doc_id, text FROM documents
      WHERE len([x FOR x IN split(coalesce(text, ''), ' ')
                 IF x <> '' AND x IN ({terms})]) = 0),
    keepers AS (
      SELECT min(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                     AS fp
            FROM kept)
      GROUP BY fp),
    curated AS (
      SELECT k.doc_id,
             CASE WHEN length(k.text) > {RELEASE_CAP}
                  THEN substr(k.text, 1, {RELEASE_CAP})
                  ELSE k.text END AS text
      FROM kept k JOIN keepers USING (doc_id)),
    a AS (SELECT doc_id,
                 md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
          FROM documents),
    b AS (SELECT doc_id,
                 md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
          FROM curated),
    d AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                 CASE WHEN b.doc_id IS NULL THEN 'removed'
                      WHEN a.doc_id IS NULL THEN 'added'
                      WHEN a.fp IS NOT DISTINCT FROM b.fp THEN 'unchanged'
                      ELSE 'changed' END AS status
          FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
    SELECT status, count(*)::BIGINT AS n_docs,
           sum(d.doc_id)::BIGINT AS sum_doc_id,
           sum(coalesce(doc.n_chars, 0))::BIGINT AS sum_n_chars
    FROM d LEFT JOIN documents doc ON doc.doc_id = d.doc_id
    GROUP BY status
    """


def q_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Skew diagnosis over the events table keyed by event_type at
    32-way target parallelism: hot-key shares + salt-bucket
    recommendation feeding the salted aggregate's dial."""
    from hnormalise_spark.ops.skew import skew_report

    ev = spread_to_cores(
        spark.read.parquet(f"{sf}/events.parquet").select("event_type")
    )
    return skew_report(ev, "event_type", top_k=10, tasks=32)


def _oracle_skew_report() -> str:
    return """
    WITH c AS (SELECT event_type::VARCHAR AS key, count(*)::BIGINT AS n_rows
               FROM events GROUP BY 1),
    t AS (SELECT sum(n_rows)::BIGINT AS total, count(*)::BIGINT AS n_keys
          FROM c),
    top AS (SELECT key, n_rows FROM c
            ORDER BY n_rows DESC, key ASC NULLS LAST LIMIT 10)
    SELECT row_number() OVER (ORDER BY n_rows DESC, key ASC NULLS LAST)::BIGINT
             AS rank,
           key, n_rows,
           floor(n_rows::DOUBLE / total::DOUBLE * 1000000.0 + 0.5)::BIGINT
             AS share_ppm,
           ((n_rows * 32 + total - 1) // total)::BIGINT AS salt_buckets,
           n_keys AS n_keys_total
    FROM top, t
    """


def q_domain_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-domain NLL matrix: every source's text scored under every
    source's add-one unigram LM (global-vocab smoothing)."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select("source", "text")
    )
    return T.cross_domain_nll(docs)


def _oracle_domain_matrix() -> str:
    # word split replays textops._words (\\s+ on trimmed text), the
    # same fragment _oracle_domain_reweight uses — NOT the single-
    # space split of the pmi/blocklist family, whose Spark sides
    # split on ' ' literally
    return """
    WITH w AS (SELECT source AS g,
                      unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
               FROM documents
               WHERE text IS NOT NULL AND trim(text) <> ''),
    c AS (SELECT g, word, count(*)::BIGINT AS c FROM w GROUP BY 1, 2),
    v AS (SELECT count(DISTINCT word)::BIGINT AS V FROM c),
    t AS (SELECT g, sum(c)::BIGINT AS T FROM c GROUP BY 1),
    grid AS (SELECT a.g AS ga, tb.g AS gb, a.word, a.c AS ca,
                    coalesce(mb.c, 0)::BIGINT AS cb, tb.T, v.V
             FROM c a
             CROSS JOIN t tb
             LEFT JOIN c mb ON mb.g = tb.g AND mb.word = a.word
             CROSS JOIN v),
    scored AS (SELECT ga, gb, ca,
                 ca::HUGEINT * floor(-ln((cb + 1.0) / (T + V))
                                     * 1000000.0 + 0.5)::HUGEINT AS prod
               FROM grid)
    SELECT ga AS source_scored, gb AS source_model,
           sum(ca)::BIGINT AS n_tok,
           floor(sum(prod)::DOUBLE / sum(ca)::DOUBLE)::BIGINT
             AS mean_nll_x1e6
    FROM scored GROUP BY 1, 2
    """


def q_edit_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Blocked Levenshtein near-dup over the documents corpus plus
    planted small edits (doc_id%13==1 re-added under +10^5 with
    ' v2' appended → distance 3, same prefix block); natural exact
    dups land at distance 0."""
    from hnormalise_spark.ops import dedup as D

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    planted = docs.filter(F.col("doc_id") % 13 == 1).select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
    )
    return D.levenshtein_neardup(docs.unionByName(planted))


def _oracle_edit_neardup() -> str:
    return r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text || ' v2' FROM documents
      WHERE doc_id % 13 = 1),
    base AS (
      SELECT doc_id AS id,
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t,
             md5(substr(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                        1, 24)) AS bk
      FROM corpus WHERE text IS NOT NULL),
    kept AS (
      SELECT *, length(t) AS l,
             count(*) OVER (PARTITION BY bk) AS bn
      FROM base QUALIFY bn <= 64)
    SELECT a.id AS id_a, b.id AS id_b,
           levenshtein(a.t, b.t)::BIGINT AS dist
    FROM kept a JOIN kept b
      ON a.bk = b.bk AND a.id < b.id AND abs(a.l - b.l) <= 5
    WHERE levenshtein(a.t, b.t) <= 5
    """


def q_quality_pct(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source quality percentile calibration (exact cume_dist in
    integer ppm) — the normalization before cross-source quality
    thresholds."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "source", "text"
        )
    )
    return T.quality_percentiles(docs)


def _oracle_quality_pct() -> str:
    return r"""
    WITH base AS (
      SELECT doc_id, source,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
             length(regexp_replace(text, '[A-Za-z0-9 \t\n]', '', 'g'))
               AS n_punct,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END
               AS n_tokens,
             greatest(length(text), 1) AS n
      FROM documents WHERE text IS NOT NULL),
    q AS (
      SELECT doc_id, source,
             floor(((n_alpha / n) * 0.6
                    + CASE WHEN n_tokens >= 5 AND n_tokens <= 10000
                           THEN 1.0 ELSE 0.3 END * 0.3
                    + (1.0 - least((n_punct / n) * 4, 1.0)) * 0.1)
                   * 10000.0 + 0.5)::BIGINT AS quality_x1e4
      FROM base)
    SELECT doc_id, source, quality_x1e4,
           floor(cume_dist() OVER (PARTITION BY source
                                   ORDER BY quality_x1e4)
                 * 1000000.0 + 0.5)::BIGINT AS pct_ppm
    FROM q
    """


def q_exemplars(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic data-card exemplars: per (source, 100-char length
    bucket), the min-md5(id) document with id, length, and a 40-char
    snippet."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "source", "text"
        )
    )
    return T.exemplar_docs(docs)


def _oracle_exemplars() -> str:
    return """
    WITH base AS (
      SELECT source, floor((length(text) - 1) / 100)::BIGINT AS len_bucket,
             md5(doc_id::VARCHAR) AS h, doc_id,
             length(text)::BIGINT AS n_chars,
             substr(text, 1, 40) AS snippet
      FROM documents WHERE text IS NOT NULL AND length(text) > 0)
    SELECT source, len_bucket,
           arg_min(doc_id, h) AS doc_id,
           arg_min(n_chars, h) AS n_chars,
           arg_min(snippet, h) AS snippet
    FROM base GROUP BY 1, 2
    """


def q_classifier_roc(spark: SparkSession, sf: str) -> DataFrame:
    """Threshold-sweep ROC of the hashing-trick classifier against
    the heuristic quality gate — the audit before swapping the gold
    scorer for the fast one."""
    from hnormalise_spark.ops import textops as T

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    return T.classifier_roc(docs)


def _oracle_classifier_roc() -> str:
    d = QS_BUCKETS
    thr = ", ".join(f"({t})" for t in range(-2000, 2001, 400))
    return f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
    toks AS (SELECT doc_id,
               CASE WHEN trim(text) = '' THEN []
                    ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
             FROM docs),
    tw AS (SELECT doc_id,
             ('0x' || substr(md5('qsw|' ||
                (('0x' || substr(md5('qsb|' || u.tok), 1, 15))::BIGINT % {d})::VARCHAR
             ), 1, 15))::BIGINT % 2001 - 1000 AS wt
           FROM toks, UNNEST(w) AS u(tok)),
    agg AS (SELECT doc_id, sum(wt)::BIGINT AS s FROM tw GROUP BY 1),
    q AS (SELECT doc_id,
            floor(((length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    / greatest(length(text), 1)) * 0.6
                   + CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                                ELSE len(regexp_split_to_array(trim(text),
                                                               '\\s+')) END)
                               BETWEEN 5 AND 10000
                          THEN 1.0 ELSE 0.3 END * 0.3
                   + (1.0 - least((length(regexp_replace(text,
                                    '[A-Za-z0-9 \\t\\n]', '', 'g'))
                                   / greatest(length(text), 1)) * 4, 1.0))
                     * 0.1)
                  * 10000.0 + 0.5)::BIGINT >= 5000 AS truth
          FROM docs),
    score AS (SELECT q.doc_id, coalesce(a.s, 0) AS s, q.truth
              FROM q LEFT JOIN agg a ON a.doc_id = q.doc_id),
    tot AS (SELECT count(*)::BIGINT AS n,
                   sum(truth::INT)::BIGINT AS pos FROM score),
    thr(t) AS (VALUES {thr}),
    c AS (SELECT t, count(*) FILTER (WHERE s >= t)::BIGINT AS np,
                 count(*) FILTER (WHERE s >= t AND truth)::BIGINT AS tp
          FROM score CROSS JOIN thr GROUP BY t)
    SELECT t::BIGINT AS thr, np AS n_pred_pos, tp, (np - tp) AS fp,
           CASE WHEN pos > 0
                THEN floor(tp / pos * 1000000.0 + 0.5)::BIGINT ELSE 0 END
             AS tpr_ppm,
           CASE WHEN n - pos > 0
                THEN floor((np - tp) / (n - pos) * 1000000.0 + 0.5)::BIGINT
                ELSE 0 END AS fpr_ppm,
           CASE WHEN np > 0
                THEN floor(tp / np * 1000000.0 + 0.5)::BIGINT ELSE 0 END
             AS prec_ppm
    FROM c CROSS JOIN tot
    """


def q_knn_classify(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space kNN label eval: id-mod train/test split, exact
    cosine top-5 vote with fixed tie-breaks — the probe of whether
    the embedding column carries its labels."""
    from hnormalise_spark.ops import similarity as S

    emb = spread_to_cores(spark.read.parquet(f"{sf}/embeddings.parquet"))
    return S.knn_classify(emb, k=5, test_mod=5)


def _oracle_knn_classify() -> str:
    return f"""
    WITH base AS (
      SELECT vec_id AS id, label AS lbl, embedding AS v
      FROM embeddings WHERE embedding IS NOT NULL),
    t AS (SELECT * FROM base WHERE id % 5 = 0
          QUALIFY row_number() OVER (ORDER BY md5(id::VARCHAR), id) <= 200),
    r AS (SELECT * FROM base WHERE id % 5 <> 0),
    p AS (
      SELECT t.id AS t_id, t.lbl AS t_lbl, r.id AS r_id, r.lbl AS r_lbl,
             floor(
               list_sum(list_transform(range(1, {EMB_DIM + 1}),
                        i -> t.v[i]::DOUBLE * r.v[i]::DOUBLE))
               / NULLIF(sqrt(list_sum(list_transform(t.v,
                                       x -> x::DOUBLE * x::DOUBLE)))
                        * sqrt(list_sum(list_transform(r.v,
                                         x -> x::DOUBLE * x::DOUBLE))), 0)
               * 1000000.0 + 0.5)::BIGINT AS cos_x1e6
      FROM t CROSS JOIN r),
    topk AS (
      SELECT * FROM p WHERE cos_x1e6 IS NOT NULL
      QUALIFY row_number() OVER (PARTITION BY t_id
                                 ORDER BY cos_x1e6 DESC, r_id) <= 5),
    v AS (
      SELECT t_id, t_lbl, r_lbl, count(*)::BIGINT AS cnt
      FROM topk GROUP BY 1, 2, 3),
    pick AS (
      SELECT t_id, r_lbl AS pred
      FROM v QUALIFY row_number() OVER (PARTITION BY t_id
                                        ORDER BY cnt DESC, r_lbl) = 1)
    SELECT t.id AS vec_id, t.lbl::BIGINT AS label,
           pred::BIGINT AS pred_label,
           CASE WHEN t.lbl = pred THEN 1 ELSE 0 END::INT AS correct
    FROM t LEFT JOIN pick ON pick.t_id = t.id
    """


def q_sft_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Composed flagship #8 — the end-to-end SFT data-prep pipeline:
    quality gate (integer score ≥ 0.5) → exact-dedup keepers →
    chat-turn construction + loss-mask/truncation accounting →
    per-source totals with the overall loss share and the packed
    batch count a trainer would schedule. Every stage is an already
    -oracled operator; the flagship verifies their COMPOSITION."""
    from hnormalise_spark.ops import chatops as C
    from hnormalise_spark.ops import dedup as D
    from hnormalise_spark.ops.textops import quality_score

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "source", "text"
        )
    ).filter(F.col("text").isNotNull())

    q = F.floor(quality_score(F.col("text")) * F.lit(10000.0) + F.lit(0.5))
    gated = docs.withColumn("_q", q.cast("long")).filter(F.col("_q") >= 5000)
    kept = (
        D.exact_dedup(gated.select("doc_id", "source", "text"))
        .filter(~F.col("is_dup"))
        .select("doc_id")
        .join(gated, "doc_id")
    )
    stats = C.sft_mask_stats(kept.select("doc_id", "text")).join(
        kept.select("doc_id", "source"), "doc_id"
    )

    n_in = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_in")
    )
    n_gated = gated.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_gated")
    )
    agg = stats.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_tok").cast("long").alias("sum_tok"),
        F.sum("n_asst_tok").cast("long").alias("sum_asst_tok"),
        F.sum("kept_tokens").cast("long").alias("sum_kept_tok"),
        F.sum("trunc_tokens").cast("long").alias("sum_trunc_tok"),
    )
    return (
        n_in.join(n_gated, "source", "left")
        .join(agg, "source", "left")
        .select(
            "source",
            "n_in",
            F.coalesce("n_gated", F.lit(0)).cast("long").alias("n_gated"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("sum_tok", F.lit(0)).cast("long").alias("sum_tok"),
            F.coalesce("sum_kept_tok", F.lit(0)).cast("long")
            .alias("sum_kept_tok"),
            F.coalesce("sum_trunc_tok", F.lit(0)).cast("long")
            .alias("sum_trunc_tok"),
            F.when(
                F.coalesce("sum_tok", F.lit(0)) > 0,
                F.floor(
                    F.col("sum_asst_tok") / F.col("sum_tok") * F.lit(1e6)
                    + F.lit(0.5)
                ),
            ).otherwise(F.lit(0)).cast("long").alias("loss_ppm"),
            F.ceil(F.coalesce("sum_kept_tok", F.lit(0)) / F.lit(50.0))
            .cast("long")
            .alias("n_batches"),
        )
    )


def _oracle_sft_pipeline() -> str:
    return r"""
    WITH docs AS (
      SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL),
    scored AS (
      SELECT doc_id, source, text,
             floor(((length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                     / greatest(length(text), 1)) * 0.6
                    + CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                                 ELSE len(regexp_split_to_array(trim(text),
                                                                '\s+')) END)
                                BETWEEN 5 AND 10000
                           THEN 1.0 ELSE 0.3 END * 0.3
                    + (1.0 - least((length(regexp_replace(text,
                                     '[A-Za-z0-9 \t\n]', '', 'g'))
                                    / greatest(length(text), 1)) * 4, 1.0))
                      * 0.1)
                   * 10000.0 + 0.5)::BIGINT AS q
      FROM docs),
    gated AS (SELECT * FROM scored WHERE q >= 5000),
    fp AS (
      SELECT doc_id, source, text,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
      FROM gated),
    kept AS (
      SELECT doc_id, source, text
      FROM fp QUALIFY doc_id = min(doc_id) OVER (PARTITION BY f)),
    tok AS (
      SELECT doc_id, source,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END
               AS n_tok
      FROM kept),
    t AS (
      SELECT doc_id, source, n_tok,
             CASE WHEN n_tok = 0 THEN 0
                  ELSE ((n_tok + 7) // 8) END AS n_turns,
             CASE WHEN n_tok = 0 THEN 0
                  ELSE n_tok - 8 * ((n_tok + 7) // 8 - 1) END AS last_l
      FROM tok),
    r AS (
      SELECT doc_id, source, n_tok, n_turns, last_l,
             CASE WHEN n_turns = 0 THEN 0
                  ELSE 8 * (n_turns // 2)
                       + CASE WHEN (n_turns - 1) % 2 = 0
                              THEN last_l ELSE 0 END END AS n_user_tok,
             least(n_turns - 1, 6) AS kept_full
      FROM t),
    k AS (
      SELECT *,
             CASE WHEN n_turns > 0 AND kept_full = n_turns - 1
                       AND last_l <= 50 - 8 * kept_full
                  THEN 1 ELSE 0 END AS last_kept
      FROM r),
    per_doc AS (
      SELECT doc_id, source, n_tok,
             n_tok - n_user_tok AS n_asst_tok,
             CASE WHEN n_turns = 0 THEN 0
                  ELSE 8 * kept_full + last_kept * last_l END AS kept_tokens
      FROM k),
    agg AS (
      SELECT source, count(*)::BIGINT AS n_kept,
             sum(n_tok)::BIGINT AS sum_tok,
             sum(n_asst_tok)::BIGINT AS sum_asst_tok,
             sum(kept_tokens)::BIGINT AS sum_kept_tok,
             sum(n_tok - kept_tokens)::BIGINT AS sum_trunc_tok
      FROM per_doc GROUP BY 1),
    ni AS (SELECT source, count(*)::BIGINT AS n_in FROM docs GROUP BY 1),
    ng AS (SELECT source, count(*)::BIGINT AS n_gated FROM gated GROUP BY 1)
    SELECT ni.source, n_in,
           coalesce(n_gated, 0)::BIGINT AS n_gated,
           coalesce(n_kept, 0)::BIGINT AS n_kept,
           coalesce(sum_tok, 0)::BIGINT AS sum_tok,
           coalesce(sum_kept_tok, 0)::BIGINT AS sum_kept_tok,
           coalesce(sum_trunc_tok, 0)::BIGINT AS sum_trunc_tok,
           CASE WHEN coalesce(sum_tok, 0) > 0
                THEN floor(sum_asst_tok / sum_tok * 1000000.0 + 0.5)::BIGINT
                ELSE 0 END AS loss_ppm,
           ceil(coalesce(sum_kept_tok, 0) / 50.0)::BIGINT AS n_batches
    FROM ni LEFT JOIN ng USING (source) LEFT JOIN agg ON agg.source = ni.source
    """


def q_chat_render(spark: SparkSession, sf: str) -> DataFrame:
    """Chat template rendering: the BYTE-EXACT flattened SFT text per
    conversation (role tags + token spans) — the oracle pins the
    rendered string itself, not a statistic of it."""
    from hnormalise_spark.ops import chatops as C

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    return C.rendered_conversations(docs, turn_tokens=8)


def _oracle_chat_render() -> str:
    return r"""
    WITH tok AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      FROM documents WHERE text IS NOT NULL),
    t AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) = 0 THEN 0
                  ELSE (len(toks) + 7) // 8 END AS n_turns
      FROM tok),
    r AS (
      SELECT doc_id,
             CASE WHEN n_turns = 0 THEN ''
                  ELSE array_to_string(
                    list_transform(range(n_turns), i ->
                      '<|' || CASE WHEN i % 2 = 0 THEN 'user'
                                   ELSE 'assistant' END || '|> '
                      || array_to_string(
                           toks[i * 8 + 1 : least((i + 1) * 8, n)], ' ')),
                    '') END AS rendered
      FROM t)
    SELECT doc_id, rendered, length(rendered)::BIGINT AS n_rendered_chars
    FROM r
    """


def _hll_oracle_prefix() -> str:
    """Shared DuckDB replica of the HLL register build + estimator
    (p=6): CTEs hv/r/sk/agg/est/fin ending with one row per
    event_type carrying est_distinct_x1e3. Both HLL oracles (and any
    future one) append their own final join to THIS prefix, so an
    estimator correction can never apply to one oracle and not the
    other."""
    from hnormalise_spark.ops.sketches import (
        hll_alpha,
        hll_linear_counting_x1e3,
        hll_w_bits,
    )

    p, m = 6, 64
    w1 = hll_w_bits(p) + 1
    numer = hll_alpha(m) * m * m * float(1 << w1)
    lc = hll_linear_counting_x1e3(p)
    hex15 = " + ".join(
        f"{16 ** (14 - j)} * (strpos('0123456789abcdef', "
        f"substr(md5(user_id::VARCHAR), {j + 1}, 1)) - 1)"
        for j in range(15)
    )
    return f"""
    hv AS (SELECT event_type, ({hex15})::BIGINT AS h FROM events),
    r AS (SELECT event_type, h % {m} AS j,
                 CASE WHEN (h >> {p}) = 0 THEN {w1}
                      ELSE floor(log2(((h >> {p}) & (-(h >> {p})))::DOUBLE))
                           ::INT + 1 END AS rho
          FROM hv),
    sk AS (SELECT event_type, j, max(rho) AS reg FROM r GROUP BY 1, 2),
    agg AS (SELECT event_type, count(*)::BIGINT AS np,
                   sum(1::BIGINT << ({w1} - reg))::BIGINT AS sp
            FROM sk GROUP BY 1),
    est AS (SELECT event_type,
                   ({m} - np)::INT AS v,
                   {numer!r} / (sp + ({m} - np)
                                * {1 << w1})::DOUBLE AS e_raw
            FROM agg),
    fin AS (SELECT event_type,
                   CASE WHEN v > 0 AND e_raw <= {2.5 * m!r}
                        THEN ([{", ".join(str(x) for x in lc)}])[v]
                        ELSE floor(e_raw * 1000.0 + 0.5)::BIGINT
                   END AS est_distinct_x1e3
            FROM est)
    """


def q_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog distinct users per event type (p=6, RSE ~13%),
    published beside the exact count like sketch_distinct — the two
    standard mergeable cardinality sketches side by side."""
    from hnormalise_spark.ops import sketches as SK

    ev = spread_to_cores(spark.read.parquet(f"{sf}/events.parquet"))
    sk = SK.hll_sketch(ev, ["event_type"], "user_id", p=6)
    est = SK.hll_estimate(sk, ["event_type"], p=6)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type", "n_exact", "est_distinct_x1e3"
    )


def _oracle_hll_distinct() -> str:
    return f"""
    WITH {_hll_oracle_prefix()},
    e AS (SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS n_exact
          FROM events GROUP BY 1)
    SELECT event_type, n_exact, est_distinct_x1e3
    FROM fin JOIN e USING (event_type)
    """


def q_hll_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """HLL through the MERGE path: per-(event_type, day) partial
    sketches folded by hll_merge, estimate from the merged registers.
    By the max merge law this must EQUAL the whole-corpus sketch —
    the oracle computes the direct form, so the gate verifies the
    re-scan-free daily-rollup story end to end."""
    from hnormalise_spark.ops import sketches as SK

    ev = spread_to_cores(
        spark.read.parquet(f"{sf}/events.parquet").select(
            "event_type", "user_id", F.to_date("ts").alias("day")
        )
    )
    daily = SK.hll_sketch(ev, ["event_type", "day"], "user_id", p=6)
    merged = SK.hll_merge(daily.drop("day"))
    est = SK.hll_estimate(merged, ["event_type"], p=6)
    days = ev.groupBy("event_type").agg(
        F.countDistinct("day").cast("long").alias("n_days")
    )
    return est.join(F.broadcast(days), "event_type").select(
        "event_type", "n_days", "est_distinct_x1e3"
    )


def _oracle_hll_rollup() -> str:
    return f"""
    WITH {_hll_oracle_prefix()},
    d AS (SELECT event_type, COUNT(DISTINCT ts::DATE)::BIGINT AS n_days
          FROM events GROUP BY 1)
    SELECT event_type, n_days, est_distinct_x1e3
    FROM fin JOIN d USING (event_type)
    """


def q_dedup_eval(spark: SparkSession, sf: str) -> DataFrame:
    """LSH recall/precision eval on the bounded known-answer bed
    (top-60 md5 sample + injected suffix near-dups) vs exact
    all-pairs Jaccard truth."""
    from hnormalise_spark.ops import dedup as D

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    return D.minhash_recall_eval(docs)


def _oracle_dedup_eval() -> str:
    from hnormalise_spark.ops.dedup import MINHASH_P, minhash_params

    k, bands, rows = 16, 4, 4
    params = minhash_params(k)
    hex7 = " + ".join(
        f"{16 ** (6 - j)} * (strpos('0123456789abcdef', substr(md5(x), {j + 1}, 1)) - 1)"
        for j in range(7)
    )
    sig = ", ".join(
        f"list_min(list_transform(hv, h -> ({a}::BIGINT * h + {b}) % {MINHASH_P})) AS g{i}"
        for i, (a, b) in enumerate(params)
    )
    band_list = ", ".join(
        f"md5('b{b}:' || "
        + " || '|' || ".join(f"g{b * rows + r}::VARCHAR" for r in range(rows))
        + ")"
        for b in range(bands)
    )
    return f"""
    WITH bed0 AS (
      SELECT doc_id AS id, text AS t FROM documents
      WHERE text IS NOT NULL
      QUALIFY row_number() OVER (ORDER BY md5(doc_id::VARCHAR), doc_id)
              <= 60),
    bed AS (
      SELECT id, t FROM bed0
      UNION ALL
      SELECT -id - 1, t || ' qq ww ee rr tt' FROM bed0
      WHERE id % 3 = 0),
    norm AS (SELECT id,
                    lower(trim(regexp_replace(t, '\\s+', ' ', 'g'))) AS t
             FROM bed),
    sh AS (SELECT id,
                  CASE WHEN length(t) < 5 THEN [t]
                       ELSE list_distinct(list_transform(range(1, length(t) - 3),
                                                         i -> substr(t, i, 5))) END AS s
           FROM norm),
    hv AS (SELECT id, s, list_transform(s, x -> {hex7}) AS hv FROM sh),
    sig AS (SELECT id, s, {sig} FROM hv),
    band AS (SELECT id, s, unnest([{band_list}]) AS bk FROM sig),
    cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                    len(list_intersect(a.s, b.s)) AS inter,
                    len(a.s) AS la, len(b.s) AS lb
             FROM band a JOIN band b ON a.bk = b.bk AND a.id < b.id),
    cm AS (SELECT count(*)::BIGINT AS n_cand,
                  coalesce(sum(CASE WHEN inter / (la + lb - inter) >= 0.5
                                    THEN 1 ELSE 0 END), 0)::BIGINT
                    AS n_verified
           FROM cand),
    tm AS (SELECT count(*)::BIGINT AS n_truth
           FROM sh a JOIN sh b ON a.id < b.id
           WHERE len(list_intersect(a.s, b.s))
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                 >= 0.5)
    SELECT n_truth, n_cand, n_verified,
           CASE WHEN n_truth > 0
                THEN floor(n_verified / n_truth * 1000000.0 + 0.5)::BIGINT
                ELSE 1000000 END AS recall_ppm,
           CASE WHEN n_cand > 0
                THEN floor(n_verified / n_cand * 1000000.0 + 0.5)::BIGINT
                ELSE 1000000 END AS precision_ppm
    FROM tm CROSS JOIN cm
    """


def q_prefix_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Prefix-containment dedup over documents + planted truncation
    artifacts (every 13th doc re-added as its own 61-char prefix) —
    each plant must pair with its source."""
    from hnormalise_spark.ops import dedup as D

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    # plant ids are the negated space (-id-1): no corpus id can collide
    planted = docs.filter(
        (F.col("doc_id") % 13 == 3) & (F.length("text") >= 80)
    ).select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        F.substring("text", 1, 61).alias("text"),
    )
    return D.prefix_containment_pairs(docs.unionByName(planted))


def _oracle_prefix_dedup() -> str:
    return r"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT -doc_id - 1, substr(text, 1, 61) FROM documents
      WHERE doc_id % 13 = 3 AND length(text) >= 80),
    base AS (
      SELECT doc_id AS id,
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
      FROM all_docs WHERE text IS NOT NULL),
    k AS (
      SELECT id, t, length(t) AS l, substr(t, 1, 32) AS bk
      FROM base WHERE length(t) >= 32),
    kept AS (
      SELECT *, count(*) OVER (PARTITION BY bk) AS bn
      FROM k QUALIFY bn <= 64)
    SELECT a.id AS id_a, b.id AS id_b,
           a.l::BIGINT AS len_a, b.l::BIGINT AS len_b
    FROM kept a JOIN kept b ON a.bk = b.bk AND a.l < b.l
    WHERE substr(b.t, 1, a.l) = a.t
    """


def q_sft_masking(spark: SparkSession, sf: str) -> DataFrame:
    """SFT chat prep: build fixed-width alternating user/assistant
    turns from each document's token stream and derive the loss-mask
    + context-truncation accounting FROM the materialized structure
    (the oracle recomputes every count in closed form — agreement
    proves the structure was built right)."""
    from hnormalise_spark.ops import chatops as C

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    return C.sft_mask_stats(docs, turn_tokens=8, max_ctx=50)


def _oracle_sft_masking() -> str:
    # Closed-form replay: all turns are 8 tokens except the last
    # (L = n_tok - 8*(n_turns-1)); user turns are the even indices, so
    # n_user = 8*floor(n_turns/2) + (L if the last index is even).
    # Greedy whole-turn packing into 50 tokens keeps
    # min(n_turns-1, 6) full turns, then the last turn iff every full
    # turn fit and L fits the remaining budget (the latch: a dropped
    # middle turn closes the window for the short final turn too).
    return r"""
    WITH tok AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END
               AS n_tok
      FROM documents WHERE text IS NOT NULL),
    t AS (
      SELECT doc_id, n_tok,
             CASE WHEN n_tok = 0 THEN 0
                  ELSE ((n_tok + 7) // 8) END AS n_turns,
             CASE WHEN n_tok = 0 THEN 0
                  ELSE n_tok - 8 * ((n_tok + 7) // 8 - 1) END AS last_l
      FROM tok),
    r AS (
      SELECT doc_id, n_tok, n_turns, last_l,
             CASE WHEN n_turns = 0 THEN 0
                  ELSE 8 * (n_turns // 2)
                       + CASE WHEN (n_turns - 1) % 2 = 0
                              THEN last_l ELSE 0 END END AS n_user_tok,
             least(n_turns - 1, 6) AS kept_full
      FROM t),
    k AS (
      SELECT *,
             CASE WHEN n_turns > 0 AND kept_full = n_turns - 1
                       AND last_l <= 50 - 8 * kept_full
                  THEN 1 ELSE 0 END AS last_kept
      FROM r)
    SELECT doc_id, n_tok, n_turns, n_user_tok,
           n_tok - n_user_tok AS n_asst_tok,
           CASE WHEN n_tok > 0
                THEN floor((n_tok - n_user_tok) / n_tok * 1000000.0
                           + 0.5)::BIGINT
                ELSE 0 END AS loss_ppm,
           CASE WHEN n_turns = 0 THEN 0
                ELSE kept_full + last_kept END AS kept_turns,
           CASE WHEN n_turns = 0 THEN 0
                ELSE 8 * kept_full + last_kept * last_l END AS kept_tokens,
           n_tok - CASE WHEN n_turns = 0 THEN 0
                        ELSE 8 * kept_full + last_kept * last_l END
             AS trunc_tokens
    FROM k
    """


def q_curriculum(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-staged curriculum schedule: global-percentile stage,
    deterministic md5 order within stage, running token count."""
    from hnormalise_spark.ops import chatops as C

    docs = spread_to_cores(
        spark.read.parquet(f"{sf}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )
    return C.curriculum_schedule(docs, n_stages=4)


def _oracle_curriculum() -> str:
    return r"""
    WITH base AS (
      SELECT doc_id,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
             length(regexp_replace(text, '[A-Za-z0-9 \t\n]', '', 'g'))
               AS n_punct,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END
               AS n_tokens,
             greatest(length(text), 1) AS n
      FROM documents WHERE text IS NOT NULL),
    q AS (
      SELECT doc_id, n_tokens::BIGINT AS n_tok,
             floor(((n_alpha / n) * 0.6
                    + CASE WHEN n_tokens >= 5 AND n_tokens <= 10000
                           THEN 1.0 ELSE 0.3 END * 0.3
                    + (1.0 - least((n_punct / n) * 4, 1.0)) * 0.1)
                   * 10000.0 + 0.5)::BIGINT AS quality_x1e4,
             md5(doc_id::VARCHAR) AS h
      FROM base),
    s AS (
      SELECT doc_id, quality_x1e4, n_tok, h,
             greatest(0, least(3,
                 floor(cume_dist() OVER (ORDER BY quality_x1e4)
                       * 4.0 - 1e-9)))::BIGINT AS stage
      FROM q)
    SELECT doc_id, stage, quality_x1e4, n_tok,
           row_number() OVER (PARTITION BY stage ORDER BY h, doc_id)
             ::BIGINT AS rank_in_stage,
           sum(n_tok) OVER (PARTITION BY stage ORDER BY h, doc_id
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
    FROM s
    """


REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], Callable[[], str]]] = {
    "text_analyze": (q_text_analyze, _oracle_text_analyze),
    "exact_dedup": (q_exact_dedup, _oracle_exact_dedup),
    "minhash_lsh": (q_minhash_lsh, _oracle_minhash_lsh),
    "simhash": (q_simhash, _oracle_simhash),
    "ngram_jaccard": (q_ngram_jaccard, _oracle_ngram_jaccard),
    "similarity_topk": (q_similarity_topk, _oracle_similarity_topk),
    "similarity_ann": (q_similarity_ann, _oracle_similarity_ann),
    "similarity_ann_indexed": (q_similarity_ann_indexed, _oracle_similarity_ann),
    "similarity_ann_multiprobe": (q_similarity_ann_multiprobe, _oracle_similarity_ann_multiprobe),
    "similarity_ivf": (q_similarity_ivf, _oracle_similarity_ivf),
    "ann_recall": (q_ann_recall, _oracle_ann_recall),
    "sketch_distinct": (q_sketch_distinct, _oracle_sketch_distinct),
    "sketch_jaccard": (q_sketch_jaccard, _oracle_sketch_jaccard),
    "cm_heavy_hitters": (q_cm_heavy_hitters, _oracle_cm_heavy_hitters),
    "weighted_sample": (q_weighted_sample, _oracle_weighted_sample),
    "temperature_mix": (q_temperature_mix, _oracle_temperature_mix),
    "embedding_neardup": (q_embedding_neardup, _oracle_embedding_neardup),
    "dedup_clusters": (q_dedup_clusters, _oracle_dedup_clusters),
    "sample_split": (q_sample_split, _oracle_sample_split),
    "dedup_incremental": (q_dedup_incremental, _oracle_dedup_incremental),
    "doclen_stats": (q_doclen_stats, _oracle_doclen_stats),
    "training_pipeline": (q_training_pipeline, _oracle_training_pipeline),
    "curation_pipeline": (q_curation_pipeline, _oracle_curation_pipeline),
    "decontaminate": (q_decontaminate, _oracle_decontaminate),
    "bloom_decontaminate": (q_bloom_decontaminate, _oracle_bloom_decontaminate),
    "quality_classifier": (q_quality_classifier, _oracle_quality_classifier),
    "token_dedup": (q_token_dedup, _oracle_token_dedup),
    "token_neardup": (q_token_neardup, _oracle_token_neardup),
    "token_clusters": (q_token_clusters, _oracle_token_clusters),
    "token_lm": (q_token_lm, _oracle_token_lm),
    "token_chunks": (q_token_chunks, _oracle_token_chunks),
    "token_decontam": (q_token_decontam, _oracle_token_decontam),
    "token_oov": (q_token_oov, _oracle_token_oov),
    "token_pack": (q_token_pack, _oracle_token_pack),
    "token_zipf": (q_token_zipf, _oracle_token_zipf),
    "dsir_select": (q_dsir_select, _oracle_dsir_select),
    "dsir_curation": (q_dsir_curation, _oracle_dsir_curation),
    "pii_redact": (q_pii_redact, _oracle_pii_redact),
    "pack_sequences": (q_pack_sequences, _oracle_pack_sequences),
    "mix_sources": (q_mix_sources, _oracle_mix_sources),
    "reshard": (q_reshard, _oracle_reshard),
    "vocab_topk": (q_vocab_topk, _oracle_vocab_topk),
    "bpe_pairs": (q_bpe_pairs, _oracle_bpe_pairs),
    "bpe_train": (q_bpe_train, _oracle_bpe_train),
    "bpe_encode": (q_bpe_encode, _oracle_bpe_encode),
    "tfidf_topk": (q_tfidf_topk, _oracle_tfidf_topk),
    "quality_gated_topk": (q_quality_gated_topk, _oracle_quality_gated_topk),
    "lm_score": (q_lm_score, _oracle_lm_score),
    "lm_bigram": (q_lm_bigram, _oracle_lm_bigram),
    "repetition": (q_repetition, _oracle_repetition),
    "dup_spans": (q_dup_spans, _oracle_dup_spans),
    "dup_span_extract": (q_dup_span_extract, _oracle_dup_span_extract),
    "dup_span_removal": (q_dup_span_removal, _oracle_dup_span_removal),
    "budget_select": (q_budget_select, _oracle_budget_select),
    "budget_select_grouped": (q_budget_select_grouped, _oracle_budget_select_grouped),
    "filter_funnel": (q_filter_funnel, _oracle_filter_funnel),
    "quantize_embeddings": (q_quantize_embeddings, _oracle_quantize_embeddings),
    "events_rollup": (q_events_rollup, _oracle_events_rollup),
    "events_sessionize": (q_events_sessionize, _oracle_events_sessionize),
    "events_asof": (q_events_asof, _oracle_events_asof),
    "events_session_stats": (q_events_session_stats, _oracle_events_session_stats),
    "events_funnel": (q_events_funnel, _oracle_events_funnel),
    "events_retention": (q_events_retention, _oracle_events_retention),
    "events_transitions": (q_events_transitions, _oracle_events_transitions),
    "events_active_users": (q_events_active_users, _oracle_events_active_users),
    "events_json_props": (q_json_props, _oracle_json_props),
    "revenue_by_nation": (q_revenue_by_nation, _oracle_revenue_by_nation),
    "brand_volume_by_region": (q_brand_volume_by_region, _oracle_brand_volume_by_region),
    "distinct_counts": (q_distinct_counts, _oracle_distinct_counts),
    "winnow_fp": (q_winnow_fp, _oracle_winnow_fp),
    "winnow_pairs": (q_winnow_pairs, _oracle_winnow_pairs),
    "bm25_topk": (q_bm25_topk, _oracle_bm25_topk),
    "bm25_indexed": (q_bm25_indexed, _oracle_bm25_topk),
    "multimodal_features": (q_multimodal, _oracle_multimodal),
    "multimodal_resize": (q_multimodal_resize, _oracle_multimodal_resize),
    "multimodal_frames": (q_multimodal_frames, _oracle_multimodal_frames),
    "tokens_roundtrip": (q_tokens_roundtrip, _oracle_tokens_roundtrip),
    "token_repetition": (q_token_repetition, _oracle_token_repetition),
    "stratified_take": (q_stratified_take, _oracle_stratified_take),
    "source_token_kl": (q_source_token_kl, _oracle_source_token_kl),
    "vocab_remap": (q_vocab_remap, _oracle_vocab_remap),
    "length_buckets": (q_length_buckets, _oracle_length_buckets),
    "batch_pipeline": (q_batch_pipeline, _oracle_batch_pipeline),
    "ann_quantized": (q_ann_quantized, _oracle_ann_quantized),
    "log_templates": (q_log_templates, _oracle_log_templates),
    "template_drift": (q_template_drift, _oracle_template_drift),
    "error_burst": (q_error_burst, _oracle_error_burst),
    "semdedup": (q_semdedup, _oracle_semdedup),
    "ppl_buckets": (q_ppl_buckets, _oracle_ppl_buckets),
    "epoch_mix": (q_epoch_mix, _oracle_epoch_mix),
    "semantic_decontam": (q_semantic_decontam, _oracle_semantic_decontam),
    "token_entropy": (q_token_entropy, _oracle_token_entropy),
    "fertility": (q_fertility, _oracle_fertility),
    "sketch_quantiles": (q_sketch_quantiles, _oracle_sketch_quantiles),
    "hard_negatives": (q_hard_negatives, _oracle_hard_negatives),
    "length_trim": (q_length_trim, _oracle_length_trim),
    "rrf_fusion": (q_rrf_fusion, _oracle_rrf_fusion),
    "cluster_canonical": (q_cluster_canonical, _oracle_cluster_canonical),
    "source_overlap": (q_source_overlap, _oracle_source_overlap),
    "ngram_novelty": (q_ngram_novelty, _oracle_ngram_novelty),
    "domain_reweight": (q_domain_reweight, _oracle_domain_reweight),
    "data_card": (q_data_card, _oracle_data_card),
    "card_diff": (q_card_diff, _oracle_card_diff),
    "pmi_phrases": (q_pmi_phrases, _oracle_pmi_phrases),
    "blocklist": (q_blocklist, _oracle_blocklist),
    "snapshot_diff": (q_snapshot_diff, _oracle_snapshot_diff),
    "heaps_growth": (q_heaps, _oracle_heaps),
    "lang_confusion": (q_lang_confusion, _oracle_lang_confusion),
    "span_plan": (q_span_plan, _oracle_span_plan),
    "media_dedup": (q_media_dedup, _oracle_media_dedup),
    "distinct_ngrams": (q_distinct_ngrams, _oracle_distinct_ngrams),
    "budget_batches": (q_budget_batches, _oracle_budget_batches),
    "release_pipeline": (q_release_pipeline, _oracle_release_pipeline),
    "skew_report": (q_skew_report, _oracle_skew_report),
    "domain_matrix": (q_domain_matrix, _oracle_domain_matrix),
    "edit_neardup": (q_edit_neardup, _oracle_edit_neardup),
    "quality_pct": (q_quality_pct, _oracle_quality_pct),
    "exemplars": (q_exemplars, _oracle_exemplars),
    "sft_masking": (q_sft_masking, _oracle_sft_masking),
    "curriculum": (q_curriculum, _oracle_curriculum),
    "prefix_dedup": (q_prefix_dedup, _oracle_prefix_dedup),
    "dedup_eval": (q_dedup_eval, _oracle_dedup_eval),
    "hll_distinct": (q_hll_distinct, _oracle_hll_distinct),
    "hll_rollup": (q_hll_rollup, _oracle_hll_rollup),
    "chat_render": (q_chat_render, _oracle_chat_render),
    "sft_pipeline": (q_sft_pipeline, _oracle_sft_pipeline),
    "knn_classify": (q_knn_classify, _oracle_knn_classify),
    "classifier_roc": (q_classifier_roc, _oracle_classifier_roc),
}
