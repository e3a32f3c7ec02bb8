"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale shapes:
* exact      — one hash-aggregate shuffle on the 16-byte fingerprint
               (never on the raw text).
* minhash    — per-row signature (map-side only), band → LSH bucket
               shuffle on small band keys, candidate verify inside
               buckets. No all-pairs anywhere.
* simhash    — per-row 64-bit sketch; near-dup = same sketch bucket
               (or hamming-adjacent probes).

Hashing discipline: md5-derived everywhere (deterministic across
engines and runs — Spark's hash()/xxhash64 seeds are engine-specific,
so DuckDB oracles could not re-verify them).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalized_text(text: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


# ---------------------------------------------------------------------------
# exact dedup


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Mark exact duplicates (after whitespace/case normalisation):
    keeper = min id per fingerprint group. Adds ``fingerprint``,
    ``group_size``, ``is_dup``.

    Plan: one shuffle keyed by the md5 fingerprint (fixed-width key —
    immune to long-text skew); at 10^12 rows use it with a pre-
    aggregated (fingerprint → min_id, count) broadcast-or-merge join.
    """
    return exact_dedup_on(df, F.md5(normalized_text(F.col(text_col))), id_col)


def exact_dedup_on(df: DataFrame, fingerprint: Column, id_col: str = "doc_id") -> DataFrame:
    """The shared body of ``exact_dedup`` and
    ``tokenops.token_exact_dedup``: group rows by the ``fingerprint``
    expression and keep the min id per group."""
    w = Window.partitionBy("fingerprint")
    return (
        df.withColumn("fingerprint", fingerprint)
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("keeper_id", F.min(id_col).over(w))
        .withColumn("is_dup", F.col(id_col) != F.col("keeper_id"))
    )


# ---------------------------------------------------------------------------
# incremental dedup against a persisted fingerprint index

FP_BUCKETS = 64


def fingerprint_bucket(fp: Column, buckets: int = FP_BUCKETS) -> Column:
    """Bounded partition key from the md5 fingerprint's first 2 hex
    chars — uniform, engine-portable, and a sane directory count (a
    partition per fingerprint would be the small-files failure mode)."""
    return F.pmod(F.conv(F.substring(fp, 1, 2), 16, 10).cast("int"), F.lit(buckets))


def build_fingerprint_index(
    df: DataFrame,
    index_path: str,
    snapshot_id: str = "base",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = FP_BUCKETS,
) -> None:
    """Materialize the historical-corpus dedup index ONCE through the
    snapshot table layer: one row per distinct fingerprint with its
    keeper id, partitioned by ``fp_bucket``. Committed + resumable
    (re-running is a no-op); incremental history growth appends new
    snapshots and ``dedup_against_index`` reads their union."""
    from hnormalise_spark import table as T

    agg = (
        df.select(
            F.md5(normalized_text(F.col(text_col))).alias("fingerprint"),
            F.col(id_col).alias("keeper_id"),
        )
        .groupBy("fingerprint")
        .agg(F.min("keeper_id").alias("keeper_id"))
        .withColumn("fp_bucket", fingerprint_bucket(F.col("fingerprint"), buckets))
    )
    T.write_snapshot(agg, index_path, snapshot_id, partition_by=("fp_bucket",))


def dedup_against_index(
    spark,
    df_new: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = FP_BUCKETS,
    prune: bool = True,
) -> DataFrame:
    """Flag rows of a NEW batch that already exist in the persisted
    historical index — the incremental-ingestion dedup shape: at
    100 TB the history is orders of magnitude larger than any batch,
    so it must never be re-fingerprinted; the batch fingerprints
    equi-join the (1 row per fingerprint) index, and when the batch
    covers few buckets the index scan is partition-PRUNED to them.

    Adds ``fingerprint``, ``is_known_dup`` (int), ``dup_of`` (the
    historical keeper id, null for novel rows). Batch-internal
    duplicates are left to ``exact_dedup`` — the two compose."""
    from hnormalise_spark import table as T

    new = df_new.withColumn(
        "fingerprint", F.md5(normalized_text(F.col(text_col)))
    ).withColumn("fp_bucket", fingerprint_bucket(F.col("fingerprint"), buckets))
    hist = T.read_committed(spark, index_path)
    if prune:
        # tiny driver-side collect (≤ buckets values) that turns into a
        # partition filter on the index scan
        bks = [r[0] for r in new.select("fp_bucket").distinct().collect()]
        hist = hist.filter(F.col("fp_bucket").isin(bks))
    joined = new.drop("fp_bucket").join(
        hist.select("fingerprint", F.col("keeper_id").alias("dup_of")),
        "fingerprint",
        "left",
    )
    return joined.withColumn(
        "is_known_dup", F.col("dup_of").isNotNull().cast("int")
    )


# ---------------------------------------------------------------------------
# shingles + MinHash


def char_shingles(text: Column, n: int = 5) -> Column:
    """Distinct character n-grams of the normalised text (empty-safe)."""
    t = normalized_text(text)
    ln = F.length(t)
    return F.when(ln < n, F.array(t)).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), ln - n + 1), lambda i: F.substring(t, i, F.lit(n))
            )
        )
    )


# Linear-combination MinHash (Carter-Wegman style): ONE base hash per
# shingle, then h_i(x) = (a_i*h(x) + b_i) mod p per permutation. p and
# the 28-bit base hash keep every product under 2^59 — identical int64
# arithmetic in Spark and DuckDB (whose BIGINT overflow would error,
# not wrap). The a_i/b_i constants are md5-derived so both engines
# embed the same literals.
MINHASH_P = (1 << 31) - 1


def minhash_params(k: int = 16) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for i in range(k):
        a = int(hashlib.md5(f"mh-a{i}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"mh-b{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
        out.append((a, b))
    return out


def _base_hash(s: Column) -> Column:
    """28-bit shingle hash: first 7 hex chars of md5 (engine-portable)."""
    return F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long")


def minhash_signature(shingles: Column, k: int = 16) -> Column:
    """k-permutation MinHash over the let-bound base-hash array: one
    md5 pass per shingle + k multiply-mod passes (the previous
    md5-per-permutation form cost k md5 passes — 16x the hashing)."""
    params = minhash_params(k)

    def perm(hv: Column, a: int, b: int) -> Column:
        return F.array_min(
            F.transform(hv, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P))
        )

    def build(hv: Column) -> Column:
        return F.array(*[perm(hv, a, b) for a, b in params])

    from hnormalise_spark.parsing.common import let

    return let(F.transform(shingles, _base_hash), build)


def band_keys(signature: Column, bands: int, rows: int) -> Column:
    """LSH banding: hash each band of `rows` signature entries to one
    bucket key; docs sharing ANY band key are candidates."""
    return F.array(
        *[
            F.md5(
                F.concat(
                    F.lit(f"b{b}:"),
                    F.concat_ws(
                        "|",
                        *[
                            F.element_at(signature, b * rows + r + 1).cast("string")
                            for r in range(rows)
                        ],
                    ),
                )
            )
            for b in range(bands)
        ]
    )


def jaccard(a: Column, b: Column) -> Column:
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def _minhash_prep_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    k: int,
    bands: int,
    shingler=None,
) -> DataFrame:
    """(id, text) → (_id, _sh, _bands) in ONE Arrow-batched pass.

    The expression form (char_shingles → minhash_signature → band_keys)
    is kept below for SQL-expressible contexts, but every one of those
    steps is a higher-order function, and HOFs evaluate interpreted:
    measured 6.6 ms/doc for ~microseconds of actual hashing (and the
    LSH self-join recomputes the whole chain for BOTH sides).

    Bit-equivalence with the expression path is a contract (the DuckDB
    oracle replays that path), so:
    * null texts are DROPPED — the SQL path's null band array drops
      them at the LSH explode (hashing them as '' would pair every
      null doc with every other at jaccard 1.0: a quadratic blowup);
    * whitespace handling is Java-\\s exact ([ \\t\\n\\x0b\\f\\r] + strip
      of the space char) — Python's \\s/strip() are Unicode-aware and
      would shingle NBSP-bearing texts differently from the JVM;
    * the ``_id`` output type is derived from the input schema (string
      doc ids survive, not just longs).

    Hashing is batch-vectorized: each md5 is computed ONCE per UNIQUE
    shingle in the Arrow batch (boilerplate corpora repeat shingles
    heavily across docs), and the k=16 linear-permutation minima run as
    numpy ``minimum.reduceat`` passes over the flat hash array instead
    of a per-row Python loop (round-2 form: one hashlib call per
    shingle *occurrence* — measured 2x slower end-to-end)."""
    import hashlib
    import re as _re

    params = minhash_params(k)
    a_arr = np.array([a for a, _ in params], dtype=np.int64)
    b_arr = np.array([b for _, b in params], dtype=np.int64)
    rows = k // bands
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"_id {id_type}, _sh array<string>, _bands array<string>"
    ws = _re.compile("[ \t\n\x0b\f\r]+")

    if shingler is None:
        # default: the char-n-gram text shingler (bit-equal to
        # char_shingles); callers with other value shapes (token
        # arrays) pass their own — it must return the shingle list or
        # None to drop the row, matching its SQL twin exactly.
        def shingler(text):
            if not isinstance(text, str):
                return None  # null doc: SQL path drops it at explode
            t = ws.sub(" ", text).strip(" ").lower()
            if len(t) < n:
                return [t]
            return list(dict.fromkeys(t[i : i + n] for i in range(len(t) - n + 1)))

    def prep(it):
        for pdf in it:
            ids, shs = [], []
            for did, val in zip(pdf[id_col], pdf[text_col]):
                sh = shingler(val)
                if sh is None:
                    continue
                ids.append(did)
                shs.append(sh)
            if not ids:
                continue
            counts = np.fromiter((len(s) for s in shs), dtype=np.int64, count=len(shs))
            flat = np.asarray([s for sh in shs for s in sh], dtype=object)
            uniq, inv = np.unique(flat, return_inverse=True)
            uh = np.fromiter(
                (int(hashlib.md5(u.encode()).hexdigest()[:7], 16) for u in uniq),
                dtype=np.int64,
                count=len(uniq),
            )
            hv = uh[inv]
            offsets = np.zeros(len(shs), dtype=np.int64)
            np.cumsum(counts[:-1], out=offsets[1:])
            # sigs[j, d] = min over doc d's shingles of (a_j*h + b_j) % P
            # (a < 2^31, h < 2^28 → products < 2^59: no int64 overflow,
            # same bound the DuckDB BIGINT oracle relies on)
            sigs = np.empty((k, len(shs)), dtype=np.int64)
            for j in range(k):
                sigs[j] = np.minimum.reduceat((a_arr[j] * hv + b_arr[j]) % MINHASH_P, offsets)
            bks = [
                [
                    hashlib.md5(
                        (
                            "b%d:" % bb
                            + "|".join(str(int(sigs[bb * rows + r, d])) for r in range(rows))
                        ).encode()
                    ).hexdigest()
                    for bb in range(bands)
                ]
                for d in range(len(shs))
            ]
            yield pd.DataFrame({"_id": ids, "_sh": shs, "_bands": bks})

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(prep, schema)


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.6,
    use_arrow: bool = True,
) -> DataFrame:
    """Near-duplicate detection: shingle → MinHash → band buckets →
    candidate pairs inside buckets → Jaccard verify ≥ threshold.

    Shuffles: explode on band keys (k/rows small keys per row) + one
    self-join per bucket. Buckets are tiny under any real distribution;
    a pathological hot bucket is capped by AQE skew-join splitting.
    Returns (id_a, id_b, jaccard) pairs with id_a < id_b.
    """
    rows = k // bands
    if use_arrow:
        base = _minhash_prep_arrow(df, id_col, text_col, n, k, bands)
    else:
        base = (
            df.select(
                F.col(id_col).alias("_id"),
                char_shingles(F.col(text_col), n).alias("_sh"),
            )
            # _sig MUST be its own materialized column: band_keys
            # references the signature 16x (4 bands x 4 rows), and an
            # inline signature expression would be duplicated — and
            # recomputed — per reference (measured 10x on this stage).
            .withColumn("_sig", minhash_signature(F.col("_sh"), k))
            .withColumn("_bands", band_keys(F.col("_sig"), bands, rows))
            .drop("_sig")
        )
    return _band_carry_verify(base, threshold)


def _band_carry_verify(base: DataFrame, threshold: float) -> DataFrame:
    """LSH candidate verify over a prepared (_id, _sh, _bands) frame.

    In-bucket verify: the shingle sets ride the band shuffle (each
    doc copied `bands` times) and Jaccard evaluates WHERE the join
    lands them — pairs never shuffle their arrays again. The
    alternative (band-join ids only, then re-attach shingles to the
    candidate pairs with two equi-joins) shuffles one array copy per
    PAIR; with big LSH buckets (boilerplate-heavy corpora — exactly
    where dedup matters) pair count >> doc count and that variant
    measured 6.7x slower at sf0.1 (417 s vs 62 s). Band-carry bounds
    array shuffle volume at `bands`x the corpus regardless of pair
    count.
    """
    banded = base.select("_id", "_sh", "_bands", F.explode("_bands").alias("_band"))
    a = banded.select(
        F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"),
        F.col("_bands").alias("bands_a"), "_band",
    )
    b = banded.select(
        F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"),
        F.col("_bands").alias("bands_b"), "_band",
    )
    return (
        a.join(b, "_band")
        .filter(F.col("id_a") < F.col("id_b"))
        # verify each pair exactly ONCE: only at its minimal shared
        # band (a 4-element array intersect — far cheaper than the
        # duplicate Jaccard evaluations and the result-distinct()
        # shuffle it replaces)
        .filter(
            F.col("_band")
            == F.array_min(F.array_intersect(F.col("bands_a"), F.col("bands_b")))
        )
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash

SIMHASH_BITS = 60  # 15 hex chars via conv() — 16 could overflow the sign bit


def shingle_hashes(text: Column, n: int = 4) -> Column:
    """Per-shingle 60-bit hash array (conv of the first 15 md5 hex
    chars). Materialize this as a column first so the 60 per-bit votes
    below read the array instead of re-hashing 60×."""
    return F.transform(
        char_shingles(text, n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )


def _simhash_pandas_udf():
    """Arrow-batched 60-bit SimHash fold: bit j of the sketch is the
    majority vote of bit j across the shingle hashes, weighted ±1,
    computed as a numpy bit-matrix per document.

    HOF expressions evaluate interpreted, so an expression fold pays
    ~120 interpreted lambda evaluations per shingle; the numpy inner
    loop is two vectorized ops per document. The DuckDB oracle
    re-derives the same bits."""
    import numpy as np
    import pandas as pd

    @F.pandas_udf("long")
    def _simhash(hashes: pd.Series) -> pd.Series:
        js = np.arange(SIMHASH_BITS, dtype=np.int64)
        # nullable Int64: a null text yields a null hash array, which
        # must propagate to a null sketch (np.asarray(None) would throw
        # and kill the task — the whole job — on one bad row)
        out = pd.array([None] * len(hashes), dtype="Int64")
        for i, h in enumerate(hashes):
            if h is None:
                continue
            v = np.asarray(h, dtype=np.int64)
            bits = (v[:, None] >> js) & 1            # |shingles| x 60
            votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(v)
            out[i] = int(((votes > 0).astype(np.int64) << js).sum())
        return pd.Series(out)

    return _simhash


def simhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 4) -> DataFrame:
    """Bucket by exact SimHash value (cheap near-dup pass for
    boilerplate-heavy corpora); returns per-row sketch + bucket stats.

    Shingle hashing stays JVM-side (one md5+conv per shingle); the
    60-bit majority fold runs as a vectorized Arrow batch (see
    _simhash_pandas_udf)."""
    w = Window.partitionBy("simhash")
    return (
        df.withColumn("_sh_hashes", shingle_hashes(F.col(text_col), n))
        .withColumn("simhash", _simhash_pandas_udf()(F.col("_sh_hashes")))
        .drop("_sh_hashes")
        # null-text rows have no sketch: they are not members of any
        # bucket (grouping them into one "null bucket" would mark all
        # null docs mutual near-dups)
        .withColumn(
            "bucket_size",
            F.when(F.col("simhash").isNotNull(), F.count("simhash").over(w)),
        )
        .withColumn("is_near_dup", F.col("bucket_size") > 1)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (direct pairwise verify)


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams of the normalised text; texts shorter than
    n words collapse to one gram (the whole text). The word array is
    let-bound: every per-gram element_at would otherwise re-evaluate
    the split (interpreted eval shares nothing) — 3x(words-n) splits
    per row."""
    from hnormalise_spark.parsing.common import let

    def build(words: Column) -> Column:
        cnt = F.size(words)
        return F.when(cnt < n, F.array(F.concat_ws(" ", words))).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), cnt - n),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(words, i + j + 1) for j in range(n)]
                    ),
                )
            )
        )

    return let(F.split(F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))), " "), build)


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicate pairs


def embedding_neardup_pairs(
    df: "DataFrame",
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 4096,
) -> "DataFrame":
    """Near-duplicate detection in EMBEDDING space: candidate pairs are
    generated by an LSH sign-sketch bucket equi-join (two vectors are
    candidates only when all n_planes sign bits agree — collision
    probability (1 - theta/pi)^n_planes for angle theta), then verified
    with the exact cosine. The join is a hash equi-join on the bucket
    key, never all-pairs: shuffle and compare cost are bounded by the
    in-bucket pair count, the same bound as ``minhash_lsh_dedup``'s
    band join. Recall tightens/loosens via n_planes.

    Hot-bucket guard (the ``winnow_dup_pairs`` pattern, ported per the
    round-4 review): a degenerate corpus — one dense semantic cluster,
    boilerplate embeddings — lands m docs in ONE bucket, and the
    self-join there is m(m-1)/2 pairs; at m=10^6 that is 5·10^11
    compares under a single join key, beyond what AQE skew-splitting
    can absorb. So bucket sizes are counted FIRST (map-side-combined
    groupBy: even a 10^6-row bucket reduces to one row per map task —
    deliberately NOT a window over partitionBy(_b), which would buffer
    the whole hot bucket in one WindowExec group), the few buckets
    over ``max_bucket`` broadcast as a tiny hot set, and those buckets
    switch from all-pairs to STAR pairing: every member is compared to
    the bucket's min-id hub only (m-1 pairs, linear in m). For the
    downstream use — edges into ``connected_components`` — the star
    keeps a genuinely-duplicate cluster connected whenever the hub
    clears the threshold; the trade is that spoke-spoke pairs whose
    hub fails the threshold are missed, which for a bucket that hot
    (ALL n_planes sign bits equal across > max_bucket docs) is the
    boilerplate case winnowing drops outright. Buckets at or under
    ``max_bucket`` are exact and unchanged; the default sits far above
    any healthy bucket so the guard only fires on pathological skew.
    """
    from hnormalise_spark.ops.similarity import cosine, lsh_sketch

    sk = df.select(
        F.col(id_col), F.col(vec_col), lsh_sketch(F.col(vec_col), dim, n_planes).alias("_b")
    )
    hot = (
        sk.groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") > max_bucket)
        .select("_b")
        .withColumn("_hot", F.lit(True))
    )
    sk = sk.join(F.broadcast(hot), "_b", "left").withColumn(
        "_hot", F.coalesce(F.col("_hot"), F.lit(False))
    )

    cold = sk.filter(~F.col("_hot"))
    a = cold.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), F.col("_b")
    )
    b = cold.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), F.col("_b")
    )
    pairs = a.join(b, "_b").filter(F.col("id_a") < F.col("id_b"))

    # hub per hot bucket = min id; one row per hot bucket, broadcast
    hot_rows = sk.filter(F.col("_hot"))
    hubs = hot_rows.groupBy("_b").agg(F.min(F.col(id_col)).alias("id_a"))
    hub_vecs = hubs.join(
        hot_rows.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), "_b"
        ),
        ["_b", "id_a"],
    )
    star = (
        hot_rows.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), "_b"
        )
        .join(F.broadcast(hub_vecs), "_b")
        .filter(F.col("id_a") < F.col("id_b"))
    )

    return (
        pairs.unionByName(star.select("id_a", "_va", "_b", "id_b", "_vb"))
        .withColumn("cosine", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "_b", "cosine")
        .withColumnRenamed("_b", "bucket")
    )


# ---------------------------------------------------------------------------
# connected components over near-dup pairs -> cluster assignment
#
# The step after candidate generation in every production dedup
# pipeline: near-dup PAIRS (from minhash_lsh_dedup / ngram_jaccard /
# embedding_neardup_pairs) are edges of an undirected graph; a dedup
# decision needs the CONNECTED COMPONENT (a~b, b~c => keep one of
# {a,b,c}), not the pairs. Label = min node id reachable, so the
# canonical (kept) doc per cluster is simply the one whose id equals
# its cluster id.


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Min-label propagation (hash-to-min) over the undirected edge
    set: every node repeatedly adopts the smallest label among itself
    and its neighbours until a fixpoint. Returns (node, cluster_id).

    Scale shape: each round is one shuffle-join of the (node, label)
    frame against the edge list plus a min-aggregate — both keyed on
    node ids, both AQE-planned; no all-pairs, no driver-side graph.
    The edge frame is persisted once and reused every round.
    Convergence is O(graph diameter) rounds; near-dup graphs are
    dense clumps with tiny diameters (2-4 in practice), so the round
    count stays small even at 10^12 edges. An eager ``localCheckpoint``
    every round truncates the lineage so the plan does not grow
    superlinearly (the classic iterative-algorithm failure mode on
    Spark). For adversarially long chains switch to the large-star/
    small-star alternation (Kiveris et al., "Connected Components in
    MapReduce and Beyond"), which converges in O(log n) rounds using
    the same join/aggregate primitives.

    The per-round convergence check is a single scalar aggregate
    (the exact sum of labels, which is strictly decreasing until the
    fixpoint) — a driver round-trip of one row, not a collect of data.
    """
    spark = edges.sparkSession
    und = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .union(edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d")))
        .distinct()
        .persist()
    )
    n_edges = und.count()

    # Size the per-round shuffles to the EDGE count, not the session
    # default: every round is several stages over frames no bigger
    # than the edge list, and scheduling default-parallelism tasks of
    # a few rows each makes fixed task overhead the whole wall time
    # (measured 8.3 s -> ~2 s at 622 edges). ~500k edge-endpoints per
    # partition keeps partitions comfortably in-memory at any scale;
    # large graphs get at least the session default back.
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = max(1, min(session_parts, n_edges // 500_000 + 1))
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        if und.rdd.getNumPartitions() > parts:
            re_und = und.repartition(parts, "s").persist()
            re_und.count()
            und.unpersist()
            und = re_und
        labels = (
            und.groupBy(F.col("s").alias("node"))
            .agg(F.min("d").alias("nbr_min"))
            .select("node", F.least("node", "nbr_min").alias("label"))
            .localCheckpoint()
        )
        # labels only ever DECREASE under min-propagation, so sum(label)
        # is a monotone potential: unchanged sum <=> no label changed.
        # That makes convergence one scalar aggregate per round instead of
        # a join against the previous round. decimal(38,0) so the sum is
        # exact at any node count / id magnitude.
        numeric_ids = labels.schema["label"].dataType.typeName() in {
            "long", "integer", "short", "byte", "decimal",
        }

        def _potential(lbl: DataFrame) -> int:
            row = lbl.agg(
                F.sum(F.col("label").cast("decimal(38,0)")).alias("p")
            ).collect()[0]
            return int(row["p"] or 0)

        def _changed(new: DataFrame, old: DataFrame) -> int:
            # string-id fallback: both frames are materialized local
            # checkpoints, so this join touches label-sized data only
            return (
                new.alias("n")
                .join(old.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )

        prev_potential = _potential(labels) if numeric_ids else None
        for _ in range(max_iterations):
            # each node offers its label to every neighbour; adopt the min
            msgs = und.join(labels, und["s"] == labels["node"]).select(
                F.col("d").alias("node"), F.col("label")
            )
            # eager localCheckpoint every round: the frame is materialized
            # ONCE and both the potential aggregate and the next round's
            # join read the materialized blocks — without it each round
            # re-executes the whole prior lineage (the classic iterative-
            # plan blowup), which profiling showed dominated wall time.
            new_labels = (
                labels.select("node", "label")
                .union(msgs)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
                .localCheckpoint()
            )
            if numeric_ids:
                potential = _potential(new_labels)
                labels = new_labels
                if potential == prev_potential:
                    break
                prev_potential = potential
            else:
                done = _changed(new_labels, labels) == 0
                labels = new_labels
                if done:
                    break
        und.unpersist()
        return labels.select("node", F.col("label").alias("cluster_id"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
def assign_clusters(
    df: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Full-corpus cluster assignment: every row gets a cluster_id
    (its component's min id; singletons cluster to themselves) and an
    ``is_canonical`` flag — ``filter(is_canonical)`` IS the deduped
    corpus. The label frame is far smaller than the corpus (only
    nodes that appear in a pair), so the join broadcasts when small
    and hash-joins on the id key otherwise."""
    labels = connected_components(edges, src_col, dst_col)
    out = df.join(labels, df[id_col] == labels["node"], "left")
    cluster = F.coalesce(labels["cluster_id"], df[id_col])
    return out.select(
        df["*"],
        cluster.alias("cluster_id"),
        (cluster == df[id_col]).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup inside embedding clusters


def semdedup_keep(
    df: "DataFrame",
    centroids: list,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 4096,
) -> "DataFrame":
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then drop every document whose cosine to a
    LOWER-id member of the SAME cluster reaches ``threshold`` — the
    keep-set is the semantic dedup of the corpus. Where
    ``embedding_neardup_pairs`` emits near-dup EDGES from LSH sign
    buckets (recall knob = n_planes), this is the cluster-scoped
    DECISION form of the paper: candidate pairs exist only inside a
    cluster, and the keep rule is local to it, so no connected-
    components pass is needed afterwards.

    Clustering reuses the IVF machinery (``similarity.ivf_centroids``
    + ``ivf_assign``): deterministic centroids, map-side argmax-cosine
    assignment — one Arrow-batched matmul per batch, NO shuffle. The
    only shuffle is the in-cluster self-equi-join on ``list_id``; with
    nlist sized ~sqrt(N) (the standard IVF rule) a cluster holds
    ~sqrt(N) rows and the pair count per join key stays ~N — linear in
    the corpus, never all-pairs.

    Hot-cluster guard (the ``embedding_neardup_pairs`` /
    ``winnow_dup_pairs`` pattern): cluster sizes are counted first via
    a map-side-combined aggregate; clusters over ``max_cluster``
    switch from all-pairs to STAR comparison against the cluster's
    min-id hub — every spoke similar to the hub drops (m-1 compares
    instead of m(m-1)/2). For a cluster that hot the hub IS the
    boilerplate centroid-dweller, so the star keeps exactly one copy
    of the degenerate mass; spoke-spoke near-dups whose hub misses the
    threshold are the accepted recall trade, identical to the neardup
    guard.

    Returns every input row with (``list_id``, ``keep``) — keep=False
    rows are the semantic duplicates to discard.
    """
    from hnormalise_spark.ops.similarity import cosine, ivf_assign

    asg = ivf_assign(df.select(id_col, vec_col), centroids, vec_col=vec_col)
    hot = (
        asg.groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") > max_cluster)
        .select("list_id")
        .withColumn("_hot", F.lit(True))
    )
    asg = asg.join(F.broadcast(hot), "list_id", "left").withColumn(
        "_hot", F.coalesce(F.col("_hot"), F.lit(False))
    )

    cold = asg.filter(~F.col("_hot"))
    a = cold.select(
        F.col("list_id"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")
    )
    b = cold.select(
        F.col("list_id"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")
    )
    cold_pairs = a.join(b, "list_id").filter(F.col("id_a") < F.col("id_b"))

    hot_rows = asg.filter(F.col("_hot"))
    hubs = hot_rows.groupBy("list_id").agg(F.min(id_col).alias("id_a"))
    hub_vecs = hubs.join(
        hot_rows.select(
            "list_id", F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")
        ),
        ["list_id", "id_a"],
    )
    star_pairs = (
        hot_rows.select(
            "list_id", F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")
        )
        .join(F.broadcast(hub_vecs), "list_id")
        .filter(F.col("id_a") < F.col("id_b"))
    )

    dropped = (
        cold_pairs.unionByName(star_pairs.select("list_id", "id_a", "_va", "id_b", "_vb"))
        .withColumn("_cos", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("_cos") >= F.lit(float(threshold)))
        .select(F.col("id_b").alias("_dropped"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    out = asg.join(dropped, asg[id_col] == dropped["_dropped"], "left")
    return out.select(
        asg[id_col],
        asg["list_id"],
        F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
    ).select(
        id_col, "list_id", (~F.col("is_dup")).alias("keep")
    )


def canonical_by_quality(
    assigned: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Quality-aware canonical selection: inside every duplicate
    cluster keep the member with the HIGHEST quality score (tie →
    lowest id), not the arbitrary min-id member ``assign_clusters``
    flags. This is the decision rule real curation pipelines use —
    when a boilerplate page and its well-formatted original collide,
    keep the better copy.

    Scale shape: the argmax is an AGGREGATE (max over a
    (quality, -id) struct — map-side partial combine), never a
    whole-cluster window, so the only full shuffle is the
    groupBy(cluster_id); the winners frame is cluster-count-sized and
    joins back broadcast-or-hash on the cluster key (AQE picks).

    ``assigned`` carries (id, cluster_id) — e.g. ``assign_clusters``
    output; ``quality`` carries (id, quality). Returns every member
    with (id, cluster_id, quality, canonical_id, n_members,
    is_kept).
    """
    j = assigned.select(id_col, cluster_col).join(
        quality.select(id_col, quality_col), id_col
    )
    best = (
        j.groupBy(cluster_col)
        .agg(
            F.max(
                F.struct(
                    F.col(quality_col).alias("q"),
                    (-F.col(id_col)).alias("nid"),
                )
            ).alias("_b"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            cluster_col,
            (-F.col("_b.nid")).alias("canonical_id"),
            "n_members",
        )
    )
    return j.join(best, cluster_col).select(
        F.col(id_col),
        F.col(cluster_col),
        F.col(quality_col),
        F.col("canonical_id"),
        F.col("n_members"),
        (F.col(id_col) == F.col("canonical_id")).alias("is_kept"),
    )


def levenshtein_neardup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 5,
    prefix_len: int = 24,
    max_bucket: int = 64,
) -> DataFrame:
    """Blocked edit-distance near-dup — the record-linkage pattern
    (dedupe/Splink-style BLOCKING + verify) beside the set-based
    near-dup family: candidate pairs come from a cheap deterministic
    blocking key (md5 of the first ``prefix_len`` chars of the
    normalized text), then exact ``levenshtein ≤ max_dist``
    verification inside each block. Catches the small-edit near-dups
    shingle/Jaccard methods blur over (appended suffixes, single-word
    edits) with an EXACT distance, at the price of only finding pairs
    that agree on the prefix block — the standard recall/cost trade
    of blocking, stated rather than hidden.

    Returns (id_a, id_b, dist) with ``id_a < id_b``.

    Scale shape: one (block-key) shuffle; the hot-block guard is a
    COUNT WINDOW on that same partitioning (no extra join, no
    block-table broadcast), and the self-join runs INSIDE blocks
    only. Two guards bound the quadratic: blocks over ``max_bucket``
    members are DROPPED ENTIRELY (the winnowing-style hot-bucket
    guard — a hot prefix is boilerplate, not a dup candidate set),
    and a ``|len_a − len_b| ≤ max_dist`` band prunes pairs before the
    O(len²) distance kernel (edit distance is length-difference-
    bounded below, so the band loses nothing).
    """
    norm = normalized_text(F.col(text_col))
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            norm.alias("_t"),
            F.md5(F.substring(norm, 1, int(prefix_len))).alias("_bk"),
        )
        .withColumn("_len", F.length("_t"))
    )
    kept = base.withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy("_bk"))
    ).filter(F.col("_bn") <= int(max_bucket))
    a = kept.select(
        "_bk",
        F.col("_id").alias("id_a"),
        F.col("_t").alias("_ta"),
        F.col("_len").alias("_la"),
    )
    b = kept.select(
        "_bk",
        F.col("_id").alias("id_b"),
        F.col("_t").alias("_tb"),
        F.col("_len").alias("_lb"),
    )
    return (
        a.join(b, "_bk")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= int(max_dist))
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_ta", "_tb").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= int(max_dist))
    )


def prefix_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_chars: int = 32,
    max_block: int = 64,
) -> DataFrame:
    """Prefix-containment dedup: pairs where one document is an EXACT
    prefix of a longer one (after whitespace/case normalisation) — the
    crawl-truncation artifact class (re-fetches cut by timeouts or
    length caps) that Jaccard methods score as merely "similar" and
    exact dedup misses entirely.

    Blocking: the prefix relation is not an equi-join, but any prefix
    pair of length ≥ ``key_chars`` AGREES on its first ``key_chars``
    normalized chars, so blocking on that substring makes it one.
    Documents shorter than ``key_chars`` are out of scope (stated
    recall bound: sub-32-char fragments are exact-dedup territory,
    not truncation artifacts).

    Returns (id_a, id_b, len_a, len_b): id_a = the truncated prefix
    doc, id_b = the longer doc, lengths of the normalized texts
    (strictly len_a < len_b — equal texts belong to ``exact_dedup``).

    Scale shape: one block-key shuffle + in-block join, with the same
    two quadratic guards as :func:`levenshtein_neardup`: a COUNT
    WINDOW on the block partitioning drops blocks over ``max_block``
    members (a hot 32-char prefix is boilerplate), and the verify is
    a per-pair substring compare bounded by len_a. Nothing collects;
    nothing is all-pairs.
    """
    norm = normalized_text(F.col(text_col))
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"), norm.alias("_t"))
        .filter(F.length("_t") >= int(key_chars))
        .withColumn("_bk", F.substring("_t", 1, int(key_chars)))
        .withColumn("_len", F.length("_t"))
    )
    kept = base.withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy("_bk"))
    ).filter(F.col("_bn") <= int(max_block))
    a = kept.select(
        "_bk",
        F.col("_id").alias("id_a"),
        F.col("_t").alias("_ta"),
        F.col("_len").alias("len_a"),
    )
    b = kept.select(
        "_bk",
        F.col("_id").alias("id_b"),
        F.col("_t").alias("_tb"),
        F.col("_len").alias("len_b"),
    )
    return (
        a.join(b, "_bk")
        .filter(F.col("len_a") < F.col("len_b"))
        .filter(
            F.col("_tb").substr(F.lit(1), F.length("_ta")) == F.col("_ta")
        )
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.col("len_a").cast("long").alias("len_a"),
            F.col("len_b").cast("long").alias("len_b"),
        )
    )


def minhash_recall_eval(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    sample: int = 60,
    mutate_every: int = 3,
    mutate_suffix: str = " qq ww ee rr tt",
) -> DataFrame:
    """LSH quality eval: does the banded MinHash candidate stage
    actually SEE the near-dup pairs exact Jaccard would report? The
    production dedup never computes ground truth (that is the point
    of LSH), so this harness measures it on a bounded known-answer
    bed: a fixed-size deterministic sample (top-``sample`` docs by
    md5(id) — reproducible on any engine/partitioning) plus an
    injected near-dup for every ``mutate_every``-th sampled doc
    (suffix append ⇒ known high-Jaccard pair), evaluated against
    EXACT all-pairs shingle Jaccard within the bed.

    One row: ``n_truth`` (exact pairs ≥ threshold), ``n_cand`` (band
    -collision candidate pairs, pre-verify), ``n_verified``
    (candidates passing exact-Jaccard verify — by construction the
    truth ∩ candidate set), ``recall_ppm`` = verified/truth,
    ``precision_ppm`` = verified/candidates (both 10^6 when the
    denominator is 0). Recall < 10^6 means the band/row split is too
    strict for the threshold; low precision means it wastes verify
    work — the two dials of ``minhash_lsh_dedup``.

    Scale shape: the bed is FIXED SIZE regardless of corpus (the
    sample is a TakeOrdered top-S, the all-pairs truth join is
    S'×S'/2 ≤ ~3k pairs on a broadcast side), so the harness costs
    the same at 10^12 docs as at 10^3 — the exact-truth quadratic is
    bounded by construction, never by luck.
    """
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("_id"), F.col(text_col).alias("_t")
    )
    # persist: bed0 feeds the plants, the LSH candidate branch, and
    # the exact-truth branch — without it each subtree re-runs the
    # corpus-wide TakeOrdered, turning the "one scan" harness into ~4
    bed0 = (
        base.orderBy(F.md5(F.col("_id").cast("string")), "_id")
        .limit(int(sample))
        .persist()
    )
    # plant ids are the NEGATED space (-id-1): collision-proof against
    # any non-negative corpus id, unlike a fixed offset (a corpus whose
    # ids span the offset would conflate a plant with a real doc)
    plants = bed0.filter(F.col("_id") % int(mutate_every) == 0).select(
        (-F.col("_id") - 1).alias("_id"),
        F.concat(F.col("_t"), F.lit(mutate_suffix)).alias("_t"),
    )
    bed = bed0.unionByName(plants)

    cand = minhash_lsh_dedup(
        bed, text_col="_t", id_col="_id", n=n, k=k, bands=bands, threshold=0.0
    )
    cand_m = cand.agg(
        F.count(F.lit(1)).cast("long").alias("n_cand"),
        # coalesce: sum over an EMPTY candidate set is NULL, not 0
        F.coalesce(
            F.sum(
                F.when(F.col("jaccard") >= float(threshold), 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_verified"),
    )

    sh = bed.select(
        F.col("_id"), char_shingles(F.col("_t"), n).alias("_sh")
    )
    a = sh.select(F.col("_id").alias("ia"), F.col("_sh").alias("sa"))
    b = sh.select(F.col("_id").alias("ib"), F.col("_sh").alias("sb"))
    truth_m = (
        a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .filter(jaccard(F.col("sa"), F.col("sb")) >= float(threshold))
        .agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    )

    ppm = lambda num, den: F.when(  # noqa: E731
        den > 0, F.floor(num / den * F.lit(1e6) + F.lit(0.5))
    ).otherwise(F.lit(1_000_000)).cast("long")
    result = truth_m.crossJoin(cand_m).select(
        "n_truth",
        "n_cand",
        "n_verified",
        ppm(F.col("n_verified"), F.col("n_truth")).alias("recall_ppm"),
        ppm(F.col("n_verified"), F.col("n_cand")).alias("precision_ppm"),
    )
    # one row: materialize it so bed0's cache is released before return
    rows = result.collect()
    bed0.unpersist()
    return df.sparkSession.createDataFrame(rows, result.schema)
