"""Operators over the canonical pre-tokenized table
``(doc_id, tokens: array<int>, n_tok, source)`` — the shape the
pipeline ingests at 10^12-sequence scale (schemas.py). Everything
here runs directly on the token arrays: no detokenisation, no string
materialisation of the sequence, so the 100-TB corpus is never
rewritten as text just to be deduplicated or scored.

Scale shapes:
* token_exact_dedup   — one shuffle on a 16-byte md5 fingerprint of
                        the sequence (never the array itself).
* token_minhash_dedup — per-row signature over token n-grams, then
                        the shared band-carry LSH verify
                        (dedup._band_carry_verify): no all-pairs.
* dsir_score          — hashed-feature importance weights (Xie et
                        al. 2023, "Data Selection for Language Models
                        via Importance Resampling"): two bounded
                        bucket-count shuffles (≤ n_buckets rows out),
                        a tiny weight join, and one per-doc aggregate
                        on a pre-explode doc partitioning.

Hashing discipline: md5-derived like the rest of the repo, so DuckDB
oracles replay bit-identical results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hnormalise_spark.ops.decontam import decontaminate_on
from hnormalise_spark.ops.dedup import (
    _band_carry_verify,
    band_keys,
    exact_dedup_on,
    minhash_signature,
)


def _tok_str(tokens: Column) -> Column:
    """Canonical string form of a token array: comma-joined decimal
    codes. Fixed-width-ish, unambiguous (no token renders a comma).
    Null elements are dropped first (the canonical schema forbids
    them — schemas.py declares array<int> containsNull=false — but a
    caller-supplied frame must not crash the Arrow twin or silently
    shift n-gram windows)."""
    return F.array_join(
        F.transform(
            F.filter(tokens, lambda t: t.isNotNull()),
            lambda t: t.cast("string"),
        ),
        ",",
    )


def token_fingerprint(tokens: Column) -> Column:
    """16-byte md5 fingerprint of the canonical sequence string —
    the dedup/shuffle key (the array itself never shuffles)."""
    return F.md5(_tok_str(tokens))


def token_exact_dedup(
    df: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id"
) -> DataFrame:
    """Exact sequence dedup: keeper = min id per fingerprint group.
    Adds ``fingerprint``, ``group_size``, ``is_dup`` — the token-table
    twin of dedup.exact_dedup (same contract, same single-shuffle
    plan keyed by the fixed-width fingerprint)."""
    return exact_dedup_on(df, token_fingerprint(F.col(tokens_col)), id_col)


def token_ngram_shingles(tokens: Column, n: int = 8) -> Column:
    """Distinct token n-grams as comma-joined strings; sequences
    shorter than n contribute their whole sequence as the single
    shingle (mirrors dedup.char_shingles' short-input rule). Null
    elements are dropped BEFORE windowing so the Arrow twin
    (_token_shingler) sees identical n-gram positions."""
    clean = F.filter(tokens, lambda t: t.isNotNull())
    ln = F.size(clean)
    return F.when(ln < n, F.array(_tok_str(clean))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), ln - n + 1),
                lambda i: _tok_str(F.slice(clean, i, n)),
            )
        )
    )


def _token_shingler(n: int):
    """Arrow-batch twin of token_ngram_shingles: comma-joined token
    n-grams, first-occurrence-distinct, None for null/empty sequences
    (the SQL path's filter). Must stay bit-equal to the expression
    form — the DuckDB oracle replays that."""

    def sh(val):
        if val is None:
            return None
        # null elements arrive as None OR NaN depending on the Arrow
        # batch's null layout; t == t is the NaN test
        strs = [str(int(t)) for t in val if t is not None and t == t]
        if not strs:
            return None
        if len(strs) < n:
            return [",".join(strs)]
        return list(
            dict.fromkeys(
                ",".join(strs[i : i + n]) for i in range(len(strs) - n + 1)
            )
        )

    return sh


def token_minhash_dedup(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 8,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.6,
    use_arrow: bool = True,
) -> DataFrame:
    """Near-duplicate sequences: token n-gram shingles → MinHash →
    LSH bands → in-bucket Jaccard verify ≥ threshold, reusing the
    text path's signature and band-carry verify machinery (including
    its Arrow-batched prep — the expression form's higher-order
    functions evaluate interpreted and measured ~4x slower at sf0.1).
    Returns (id_a, id_b, jaccard) with id_a < id_b.

    Null/empty sequences are dropped (they have no shingles)."""
    if use_arrow:
        from hnormalise_spark.ops.dedup import _minhash_prep_arrow

        base = _minhash_prep_arrow(
            df, id_col, tokens_col, n, k, bands, shingler=_token_shingler(n)
        )
    else:
        rows = k // bands
        base = (
            df.filter(
                F.col(tokens_col).isNotNull()
                & (F.size(F.filter(F.col(tokens_col), lambda t: t.isNotNull())) > 0)
            )
            .select(
                F.col(id_col).alias("_id"),
                token_ngram_shingles(F.col(tokens_col), n).alias("_sh"),
            )
            .withColumn("_sig", minhash_signature(F.col("_sh"), k))
            .withColumn("_bands", band_keys(F.col("_sig"), bands, rows))
            .drop("_sig")
        )
    return _band_carry_verify(base, threshold)


# ---------------------------------------------------------------------------
# Context-window chunking


def token_chunks(
    df: DataFrame,
    window: int = 512,
    stride: int | None = None,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    drop_partial: bool = False,
) -> DataFrame:
    """Split every sequence into fixed context windows of ``window``
    tokens starting every ``stride`` tokens (default ``stride =
    window`` → non-overlapping blocks; ``stride < window`` → the
    HF-tokenizer ``return_overflowing_tokens`` overlap convention).

    Chunk ``i`` covers positions ``i*stride+1 .. i*stride+window``
    (1-based); the last chunk starts at the smallest multiple of
    ``stride`` that still reaches the end of the sequence, so every
    token lands in at least one chunk and only the LAST chunk may be
    shorter than ``window``. ``drop_partial`` keeps full windows only
    (the causal-LM pre-training setting that discards ragged tails).

    Returns one row per chunk: ``(id_col, chunk_idx, chunk_tokens,
    chunk_len)``. Null/empty sequences produce no chunks; null
    elements are dropped first (canonical schema forbids them).

    Scale shape: a pure narrow transform — sequence/slice/posexplode
    inside one projection, NO shuffle, no Python. Output rows ≈
    n_tok/stride per doc; at 10^12 sequences this is the map side of
    whatever consumes the chunks (packing, dedup, scoring), which is
    exactly where it should sit.
    """
    if stride is None:
        stride = window
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    clean = F.filter(F.col(tokens_col), lambda t: t.isNotNull())
    base = df.filter(
        F.col(tokens_col).isNotNull() & (F.size(clean) > 0)
    ).select(F.col(id_col), clean.alias("_t"))
    n = F.size("_t")
    # last chunk index: smallest k with k*stride + window >= n,
    # i.e. ceil((n - window)/stride) — integer form, no floats
    k_max = F.when(n <= window, F.lit(0)).otherwise(
        F.floor((n - F.lit(window) + F.lit(stride) - 1) / F.lit(stride))
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), k_max),
        lambda i: F.slice(F.col("_t"), i * stride + 1, window),
    )
    out = base.select(
        id_col, F.posexplode(chunks).alias("chunk_idx", "chunk_tokens")
    ).withColumn("chunk_len", F.size("chunk_tokens"))
    if drop_partial:
        out = out.filter(F.col("chunk_len") == window)
    return out


# ---------------------------------------------------------------------------
# Token-level decontamination (decontam.py's twin over token ids)


def token_ngram_hashes(tokens: Column, n: int) -> Column:
    """Array of md5 hashes of the distinct token ``n``-grams
    (comma-joined decimal codes — same canonical form as
    token_fingerprint, so oracles replay it). Sequences with fewer
    than ``n`` tokens yield an empty array — mirroring
    decontam.word_ngram_hashes, NOT token_ngram_shingles' short-row
    whole-sequence rule: a too-short sequence cannot contain an eval
    n-gram, so it must produce no gram at all."""
    clean = F.filter(tokens, lambda t: t.isNotNull())
    k = F.size(clean) - F.lit(n - 1)
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.md5(_tok_str(F.slice(clean, i, n))))
    )


def token_eval_grams(
    df_eval: DataFrame, tokens_col: str = "tokens", n: int = 8
) -> DataFrame:
    """Distinct token n-gram hash set of an eval/benchmark corpus —
    one column ``gram``. Small by construction; callers broadcast."""
    return df_eval.select(
        F.explode(token_ngram_hashes(F.col(tokens_col), n)).alias("gram")
    ).distinct()


def token_decontaminate(
    df: DataFrame,
    eval_grams: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Flag training sequences sharing any token ``n``-gram with the
    eval set: adds ``n_eval_hits`` (distinct eval grams contained)
    and ``contaminated`` (1 iff any). The token-table twin of
    decontam.decontaminate with the identical plan shape: corpus
    explode → inner join broadcast(eval_grams) → per-doc hit count →
    hits broadcast-joined back. The corpus is never shuffled."""
    return decontaminate_on(df, eval_grams, token_ngram_hashes(F.col(tokens_col), n), id_col)


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV rate


def vocab_top_tokens(
    df: DataFrame, tokens_col: str = "tokens", top_v: int = 50_000
) -> DataFrame:
    """Top-``top_v`` token ids by corpus frequency, deterministic
    tiebreak (count DESC, token ASC). Two-level aggregate (map-side
    combine into the token-keyed agg) then a single TakeOrdered —
    never a global sort of the corpus. Returns (token, freq)."""
    return (
        df.select(F.explode(F.filter(F.col(tokens_col), lambda t: t.isNotNull())).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(top_v)
    )


def token_oov_stats(
    df: DataFrame,
    vocab: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    token_col: str = "token",
) -> DataFrame:
    """Per-sequence vocabulary coverage against a broadcast ``vocab``
    table: ``n_tok`` (non-null tokens), ``n_oov`` (tokens outside the
    vocab), ``oov_ppm`` (integer parts-per-million, floor(x+0.5) — the
    repo's cross-engine rounding rule). Empty/null sequences are
    excluded (no tokens → no coverage to report).

    Scale shape (lm_unigram_score pattern): the doc partitioning is
    established BEFORE the explode, the vocab join is a broadcast
    (vocab ≤ ~10^6 rows), so the per-doc aggregate re-uses the
    pre-explode partitioning — one corpus shuffle total, none of it
    keyed by the exploded rows."""
    clean = F.filter(F.col(tokens_col), lambda t: t.isNotNull())
    base = (
        df.filter(F.col(tokens_col).isNotNull() & (F.size(clean) > 0))
        .select(F.col(id_col).alias("_doc"), clean.alias("_t"))
        .repartition(F.col("_doc"))
    )
    tok = base.select("_doc", F.explode("_t").alias("_tok"))
    marked = tok.join(
        F.broadcast(
            vocab.select(F.col(token_col).alias("_tok")).distinct()
            .withColumn("_in", F.lit(1))
        ),
        "_tok",
        "left",
    )
    return (
        marked.groupBy("_doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum((F.col("_in").isNull()).cast("long")).alias("n_oov"),
        )
        .withColumn(
            "oov_ppm",
            F.floor(F.col("n_oov") * F.lit(1e6) / F.col("n_tok") + F.lit(0.5))
            .cast("long"),
        )
        .withColumnRenamed("_doc", id_col)
    )


def vocab_remap(
    df: DataFrame,
    vocab: DataFrame,
    unk_id: int = 0,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    token_col: str = "token",
    freq_col: str = "freq",
) -> DataFrame:
    """Vocabulary truncation + id remapping: rewrite every token array
    through a pruned top-V vocabulary — kept tokens get DENSE new ids
    1..V assigned by frequency rank (freq DESC, token ASC — the
    vocab_top_tokens order, so the hottest token becomes id 1),
    everything else collapses to ``unk_id`` (reserved at 0). The step
    between vocabulary selection (vocab_top_tokens / token_oov_stats
    report what a cut costs) and training, which needs the compact id
    space. Returns (id, tokens, n_tok, n_unk) with order preserved.

    Scale shape: rank assignment is a single-partition window over the
    ≤ V vocab rows (bounded, like token_zipf's fit); the corpus side
    establishes doc partitioning BEFORE posexplode, broadcast-hash-
    joins the rank table (O(1) lookup per token — deliberately NOT an
    element_at on a map column, whose ArrayBasedMapData lookup is
    O(V) per token), and reassembles with array_sort over
    (pos, new_id) structs in a doc-keyed aggregate that reuses the
    pre-explode partitioning — ONE corpus shuffle total, the token
    arrays cross the wire exactly once.
    """
    from pyspark.sql import Window

    rank_w = Window.orderBy(F.col(freq_col).desc(), F.col(token_col).asc())
    ranked = vocab.select(
        F.col(token_col).alias("_tok"),
        F.row_number().over(rank_w).cast("int").alias("_nid"),
    )
    clean = F.filter(F.col(tokens_col), lambda t: t.isNotNull())
    base = (
        df.filter(F.col(tokens_col).isNotNull())
        .select(F.col(id_col).alias("_doc"), clean.alias("_t"))
        .repartition(F.col("_doc"))
    )
    tok = base.select("_doc", F.posexplode("_t").alias("_pos", "_tok"))
    mapped = tok.join(F.broadcast(ranked), "_tok", "left").select(
        "_doc",
        F.struct(
            F.col("_pos"),
            F.coalesce(F.col("_nid"), F.lit(int(unk_id)).cast("int")).alias("_nid"),
        ).alias("_e"),
        F.col("_nid").isNull().cast("long").alias("_unk"),
    )
    out = mapped.groupBy("_doc").agg(
        F.transform(
            F.array_sort(F.collect_list("_e")), lambda e: e["_nid"]
        ).alias(tokens_col),
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.sum("_unk").cast("long").alias("n_unk"),
    )
    # empty (but non-null) sequences produce no exploded rows — union
    # them back with an empty remap so the op is total over its input
    empties = (
        df.filter(F.col(tokens_col).isNotNull() & (F.size(clean) == 0))
        .select(
            F.col(id_col).alias("_doc"),
            F.array().cast("array<int>").alias(tokens_col),
            F.lit(0).cast("long").alias("n_tok"),
            F.lit(0).cast("long").alias("n_unk"),
        )
    )
    return out.unionByName(empties).withColumnRenamed("_doc", id_col)


def _ngram_strs(tokens: Column, n: int) -> Column:
    """Comma-joined decimal n-gram strings over a token array —
    unambiguous ("5,67" can never collide with "56,7") and cheap to
    list_distinct on both engines. Empty array for sequences shorter
    than n."""
    return F.when(F.size(tokens) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(tokens) - n),
            lambda i: F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n - 1)),
                    lambda j: F.element_at(tokens, i + j + 1).cast("string"),
                ),
                ",",
            ),
        )
    )


def _dup_ppm(grams: Column) -> Column:
    """Duplicate-n-gram fraction in integer ppm:
    floor((|grams| - |distinct|) * 1e6 / |grams| + 0.5); NULL when the
    sequence is too short to have any n-gram (no signal ≠ zero
    repetition)."""
    n_all = F.size(grams)
    n_dist = F.size(F.array_distinct(grams))
    return F.when(n_all <= 0, F.lit(None).cast("long")).otherwise(
        F.floor((n_all - n_dist) * F.lit(1_000_000) / n_all + F.lit(0.5)).cast("long")
    )


def token_repetition_stats(
    df: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition filters DIRECTLY on the token table:
    per-sequence duplicate-bigram / duplicate-trigram fractions
    (integer ppm) and the longest run of one repeated token id.

    The text path's `textops.repetition_stats` answers this for raw
    documents; at 10^12-sequence scale the corpus only exists
    pre-tokenized, so the filter must run on token ids without
    detokenising. A run of the same token id is the tokenized shadow
    of degenerate text ("!!!!…", padding loops), and a high duplicate
    n-gram fraction flags boilerplate/loops the exact-dedup
    fingerprint can't see.

    Scale shape: a pure narrow transform — n-gram construction,
    array_distinct and the run-length fold are all per-row Catalyst
    HOF expressions, NO shuffle, NO Python, so the op fuses into
    whatever scan or filter stage consumes it. Row cost is O(n_tok·n)
    with short-lived per-row arrays (the n-gram strings), bounded by
    the chunker's context-window cap upstream.

    max_run uses a single aggregate() fold with (prev, run, best)
    struct state — initial prev is NULL so the first element compares
    not-equal and starts a run of 1; empty sequences report 0.
    """
    toks = F.col(tokens_col)
    fold = F.aggregate(
        toks,
        F.struct(
            F.lit(None).cast("int").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tok"),
        _dup_ppm(_ngram_strs(toks, 2)).alias("dup_bigram_ppm"),
        _dup_ppm(_ngram_strs(toks, 3)).alias("dup_trigram_ppm"),
        fold.cast("long").alias("max_run"),
    )


def token_lm_bigram(
    df: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id"
) -> DataFrame:
    """Bigram-LM perplexity scoring DIRECTLY on token ids — the
    CCNet/ROOTS-style quality filter (textops.lm_bigram_score) over
    the pre-tokenized shape, so a 10^12-sequence corpus scores
    without detokenising. Same add-one-smoothed model and integer
    micro-nat discipline via the shared textops.lm_bigram_over; the
    model keys here are ints, which shuffle and broadcast cheaper
    than word strings. Empty/null sequences are excluded (nothing to
    score); null elements are dropped first (canonical schema
    forbids them)."""
    from hnormalise_spark.ops.textops import lm_bigram_over

    clean = F.filter(F.col(tokens_col), lambda t: t.isNotNull())
    base = (
        df.filter(F.col(tokens_col).isNotNull() & (F.size(clean) > 0))
        .select(F.col(id_col).alias("_doc"), clean.alias("_toks"))
    )
    return lm_bigram_over(base)


def source_token_kl(
    df: DataFrame, tokens_col: str = "tokens", source_col: str = "source"
) -> DataFrame:
    """Per-source token-distribution drift: KL(P_source || Q_corpus)
    over unigram token frequencies, in integer micro-nats. The
    mixture-monitoring counterpart of token_zipf_fit — when one
    source's KL jumps between snapshots, its content shifted relative
    to the blend the model is actually trained on (KL against the
    corpus mixture is the textbook importance-sampling gap; DSIR uses
    the same quantity doc-wise, this is the source-wise rollup).

    KL, not JS: every token a source emits also exists in the corpus
    mixture (q > 0 always), so only (source, token) pairs that OCCUR
    contribute — no source × vocab cross-materialisation, which is
    what makes the JS variant unshippable at 10^12 sequences.

    Cross-engine determinism (the token_zipf pattern): counts are
    exact ints; each pair's term p·ln(p·N/(n_s·q_cnt)) is evaluated in
    double with ONE fixed operation order, floored to micro-nats, and
    only integer micro-nat terms are summed — so partitioning and
    summation order cannot move the result, and a DuckDB oracle
    replays it bit-for-bit.

    Scale shape: ONE corpus-sized shuffle — the (source, token)
    count aggregate with map-side partial combine (the explode feeds
    straight into a hash aggregate, so the wire carries vocab-bounded
    partials per task, not tokens). Everything after runs on the
    (source × observed-vocab) table: two small rollups (per-source
    totals, per-token corpus counts) broadcast back onto it, then a
    per-source sum. Output is |sources| rows. The plan references the
    (source, token) aggregate three times, but deliberately WITHOUT a
    persist barrier: AQE's ReuseExchange canonicalizes the identical
    shuffle subtrees (final plan shows 3 ReusedExchange), so the
    corpus is exploded once — measured faster than an explicit
    .persist() of the intermediate at sf0.1.
    """
    st = (
        df.select(F.col(source_col).alias("source"), F.explode(tokens_col).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )
    per_source = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    per_token = st.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    grand = per_source.agg(F.sum("n_s").alias("n_total"))
    p = F.col("c_st").cast("double") / F.col("n_s").cast("double")
    ratio = (F.col("c_st").cast("double") * F.col("n_total").cast("double")) / (
        F.col("n_s").cast("double") * F.col("c_t").cast("double")
    )
    term = F.floor(p * F.log(ratio) * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
    return (
        st.join(F.broadcast(per_source), "source")
        .join(F.broadcast(per_token), "token")
        .crossJoin(F.broadcast(grand))
        .groupBy("source")
        .agg(
            F.sum("c_st").cast("long").alias("n_tok"),
            F.count(F.lit(1)).cast("long").alias("n_vocab_src"),
            F.sum(term).cast("long").alias("kl_x1e6"),
        )
    )


def token_zipf_fit(
    df: DataFrame, tokens_col: str = "tokens", top_v: int = 64
) -> DataFrame:
    """Least-squares Zipf exponent of the corpus token frequency
    distribution: fit ``ln f ≈ c - alpha·ln r`` over the top
    ``top_v`` tokens (rank r by count DESC / token ASC — the
    vocab_top_tokens order) and return ONE row
    ``(n_vocab, alpha_x1e6)``. A healthy natural-language corpus sits
    near alpha ≈ 1; a collapsed or templated corpus drifts far from
    it, so this is a cheap corpus-health monitor over the token
    table.

    Cross-engine determinism (the lm_score pattern): ln(r) and ln(f)
    round to integer micro-units FIRST, all moment sums are exact
    decimal integers, and only the final num/den ratio goes through
    double — so partitioning and summation order cannot move the
    result. ``alpha_x1e6`` is null when fewer than 2 ranks exist.

    Scale shape: the corpus-sized work is vocab_top_tokens' two-level
    count aggregate; everything after runs on ≤ ``top_v`` rows (the
    single-partition rank window is bounded by top_v, same as the
    budget-select histogram collects)."""
    freq = vocab_top_tokens(df, tokens_col=tokens_col, top_v=top_v)
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    m = freq.select(
        F.floor(F.log(F.row_number().over(w).cast("double")) * 1e6 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("_x"),
        F.floor(F.log(F.col("freq").cast("double")) * 1e6 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("_y"),
    )
    s = m.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    num = -(F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
    den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    return s.select(
        F.col("_n").cast("long").alias("n_vocab"),
        F.when(
            den > 0,
            F.floor(
                num.cast("double") / den.cast("double") * 1e6 + F.lit(0.5)
            ).cast("long"),
        ).alias("alpha_x1e6"),
    )


# ---------------------------------------------------------------------------
# Materialized concat-then-chunk packing

_BLOCK_SPAN = 1 << 32  # packing.py's shard-qualified block-id space


def token_pack_blocks(
    df: DataFrame,
    ctx: int,
    eod: int | None = None,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    shards: int = 8,
) -> DataFrame:
    """MATERIALIZE GPT-style concat-then-chunk packing: concatenate
    every sequence (plus an optional ``eod`` separator token) in
    deterministic per-shard ``id_col`` order and cut the stream into
    fixed ``ctx``-length training blocks — the actual examples a
    trainer consumes, not just the placement metadata
    (``packing.pack_sequences`` computes the latter; this produces
    the blocks themselves, directly from the token arrays).

    Returns one row per block: ``(block_id, tokens, n_tok, n_docs)``
    where ``block_id = shard * 2^32 + block`` (pack_sequences' id
    space), ``tokens`` is the packed ``array<int>`` (exactly ``ctx``
    long except the final ragged block of each shard), and ``n_docs``
    counts the sequences contributing at least one token — the number
    a boundary-aware attention mask needs. Empty/null sequences are
    dropped; shard membership is the salted hash pack_sequences uses,
    so both views of the packing agree row-for-row.

    Scale shape: each doc computes its start offset from ONE
    per-shard running-sum window, then splits its own array at block
    boundaries inside a projection (sequence/slice — no per-token
    explode) and ships each fragment to its block via ONE
    (shard, block) aggregate that re-orders fragments by offset with
    ``sort_array`` and flattens. Two shuffles total — the window's
    hash-by-shard and the block assembly — both keyed by small fixed
    columns; the token arrays cross the wire exactly once, cut into
    the fragments the blocks need. ``shards`` is the parallelism of
    the order-defining window: at 10^12 sequences set it ~10^4-10^5
    so each shard's running sum stays a single-task-friendly slice
    (the same dial pack_sequences exposes).
    """
    if ctx < 1:
        raise ValueError("ctx must be >= 1")
    from hnormalise_spark.ops.sampling import key_hash_unit

    clean = F.filter(F.col(tokens_col), lambda t: t.isNotNull())
    arr = clean if eod is None else F.concat(clean, F.array(F.lit(int(eod))))
    base = df.filter(F.col(tokens_col).isNotNull() & (F.size(clean) > 0)).select(
        F.col(id_col).alias("_doc"),
        arr.alias("_t"),
        F.floor(key_hash_unit(F.col(id_col), "pack") * shards)
        .cast("int")
        .alias("_shard"),
    )
    w = (
        Window.partitionBy("_shard")
        .orderBy("_doc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n = F.size("_t").cast("long")
    cum = F.coalesce(F.sum(n).over(w), F.lit(0)).cast("long")
    staged = base.select(
        "_shard", "_t", n.alias("_n"), cum.alias("_cum")
    )
    first_blk = F.floor(F.col("_cum") / ctx).cast("long")
    last_blk = F.floor((F.col("_cum") + F.col("_n") - 1) / ctx).cast("long")
    # fragment j of this doc lands in block first_blk + j; its slice
    # bounds come from intersecting [cum, cum+n) with the block's
    # global token interval [blk*ctx, (blk+1)*ctx)
    frags = F.transform(
        F.sequence(F.lit(0).cast("long"), last_blk - first_blk),
        lambda j: F.struct(
            (first_blk + j).alias("blk"),
            F.greatest(F.lit(0).cast("long"), F.col("_cum") - (first_blk + j) * ctx)
            .alias("off"),
            F.slice(
                F.col("_t"),
                (
                    F.greatest(
                        F.lit(0).cast("long"), (first_blk + j) * ctx - F.col("_cum")
                    )
                    + 1
                ).cast("int"),
                (
                    F.least(F.col("_n"), (first_blk + j + 1) * ctx - F.col("_cum"))
                    - F.greatest(
                        F.lit(0).cast("long"), (first_blk + j) * ctx - F.col("_cum")
                    )
                ).cast("int"),
            ).alias("seg"),
        ),
    )
    pieces = staged.select(
        "_shard", F.explode(frags).alias("_f")
    ).select("_shard", F.col("_f.blk").alias("_blk"), F.col("_f.off").alias("_off"),
             F.col("_f.seg").alias("_seg"))
    # fragment offsets within a block are disjoint, so (off) alone is
    # a total order; sort_array on the (off, seg) struct restores the
    # stream order regardless of collect_list's arrival order
    return (
        pieces.groupBy("_shard", "_blk")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_off"), F.col("_seg")))
            ).alias("_ps")
        )
        .select(
            (F.col("_shard").cast("long") * _BLOCK_SPAN + F.col("_blk"))
            .alias("block_id"),
            F.flatten(
                F.transform(F.col("_ps"), lambda p: p.getField("_seg"))
            ).alias("tokens"),
            F.size(F.col("_ps")).cast("long").alias("n_docs"),
        )
        .withColumn("n_tok", F.size("tokens").cast("long"))
    )


# ---------------------------------------------------------------------------
# DSIR hashed-feature importance scoring

DSIR_BUCKETS = 4096


def _feat_bucket(feat: Column, n_buckets: int, seed: str) -> Column:
    """Hashing-trick feature bucket: first 60 bits of md5 mod d."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(seed + "|"), feat)), 1, 15), 16, 10
        ).cast("long")
        % n_buckets
    )


def _doc_feature_buckets(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    n_buckets: int,
    seed: str,
    by_doc: bool = True,
) -> DataFrame:
    """(_doc, _b): one row per unigram + bigram occurrence, hashed to
    its weight bucket. With ``by_doc`` the explode happens on a doc-id
    partitioning established FIRST, so a downstream per-doc aggregate
    needs no further shuffle (the lm_unigram_score pattern); the
    count-only consumers skip that repartition — their bucket agg is
    map-side combined wherever the rows already live."""
    toks = F.col(tokens_col)
    unis = F.transform(toks, lambda t: t.cast("string"))
    bis = F.when(F.size(toks) >= 2, F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i).cast("string"),
            F.element_at(toks, i + 1).cast("string"),
        ),
    )).otherwise(F.array().cast("array<string>"))
    base = df.filter(
        F.col(tokens_col).isNotNull() & (F.size(tokens_col) > 0)
    ).select(F.col(id_col).alias("_doc"), toks.alias(tokens_col))
    if by_doc:
        base = base.repartition(F.col("_doc"))
    return base.select(
        "_doc", F.explode(F.concat(unis, bis)).alias("_f")
    ).select("_doc", _feat_bucket(F.col("_f"), n_buckets, seed).alias("_b"))


def dsir_score(
    df: DataFrame,
    target: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
    seed: str = "dsf",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): score every sequence
    in ``df`` by the log-ratio of a target-distribution hashed n-gram
    bag-of-words model to the raw-distribution one,
    ``log p_target(x) - log p_raw(x)``, features = token unigrams +
    bigrams hashed into ``n_buckets`` slots, add-one smoothing over
    the slot count. Resampling by these weights is the published
    data-selection recipe; downstream, compose with
    sampling.weighted_sample_topk.

    Cross-engine determinism: each bucket's log-ratio is rounded to
    integer micro-nats BEFORE the per-doc sum (float sums are
    addition-order-dependent; integer sums are not).

    Scale shape: both distribution estimates are map-side-combined
    bucket counts (≤ n_buckets rows cross the wire); the weight table
    (≤ n_buckets rows) broadcast-joins onto the exploded corpus,
    whose doc partitioning is established before the explode, so the
    per-doc sum adds no shuffle. Nothing collects to the driver.

    Returns (id_col, n_feat, dsir_x1e6) for every non-empty sequence
    of ``df``; empty/null sequences have no features and are excluded.
    """
    raw_fb = _doc_feature_buckets(df, id_col, tokens_col, n_buckets, seed)

    raw_counts = (
        _doc_feature_buckets(df, id_col, tokens_col, n_buckets, seed, by_doc=False)
        .groupBy("_b").agg(F.count(F.lit(1)).alias("_cr"))
    )
    tgt_counts = (
        _doc_feature_buckets(target, id_col, tokens_col, n_buckets, seed, by_doc=False)
        .groupBy("_b").agg(F.count(F.lit(1)).alias("_ct"))
    )

    raw_tot = raw_counts.agg(F.sum("_cr").alias("_R"))
    tgt_tot = tgt_counts.agg(F.sum("_ct").alias("_T"))

    # Buckets absent from the raw side never occur in the scored
    # corpus, so the raw side anchors the join.
    d = F.lit(float(n_buckets))
    weights = (
        raw_counts.join(F.broadcast(tgt_counts), "_b", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "_b",
            F.floor(
                (
                    F.log((F.coalesce(F.col("_ct"), F.lit(0)) + 1.0) / (F.col("_T") + d))
                    - F.log((F.col("_cr") + 1.0) / (F.col("_R") + d))
                )
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long").alias("_w"),
        )
    )

    return (
        raw_fb.join(F.broadcast(weights), "_b")
        .groupBy("_doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feat"),
            F.sum("_w").cast("long").alias("dsir_x1e6"),
        )
        .withColumnRenamed("_doc", id_col)
    )


def perplexity_buckets(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    source_col: str = "source",
    grain: int = 1000,
) -> DataFrame:
    """CCNet-style head/middle/tail perplexity bucketing (Wenzek et
    al. 2020, arXiv:1911.00359) directly on the token table: score
    every sequence with the add-one bigram LM (``token_lm_bigram``),
    then split each SOURCE's population into perplexity thirds —
    'head' (most fluent) feeds high-quality training mixes, 'tail'
    is the filter candidate.

    Thresholds are computed at HISTOGRAM granularity, not by ranking
    documents: mean NLL is floored onto a ``grain``-micro-nat grid
    (milli-nats by default — the NLL range is a few nats, so the grid
    is ~10^4 cells regardless of corpus size), per-(source, cell)
    counts roll up with map-side combine, and the inclusive cumulative
    count over each source's ≤10^4 cells decides the cell's label:
    head while 3·cum ≤ n, middle while 3·cum ≤ 2n, tail after — a
    straddling cell rounds UP into the next bucket, whole. This is
    the same two-pass-histogram discipline as ``budget_select`` (a
    per-source row_number over 10^12 docs would serialize each source
    onto one window task; the histogram form shuffles corpus-sized
    data exactly once, for the LM scoring itself), and every decision
    is integer arithmetic so partitioning cannot move a label.

    Returns (doc_id, source, mean_nll_x1e6, ppl_bucket). Sequences
    the LM cannot score (empty/null) are excluded, matching
    ``token_lm_bigram``.
    """
    from pyspark.sql import Window

    scores = token_lm_bigram(df, tokens_col=tokens_col, id_col=id_col)
    src = df.select(F.col(id_col).alias("doc_id"), F.col(source_col).alias("source"))
    scored = scores.join(src, "doc_id").withColumn(
        "_cell", F.floor(F.col("mean_nll_x1e6") / F.lit(int(grain))).cast("long")
    )
    hist = scored.groupBy("source", "_cell").agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy("source").orderBy("_cell").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("_cum", F.sum("_c").over(w)).withColumn(
        "_n", F.sum("_c").over(Window.partitionBy("source"))
    )
    labeled = cum.select(
        "source",
        "_cell",
        F.when(F.col("_cum") * 3 <= F.col("_n"), F.lit("head"))
        .when(F.col("_cum") * 3 <= F.col("_n") * 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )
    return scored.join(F.broadcast(labeled), ["source", "_cell"]).select(
        "doc_id", "source", "mean_nll_x1e6", "ppl_bucket"
    )


def token_entropy(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-sequence Shannon entropy of the token-id distribution, in
    integer micro-nats — the degenerate-text signal the repetition
    filters approximate from the other side: near-zero entropy means
    the sequence is a handful of ids repeated, regardless of WHERE the
    repeats sit (so it also catches shuffled boilerplate that defeats
    run/ngram-based checks).

    Pure narrow transform: distinct ids and their in-row counts come
    from `array_distinct` + a `filter` size per distinct id (O(n·d)
    per row — fine for training-length sequences; a sequence with
    pathological distinct-count is exactly the high-entropy case that
    short-circuits nothing). Each term (c/n)·ln(n/c) is evaluated in
    double with one fixed operation order and floored to micro-nats
    BEFORE the integer sum, so partitioning cannot move the result and
    the oracle replays it bit-for-bit — the `source_token_kl`
    discipline. NO shuffle, NO Python; fuses into the consuming scan.

    Empty/null sequences are excluded (no distribution ⇒ no entropy).
    Returns (id, n_tok, n_distinct, entropy_x1e6).
    """
    toks = F.col(tokens_col)
    n = F.size(toks).cast("double")
    cnts = F.transform(
        F.array_distinct(toks),
        lambda t: F.size(F.filter(toks, lambda x: x == t)),
    )
    ent = F.aggregate(
        cnts,
        F.lit(0).cast("long"),
        lambda acc, c: acc
        + F.floor(
            (c.cast("double") / n) * F.log(n / c.cast("double")) * F.lit(1000000.0)
        ).cast("long"),
    )
    return (
        df.filter(toks.isNotNull() & (F.size(toks) > 0))
        .select(
            F.col(id_col),
            F.size(toks).cast("long").alias("n_tok"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
            ent.alias("entropy_x1e6"),
        )
    )


def span_corruption_plan(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    density: float = 0.15,
    mean_span: float = 3.0,
) -> DataFrame:
    """T5-style span-corruption LENGTH planning (Raffel et al. 2020
    §3.1.4, the random_spans_noise_mask length arithmetic): for each
    sequence of n tokens compute the masked-token budget
    ``clamp(floor(n·density + 0.5), 1, n-1)``, the span count
    ``clamp(floor(n_masked/mean_span + 0.5), 1, n_masked)``, and the
    resulting encoder/decoder example lengths
    ``enc = n - n_masked + n_spans`` (each span collapses to one
    sentinel) and ``dec = n_masked + n_spans + 1`` (sentinels + EOS).
    These are the numbers a denoising pipeline precomputes to pack
    batches BEFORE materializing any mask — position sampling stays
    in the trainer; length planning belongs in the data pipeline.

    Totality: sequences with n < 2 (too short to hold noise and
    non-noise) plan to zero spans and enc_len = n, dec_len = 0; null
    token arrays count as n = 0. Every row survives so budget
    accounting stays exact.

    Cross-engine determinism: the only non-integer steps are the two
    IEEE-double products n·density and n_masked/mean_span, evaluated
    identically in any engine, then half-up floored — no summation
    order anywhere.

    Scale shape: a pure per-row projection — ZERO shuffles, fuses
    into the scan, and with column pruning reads only (id, tokens);
    downstream length-bucketed batch assembly (``length_buckets``)
    can consume enc_len/dec_len directly.
    """
    n = F.coalesce(F.size(tokens_col), F.lit(0)).cast("long")
    n_masked = F.when(
        n >= 2,
        F.least(
            F.greatest(
                F.floor(n.cast("double") * F.lit(float(density)) + F.lit(0.5))
                .cast("long"),
                F.lit(1),
            ),
            n - 1,
        ),
    ).otherwise(F.lit(0))
    n_spans = F.when(
        n_masked > 0,
        F.least(
            F.greatest(
                F.floor(
                    n_masked.cast("double") / F.lit(float(mean_span))
                    + F.lit(0.5)
                ).cast("long"),
                F.lit(1),
            ),
            n_masked,
        ),
    ).otherwise(F.lit(0))
    return df.select(
        F.col(id_col),
        n.alias("n_tok"),
        n_masked.alias("n_masked"),
        n_spans.alias("n_spans"),
        (n - n_masked + n_spans).cast("long").alias("enc_len"),
        F.when(n_masked > 0, n_masked + n_spans + 1)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dec_len"),
    )
