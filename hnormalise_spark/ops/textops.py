"""Text analysis operators over a documents table.

All pure JVM expressions (regexp_count/replace/length arithmetic), so
they scan at parquet speed with column pruning. Every formula is also
expressible in ANSI SQL — the __spark_entry__ oracles recompute them
independently in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword inventories for the n-gram/stopword
# language-ID heuristic (deliberately small + deterministic)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "und", "das", "nicht", "ist"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "es": ["el", "los", "que", "y", "es", "una"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for blank/empty)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: words, digit runs, and punctuation
    each count separately (a BPE-flavoured regex tokenizer)."""
    return F.regexp_count(text, F.lit(r"[A-Za-z]+|\d+|[^\sA-Za-z\d]"))


def char_class_counts(text: Column) -> dict[str, Column]:
    return {
        "n_alpha": F.length(F.regexp_replace(text, r"[^A-Za-z]", "")),
        "n_digit": F.length(F.regexp_replace(text, r"[^0-9]", "")),
        "n_space": F.length(F.regexp_replace(text, r"[^ \t\n]", "")),
        "n_punct": F.length(F.regexp_replace(text, r"[A-Za-z0-9 \t\n]", "")),
    }


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality score: alpha ratio, blended with a
    word-count band and a punctuation penalty (the usual pre-training
    heuristics, kept SQL-mirrorable). Unrounded double — callers that
    need a stable cross-engine compare use floor(x*1e4+0.5) (HALF_UP
    rounding differs between engines; floor on the same double never
    does)."""
    n = F.greatest(F.length(text), F.lit(1))
    cc = char_class_counts(text)
    alpha_ratio = cc["n_alpha"] / n
    punct_ratio = cc["n_punct"] / n
    words = token_count(text)
    words_ok = F.when((words >= 5) & (words <= 10000), F.lit(1.0)).otherwise(F.lit(0.3))
    return alpha_ratio * F.lit(0.6) + words_ok * F.lit(0.3) + (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0))) * F.lit(0.1)


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword hit counts (word-boundary regex)."""
    padded = F.lower(text)
    return {
        lang: sum(
            (F.regexp_count(padded, F.lit(rf"\b{w}\b")) for w in words),
            F.lit(0),
        )
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(text: Column, min_hits: int = 2) -> Column:
    """argmax language by stopword hits; ties and low-evidence → 'und'.

    Deterministic tie-break: the LANG_MARKERS insertion order wins only
    on strictly-greater counts, so equal scores fall through to 'und'
    if nothing beats them — mirrored in the SQL oracle.
    """
    scores = lang_scores(text)
    langs = list(scores)
    best = F.greatest(*[scores[l] for l in langs])
    out = F.lit("und")
    # first language (in fixed order) achieving the strict maximum wins
    expr = None
    for lang in langs:
        cond = (scores[lang] == best) & (best >= min_hits)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return F.coalesce(expr, out)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalised,
    lowercased text (md5, not hash(): cross-engine checkable)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


# PII patterns shared by the Spark op and the DuckDB oracle. Kept to
# the Java-regex ∩ RE2 dialect (no backrefs, no lookaround) so both
# engines match the exact same spans.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[- ]\d{3}[- ]\d{4}\b", "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask emails, IPv4 addresses, and phone-shaped digit runs with
    typed placeholders, and count the redactions per class.

    The standard pre-training privacy pass (publicly described for
    C4, Dolma, and most open corpora). Patterns apply in a fixed
    order (email → ip → phone) and each class is COUNTED on the text
    the previous classes already redacted, so a span consumed by an
    earlier class (an email whose dashed local part looks like a
    phone number) is never double-counted. Pure JVM regex per row —
    no UDF, no shuffle; at 100 TB this runs at scan speed inside the
    same stage as the read."""
    red = F.col(text_col)
    counts: dict[str, Column] = {}
    for name, pat, repl in PII_PATTERNS:
        counts[f"n_{name}"] = F.regexp_count(red, F.lit(pat)).cast("long")
        red = F.regexp_replace(red, pat, repl)
    return df.withColumns({**counts, "text_redacted": red})


def bpe_pair_counts(df: DataFrame, text_col: str = "text", k: int = 30) -> DataFrame:
    """Top-K adjacent character-pair counts — the first iteration of
    BPE tokenizer training (publicly described in Sennrich et al. 2016
    and the GPT-2 tokenizer): the highest-count pair is the next merge.

    The BPE scale trick is preserved: corpus-sized work is ONLY the
    word count (explode → map-side-combined groupBy); pair counting
    then runs over the VOCABULARY (orders of magnitude smaller),
    weighting each within-word pair occurrence by the word's corpus
    count. Top-K via TakeOrdered, ties broken by pair."""
    t = F.trim(F.col(text_col))
    words = df.select(F.explode(F.split(t, r"\s+")).alias("word")).filter(
        F.col("word") != ""
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("wc"))
    ln = F.length("word")
    pair_idx = F.when(ln >= 2, F.sequence(F.lit(1), ln - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = vocab.select(
        "wc",
        F.explode(
            F.transform(pair_idx, lambda i: F.substring(F.col("word"), i, 2))
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("pair"))
        .limit(k)
    )


def doclen_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    ps: tuple[float, ...] = (0.1, 0.5, 0.9),
) -> DataFrame:
    """Per-group document-length statistics with EXACT quantiles —
    the corpus profile every pipeline stage gates on (length filters,
    packing ctx choice, per-language budgets).

    Quantile definition: value at 0-based rank ``floor((n-1)*p)`` of
    the ascending sort — rank selection, not interpolation, so the
    result is an actual observed value and identical on every engine
    (approx_percentile/quantile_cont interpolate differently across
    engines). Ties need no tiebreak: equal ranks of equal values
    yield the same output.

    Scale shape: ONE shuffle on the group key — the rank window and
    the final aggregate share the same partitioning, so Catalyst
    plans a single Exchange; nothing global, no driver collect.

    NULL text rows are excluded up front (a null length has no rank;
    leaving them in would shift every quantile target while min/max/
    sum silently skip them — inconsistent stats)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy("n_tok")
    ranked = df.select(
        F.col(group_col), token_count(F.col(text_col)).cast("long").alias("n_tok")
    ).filter(F.col("n_tok").isNotNull()).withColumns(
        {
            "rn": F.row_number().over(w) - 1,
            "n": F.count(F.lit(1)).over(Window.partitionBy(group_col)),
        }
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_tok").alias("min_tok"),
        F.max("n_tok").alias("max_tok"),
        F.floor(F.sum("n_tok") * 10000.0 / F.count(F.lit(1)) + F.lit(0.5))
        .cast("long")
        .alias("mean_tok_x1e4"),
    ]
    for p in ps:
        tag = f"p{int(round(p * 100)):02d}"
        target = F.floor((F.col("n") - 1) * F.lit(p))
        aggs.append(
            F.max(F.when(F.col("rn") == target, F.col("n_tok"))).alias(tag)
        )
    return ranked.groupBy(group_col).agg(*aggs)


# ---------------------------------------------------------------------------
# BM25 keyword retrieval


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k keyword retrieval, inverted-index shaped.

    Plan: tokenize -> explode -> FILTER TO THE QUERY TERMS before any
    shuffle (so the exploded frame carries |terms|-matching tokens
    only, the distributed analogue of posting-list lookup) -> one
    (doc, term) count shuffle for tf -> term df + corpus stats as two
    tiny broadcast sides -> per-term contribution -> per-doc sum ->
    TakeOrderedAndProject for the top k (per-partition heaps, no
    global sort). At real scale the explode+filter pass is what an
    inverted-index build materializes once; everything downstream is
    unchanged.

    Cross-engine determinism: each per-term contribution is rounded
    to integer micro-units BEFORE the per-doc sum, so the sum is
    integer arithmetic (float sums are shuffle-order-dependent; the
    DuckDB oracle replays the same per-term rounding). Returns
    (doc_id, score_x1e6) ordered by score desc, doc_id asc.
    """
    terms = sorted(set(query_terms))
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    lens = df.select(
        F.col(id_col).alias("_doc"), F.size(toks).alias("_len"), toks.alias("_toks")
    )
    exploded = lens.select(
        "_doc", "_len", F.explode("_toks").alias("_term")
    ).filter(F.col("_term").isin(terms))
    tf = exploded.groupBy("_doc", "_len", "_term").agg(
        F.count(F.lit(1)).alias("_tf")
    )
    dfreq = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_len").alias("_totlen")
    )
    return _bm25_score(tf, dfreq, stats, k, k1, b, id_col)


def _bm25_score(
    tf: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    k: int,
    k1: float,
    b: float,
    id_col: str,
) -> DataFrame:
    """Shared BM25 scoring tail: (doc, term, tf, dl) + broadcast term
    df + broadcast corpus stats → integer-micro-unit contributions →
    per-doc sum → TakeOrderedAndProject top-k."""
    scored = (
        tf.join(F.broadcast(dfreq), "_term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n") - F.col("_df") + F.lit(0.5))
                / (F.col("_df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_contrib",
            F.col("_idf")
            * (F.col("_tf") * F.lit(k1 + 1.0))
            / (
                F.col("_tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    # try_divide: an all-empty corpus has avgdl 0; a
                    # null length norm (→ null score) beats an ANSI
                    # DIVIDE_BY_ZERO batch abort
                    + F.lit(b)
                    * F.try_divide(
                        F.col("_len"),
                        F.col("_totlen").cast("double") / F.col("_n"),
                    )
                )
            ),
        )
        .withColumn(
            "_contrib_x1e6",
            F.floor(F.col("_contrib") * F.lit(1000000.0) + F.lit(0.5)).cast("long"),
        )
    )
    return (
        scored.groupBy(F.col("_doc").alias(id_col))
        .agg(F.sum("_contrib_x1e6").alias("score_x1e6"))
        .orderBy(F.desc("score_x1e6"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# BM25 over a PERSISTED posting-list index (the 100-TB shape: the
# explode pass is paid once at index-build; every query is a
# partition-pruned probe)

BM25_BUCKETS = 64


def term_bucket_py(term: str, buckets: int = BM25_BUCKETS) -> int:
    """Python twin of ``_term_bucket_col`` — the driver computes the
    query's bucket set without a Spark job. md5-derived (not hash()/
    xxhash64) so Python, Spark, and any SQL engine agree."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % buckets


def _term_bucket_col(term: Column, buckets: int = BM25_BUCKETS) -> Column:
    return F.pmod(
        F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long"),
        F.lit(buckets),
    ).cast("int")


def bm25_build_index(
    df: DataFrame,
    index_path: str,
    snapshot_id: str = "base",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = BM25_BUCKETS,
) -> None:
    """Materialize the inverted index ONCE through the snapshot table
    layer (committed/resumable): a (term, doc_id, tf, dl) posting
    table partitioned by ``term_bucket`` — a bounded md5-hash bucket
    of the term, not the term itself: a real vocabulary is millions of
    terms and one directory per term is the small-files failure mode,
    while a fixed bucket count keeps partition pruning AND a sane
    layout. Corpus stats (doc count, total length) land as a one-row
    sidecar snapshot; per-term document frequency is NOT stored — it
    is re-aggregated from the probed buckets at query time (a term's
    postings live entirely in its bucket, so the pruned scan sees all
    of them).
    """
    from hnormalise_spark import table as T

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    lens = df.select(
        F.col(id_col).alias("doc_id"), F.size(toks).alias("dl"), toks.alias("_toks")
    )
    postings = (
        lens.select("doc_id", "dl", F.explode("_toks").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("term_bucket", _term_bucket_col(F.col("term"), buckets))
    )
    T.write_snapshot(postings, index_path, snapshot_id, partition_by=("term_bucket",))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    T.write_snapshot(stats, index_path + "_stats", snapshot_id)


def bm25_topk_indexed(
    spark,
    index_path: str,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    buckets: int = BM25_BUCKETS,
) -> DataFrame:
    """BM25 top-k over the persisted index: the scan is PRUNED to the
    query terms' buckets (``term_bucket`` is a partition column — the
    plan lists it under PartitionFilters and never opens the other
    buckets), then filtered to the exact terms, then the same scoring
    tail as the inline ``bm25_topk``. Identical results to the inline
    form by construction."""
    from hnormalise_spark import table as T

    terms = sorted(set(query_terms))
    bks = sorted({term_bucket_py(t, buckets) for t in terms})
    postings = (
        T.read_committed(spark, index_path)
        .filter(F.col("term_bucket").isin(bks))
        .filter(F.col("term").isin(terms))
    )
    tf = postings.select(
        F.col("doc_id").alias("_doc"),
        F.col("dl").alias("_len"),
        F.col("term").alias("_term"),
        F.col("tf").alias("_tf"),
    )
    dfreq = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
    stats = T.read_committed(spark, index_path + "_stats").select(
        F.col("n_docs").alias("_n"), F.col("total_len").alias("_totlen")
    )
    return _bm25_score(tf, dfreq, stats, k, k1, b, id_col)


# ---------------------------------------------------------------------------
# Unigram LM scoring, repetition filters, cross-doc duplicated spans,
# iterative BPE training (round 4 additions)


def _words(text_col: str) -> Column:
    """Whitespace tokens of the trimmed text (no empties for non-blank
    input; blank/NULL handled by callers)."""
    return F.split(F.trim(F.col(text_col)), r"\s+")


def whitespace_tokens(text: Column) -> Column:
    """Blank-safe whitespace tokens: NULL or whitespace-only text →
    empty array (F.split('') would yield ['']). THE shared
    tokenization every oracle mirrors — chatops and the classifier
    derive from this one definition so a future tweak cannot move
    chat-turn counts and classifier token counts independently."""
    return F.when(
        text.isNull() | (F.trim(text) == ""),
        F.array().cast("array<string>"),
    ).otherwise(F.split(F.trim(text), r"\s+"))


def lm_unigram_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style unigram language-model scoring: train token
    frequencies on the corpus itself, then score every document by
    its add-one-smoothed negative log-likelihood (the standard
    perplexity-flavoured quality gate for pre-training data).

    Scale shape: the model is ONE map-side-combined shuffle
    (explode → groupBy(token).count() collapses to vocabulary size
    before the exchange); scoring broadcast-joins the vocab onto the
    exploded corpus (vocab ≪ corpus; for a >8 GB vocabulary drop the
    broadcast hint and Catalyst plans a shuffle join on the token —
    the code path is otherwise identical), and the per-doc aggregate
    runs on a doc-partitioning established BEFORE the explode, so the
    corpus-sized exploded frame never shuffles.

    Cross-engine determinism: each token's NLL is rounded to integer
    micro-nats BEFORE the per-doc sum (float sums are
    addition-order-dependent; integer sums are not). ``mean_nll_x1e6``
    is floor(sum/n) on exact-in-double integers. NULL/blank docs are
    excluded (they have no tokens to score).

    Returns (doc_id, n_tok, sum_nll_x1e6, mean_nll_x1e6).
    """
    toks = _words(text_col)
    base = df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col).alias("_doc"), toks.alias("_toks"))

    vocab = (
        base.select(F.explode("_toks").alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    stats = vocab.agg(
        F.sum("_c").alias("_t"), F.count(F.lit(1)).alias("_v")
    )
    nll = F.floor(
        -F.log((F.col("_c") + F.lit(1.0)) / (F.col("_t") + F.col("_v")))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")

    exploded = (
        base.repartition(F.col("_doc"))
        .select("_doc", F.explode("_toks").alias("_w"))
        .join(F.broadcast(vocab), "_w")
        .crossJoin(F.broadcast(stats))
        .select("_doc", nll.alias("_nll"))
    )
    return exploded.groupBy("_doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.sum("_nll").cast("long").alias("sum_nll_x1e6"),
        F.floor(F.sum("_nll") / F.count(F.lit(1))).cast("long").alias(
            "mean_nll_x1e6"
        ),
    ).withColumnRenamed("_doc", "doc_id")


def _gram_array(words: Column, k: int) -> Column:
    """Array of space-joined word k-grams (empty for short docs)."""
    n = F.size(words)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(words, i, k), " "))


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition signals: the fraction
    of word-bigram positions taken by the single most frequent bigram,
    same for trigrams, and the fraction of 5-gram positions whose
    5-gram occurs more than once in the document (Rae et al. 2021's
    "repetition removal" family, word-n-gram variants).

    Scale shape: ONE Exchange for the whole operator. Documents are
    repartitioned by doc id BEFORE the gram explode (explode preserves
    the child's partitioning), the per-(doc,k,gram) count window and
    the final per-doc aggregate are both satisfied by that
    doc-id hash partitioning, so Catalyst inserts no further shuffle —
    every gram of a document is counted where the document lives.
    Gram-frequency skew is irrelevant: the partition key is the doc.

    Docs with fewer than 2 tokens have no repetition signal and are
    excluded (mirrored by the oracle); 3/5-gram fractions for docs
    shorter than k coalesce to 0.

    Returns (doc_id, n_tok, top_bigram_frac_x1e6, top_trigram_frac_x1e6,
    dup_5gram_frac_x1e6).
    """
    from pyspark.sql import Window

    toks = _words(text_col)
    base = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(F.col(id_col).alias("_doc"), toks.alias("_toks"))
        .filter(F.size("_toks") >= 2)
        .repartition(F.col("_doc"))
    )
    def _tag(k: int) -> Column:
        # single-arg lambda: a two-arg lambda would receive the array
        # INDEX as its second argument (pyspark transform semantics)
        return F.transform(
            _gram_array(F.col("_toks"), k),
            lambda g: F.struct(F.lit(k).alias("k"), g.alias("g")),
        )

    tagged = F.concat(_tag(2), _tag(3), _tag(5))
    ex = base.select(
        "_doc", F.size("_toks").cast("long").alias("n_tok"), F.explode(tagged).alias("kg")
    ).select("_doc", "n_tok", F.col("kg.k").alias("_k"), F.col("kg.g").alias("_g"))
    gc = F.count(F.lit(1)).over(Window.partitionBy("_doc", "_k", "_g"))
    ex = ex.withColumn("_gc", gc)

    def _frac(num: Column, den: Column) -> Column:
        return F.coalesce(
            F.floor(num * F.lit(1e6) / den + F.lit(0.5)).cast("long"), F.lit(0)
        )

    def _k(k: int) -> Column:
        return F.col("_k") == k

    return (
        ex.groupBy("_doc")
        .agg(
            F.max("n_tok").alias("n_tok"),
            _frac(
                F.max(F.when(_k(2), F.col("_gc"))),
                F.sum(F.when(_k(2), F.lit(1))),
            ).alias("top_bigram_frac_x1e6"),
            _frac(
                F.max(F.when(_k(3), F.col("_gc"))),
                F.sum(F.when(_k(3), F.lit(1))),
            ).alias("top_trigram_frac_x1e6"),
            _frac(
                F.sum(F.when(_k(5) & (F.col("_gc") > 1), F.lit(1))),
                F.sum(F.when(_k(5), F.lit(1))),
            ).alias("dup_5gram_frac_x1e6"),
        )
        .withColumnRenamed("_doc", "doc_id")
    )


def dup_span_stats(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Cross-document duplicated-span detection at word-k-gram
    granularity: a span is "duplicated" when the same k-gram occurs in
    two or more DISTINCT documents (the n-gram approximation of
    Lee et al. 2022's exact-substring dedup — their suffix-array match
    becomes a distributed count-distinct over shingles).

    Scale shape: the corpus-sized frames shuffle exactly twice on the
    gram (count-distinct-docs per gram — partial-aggregated map-side —
    then the gram-keyed equi-join of positions against the per-gram
    verdict) and once on the doc for the final rollup. Nothing is
    all-pairs; the per-gram join side is pre-aggregated to ONE row per
    gram, so hot grams (stopword runs) cost volume, not row explosion,
    and AQE's skew-join split handles the volume.

    Docs with fewer than k tokens have no spans and are excluded
    (mirrored by the oracle).

    Returns (doc_id, n_spans, n_dup_spans, dup_span_frac_x1e6).
    """
    toks = _words(text_col)
    spans = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(F.col(id_col).alias("_doc"), toks.alias("_toks"))
        .filter(F.size("_toks") >= k)
        .select("_doc", F.explode(_gram_array(F.col("_toks"), k)).alias("_g"))
    )
    gdocs = spans.groupBy("_g").agg(
        (F.count_distinct("_doc") >= 2).alias("_dup")
    )
    return (
        spans.join(gdocs, "_g")
        .groupBy("_doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.when(F.col("_dup"), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
        .withColumn(
            "dup_span_frac_x1e6",
            F.floor(
                F.col("n_dup_spans") * F.lit(1e6) / F.col("n_spans") + F.lit(0.5)
            ).cast("long"),
        )
        .withColumnRenamed("_doc", "doc_id")
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Iterative BPE tokenizer training (Sennrich et al. 2016): learn
    ``n_merges`` merge rules by repeatedly taking the highest-count
    adjacent symbol pair and fusing it throughout the vocabulary.
    Extends ``bpe_pair_counts`` (the first iteration) to the full
    training loop.

    Scale shape — the published BPE trick, kept intact: the CORPUS is
    touched exactly once (explode → map-side-combined word count); all
    ``n_merges`` iterations then run over the VOCABULARY (distinct
    words, orders of magnitude smaller), weighting each within-word
    pair by the word's corpus count. Per iteration: one vocab-sized
    pair-count shuffle, a 1-row argmax collect (the driver must know
    the winning pair to build the next plan — inherent to the
    algorithm), and a pure-JVM ``aggregate`` fold that applies the
    merge greedily left-to-right (last-element-of-accumulator check:
    no UDF, no Python). ``localCheckpoint`` truncates the growing
    lineage each round, same pattern as the connected-components op.

    Determinism: argmax ties break on (count desc, left asc, right
    asc). Greedy left-to-right application matches the reference
    algorithm ("aaa" + merge(a,a) → [aa, a]).

    Returns one row per learned merge:
    (merge_rank, left, right, merged, pair_count).
    """
    words = df.filter(F.col(text_col).isNotNull()).select(
        F.explode(_words(text_col)).alias("_w")
    ).filter(F.col("_w") != "")
    vocab = (
        words.groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_wc"))
        .select(
            F.col("_wc"),
            # the zero-width end-of-string match leaves a trailing
            # empty element (any limit); strip it
            F.array_remove(F.split(F.col("_w"), "(?!^)"), "").alias("_syms"),
        )
        .localCheckpoint()
    )
    spark = df.sparkSession
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        n = F.size("_syms")
        pair_idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        pairs = vocab.select(
            "_wc",
            F.explode(
                F.transform(
                    pair_idx,
                    lambda i: F.struct(
                        F.element_at("_syms", i).alias("l"),
                        F.element_at("_syms", i + 1).alias("r"),
                    ),
                )
            ).alias("_p"),
        )
        top = (
            pairs.groupBy("_p.l", "_p.r")
            .agg(F.sum("_wc").cast("long").alias("_c"))
            .orderBy(F.desc("_c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, count = top[0]["l"], top[0]["r"], top[0]["_c"]
        merged = left + right
        merges.append((rank, left, right, merged, count))
        # greedy left-to-right fusion: fold each symbol in; when the
        # accumulator ends with `left` and the incoming symbol is
        # `right`, replace the tail with the merged symbol (a token
        # produced by THIS merge never re-participates on its left
        # side, exactly the reference semantics)
        fused = F.aggregate(
            F.col("_syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (x == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        vocab = vocab.select("_wc", fused.alias("_syms"))
        # eager materialization is a full job; amortize it — a few
        # stacked fold projections are cheap, unbounded lineage is not
        if (rank + 1) % 4 == 0:
            vocab = vocab.localCheckpoint()
    return spark.createDataFrame(
        merges,
        "merge_rank int, left string, right string, merged string, pair_count long",
    )


# ordered quality gates for the funnel report: (name, SQL-mirrorable
# predicate builder). A doc is attributed to the FIRST gate it fails.
def _funnel_gates() -> list[tuple[str, Column]]:
    t = F.col("text")
    n_tok = token_count(t)
    cc = char_class_counts(t)
    n = F.greatest(F.length(t), F.lit(1))
    return [
        ("non_null", t.isNotNull() & (F.trim(t) != "")),
        ("min_len", n_tok >= 20),
        ("max_len", n_tok <= 90),
        ("alpha_ratio", cc["n_alpha"] / n >= 0.8),
        ("digit_ratio", cc["n_digit"] / n <= 0.2),
    ]


def filter_funnel(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-gate funnel report: run the ordered filter cascade every
    curation pipeline applies and attribute each rejected document to
    the FIRST gate it fails — the observability table used to tune
    thresholds before committing a multi-day 100-TB filtering job.

    One scan, one tiny aggregate: the first-failing-gate label is a
    single when-cascade projection (pure JVM, scan speed) and the
    rollup collapses to |gates|+1 rows map-side before its exchange.

    Returns (stage, n_docs, n_tokens) — stage is 'kept' or the name of
    the first failed gate; n_tokens is the token mass that stage
    removed (what matters for budget planning, not doc counts).
    """
    t = F.col(text_col)
    gates = _funnel_gates()
    label = F.lit("kept")
    expr = None
    for name, pred in gates:
        cond = ~F.coalesce(pred, F.lit(False))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    label = expr.otherwise(label)
    n_tok = F.when(
        t.isNotNull() & (F.trim(t) != ""), token_count(t)
    ).otherwise(F.lit(0))
    return (
        df.select(label.alias("stage"), n_tok.cast("long").alias("_nt"))
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
        )
    )


def lm_bigram_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Bigram language-model scoring with add-one smoothing: score
    every document by mean NLL under p(w_i | w_{i-1}) =
    (c2(prev,w)+1) / (c1(prev)+V), the first token under the unigram
    model — one step closer to the KenLM-style perplexity filters used
    by CCNet/ROOTS than ``lm_unigram_score``, while staying fully
    SQL-mirrorable.

    Scale shape mirrors the unigram op: TWO map-side-combined count
    shuffles (unigram vocab, bigram table — both collapse to model
    size before their exchange), broadcast joins of both models onto
    the exploded corpus (for a bigram table past broadcast size drop
    the hints: same plan, shuffle joins on the token keys), and the
    per-doc aggregate on a doc partitioning established before the
    explode. Per-token NLL is integer micro-nats before the sum.

    Returns (doc_id, n_tok, sum_nll_x1e6, mean_nll_x1e6).
    """
    toks = _words(text_col)
    base = df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col).alias("_doc"), toks.alias("_toks"))
    return lm_bigram_over(base)


def lm_bigram_over(base: DataFrame) -> DataFrame:
    """The bigram scorer itself, over a prepared ``(_doc, _toks)``
    frame with any token element type — string words here, int token
    ids in ``tokenops.token_lm_bigram`` (same expressions, and int
    model keys shuffle/broadcast cheaper than strings at 10^12 rows).
    See lm_bigram_score for the model and scale-shape contract."""
    uni = (
        base.select(F.explode("_toks").alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_c1"))
    )
    stats = uni.agg(F.sum("_c1").alias("_t"), F.count(F.lit(1)).alias("_v"))

    n = F.size("_toks")
    pos_structs = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            F.element_at("_toks", i).alias("w"),
            F.when(i > 1, F.element_at("_toks", i - 1)).alias("p"),
        ),
    )
    tok = (
        base.repartition(F.col("_doc"))
        .select("_doc", F.explode(pos_structs).alias("t"))
        .select("_doc", F.col("t.w").alias("_w"), F.col("t.p").alias("_p"))
    )
    big = (
        tok.filter(F.col("_p").isNotNull())
        .groupBy("_p", "_w")
        .agg(F.count(F.lit(1)).alias("_c2"))
    )
    prev_cnt = uni.select(F.col("_w").alias("_p"), F.col("_c1").alias("_c1p"))

    scored = (
        tok.join(F.broadcast(uni), "_w")
        .join(F.broadcast(prev_cnt), "_p", "left")
        .join(F.broadcast(big), ["_p", "_w"], "left")
        .crossJoin(F.broadcast(stats))
    )
    nll = F.when(
        F.col("_p").isNull(),
        -F.log((F.col("_c1") + F.lit(1.0)) / (F.col("_t") + F.col("_v"))),
    ).otherwise(
        -F.log((F.col("_c2") + F.lit(1.0)) / (F.col("_c1p") + F.col("_v")))
    )
    scored = scored.select(
        "_doc", F.floor(nll * F.lit(1e6) + F.lit(0.5)).cast("long").alias("_nll")
    )
    return (
        scored.groupBy("_doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum("_nll").cast("long").alias("sum_nll_x1e6"),
            F.floor(F.sum("_nll") / F.count(F.lit(1))).cast("long").alias(
                "mean_nll_x1e6"
            ),
        )
        .withColumnRenamed("_doc", "doc_id")
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply learned BPE merges to the corpus — the encode side of
    ``bpe_train``, closing the tokenizer loop (train on the corpus,
    then measure what the learned vocabulary buys).

    The standard implementation trick at scale: merges are applied to
    the VOCABULARY (distinct words), not the corpus — each merge is a
    pure-JVM fold over the word's symbol array (same fold as training,
    chained in rank order), and the corpus then broadcast-joins the
    word→n_subwords map. Corpus-side work is one explode + join +
    per-doc aggregate on a pre-explode doc partitioning.

    Returns (doc_id, n_words, n_chars, n_bpe_tokens) — n_bpe_tokens is
    the post-merge subword count (== n_chars when merges is empty,
    monotonically non-increasing as merges are added).
    """
    toks = _words(text_col)
    base = df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col).alias("_doc"), toks.alias("_toks"))

    vocab = (
        base.select(F.explode("_toks").alias("_w"))
        .distinct()
        .select(
            "_w", F.array_remove(F.split(F.col("_w"), "(?!^)"), "").alias("_syms")
        )
    )
    def _apply_merge(arr: Column, left: str, right: str) -> Column:
        # the lambda is evaluated synchronously inside F.aggregate, so
        # plain closure capture is safe (and extra defaulted lambda
        # params would break pyspark's arity inspection)
        merged = left + right
        return F.aggregate(
            arr,
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (x == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )

    syms = F.col("_syms")
    for left, right in merges:
        syms = _apply_merge(syms, left, right)
    encoded = vocab.select(
        "_w",
        F.size(syms).alias("_n_sub"),
        F.length("_w").alias("_n_chars"),
    )
    ex = (
        base.repartition(F.col("_doc"))
        .select("_doc", F.explode("_toks").alias("_w"))
        .join(F.broadcast(encoded), "_w")
    )
    return (
        ex.groupBy("_doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("_n_chars").cast("long").alias("n_chars"),
            F.sum("_n_sub").cast("long").alias("n_bpe_tokens"),
        )
        .withColumnRenamed("_doc", "doc_id")
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k keywords by tf-idf (idf = ln((N+1)/(df+1)),
    the smoothed variant) — the keyword-extraction complement of the
    BM25 retrieval ops.

    Scale shape: ONE corpus-sized Exchange. Documents repartition by
    doc id before the explode, so the (doc, term) tf aggregate AND the
    per-doc top-k window both reuse that partitioning; document
    frequencies reduce to vocabulary size map-side and broadcast back.
    Ties break (score desc, term asc); scores are integer micro-units
    (floor(x*1e6+0.5)) so cross-engine comparison is exact.

    Returns (doc_id, term, tfidf_x1e6), k rows per non-empty doc (fewer
    when the doc has under k distinct terms).
    """
    from pyspark.sql import Window

    toks = _words(text_col)
    base = df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col).alias("_doc"), toks.alias("_toks"))

    ex = base.repartition(F.col("_doc")).select(
        "_doc", F.explode("_toks").alias("term")
    )
    tf = ex.groupBy("_doc", "term").agg(F.count(F.lit(1)).alias("_tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    ndocs = base.agg(F.count(F.lit(1)).alias("_n"))

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf_x1e6",
            F.floor(
                F.col("_tf")
                * F.log((F.col("_n") + F.lit(1.0)) / (F.col("_df") + F.lit(1.0)))
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    w = Window.partitionBy("_doc").orderBy(
        F.desc("tfidf_x1e6"), F.asc("term")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(F.col("_doc").alias("doc_id"), "term", "tfidf_x1e6")
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (rolling k-gram hash + window minima)


WINNOW_BASE = 31
WINNOW_MOD = 1_000_000_007


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = 8, w: int = 4
) -> DataFrame:
    """Per-document winnowing fingerprint set (Schleimer, Wilkerson &
    Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003): polynomial k-gram hashes over the normalised
    character stream, one minimum selected per sliding window of ``w``
    hashes. Any verbatim overlap of length >= w + k - 1 between two
    documents is guaranteed to share a fingerprint, with an expected
    density of 2/(w+1) — the localised rolling-hash complement to
    whole-document md5 (``fingerprint``) and shingle MinHash.

    Adds ``fingerprints`` array<long> (distinct, sorted). All pure JVM
    expressions (transform/aggregate HOFs) — embarrassingly parallel
    per document, no shuffle, so the op scales with the scan like the
    other per-doc text stats. The hash is Σ cp_j·B^(k-1-j) mod
    1_000_000_007 with the mod applied INSIDE the Horner fold (each
    step stays < MOD·B + 127 < 2^35, far inside int64 for ANY k, so an
    ANSI overflow abort is impossible no matter how large a caller
    makes k), and modular arithmetic makes the per-step result
    identical to the mod-at-the-end value — an independent SQL engine
    reproduces it bit-for-bit.

    Docs shorter than ``k`` after normalisation yield []; docs with
    fewer than ``w`` k-grams yield the single global minimum.
    """
    if k < 2 or w < 1:
        raise ValueError("need k >= 2 and w >= 1")

    t = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    # materialize the codepoint array and the hash array as their own
    # Project columns: each is referenced many times downstream, and
    # CollapseProject keeps multiply-referenced non-cheap aliases
    # un-inlined, so every stage evaluates ONCE per row (a k-gram via
    # element_at is O(1); substr on a UTF8String would re-scan from the
    # string head, turning the row into O(n^2))
    codepoints = F.transform(F.array_remove(F.split(t, "(?!^)"), ""), F.ascii)
    wc = F.col("_wc")
    n_grams = F.size(wc) - F.lit(k - 1)
    gram_hash = lambda i: F.aggregate(  # noqa: E731  1-based position i
        F.sequence(F.lit(0), F.lit(k - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: (acc * WINNOW_BASE + F.element_at(wc, (i + j).cast("int")))
        % WINNOW_MOD,
    )
    hashes = F.when(
        n_grams >= 1, F.transform(F.sequence(F.lit(1), n_grams), gram_hash)
    )
    wh = F.col("_wh")
    window_mins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(wh) - F.lit(w - 1), F.lit(1))),
        lambda i: F.array_min(F.slice(wh, i, w)),
    )
    empty = F.array().cast("array<long>")
    return (
        df.withColumn("_wc", codepoints)
        .withColumn("_wh", hashes)
        .withColumn(
            "fingerprints",
            F.when(wh.isNull(), empty).otherwise(
                F.array_sort(F.array_distinct(window_mins))
            ),
        )
        .drop("_wc", "_wh")
    )


def winnow_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-duplicate pairs by shared winnowing fingerprints
    (the MOSS pair-finding stage): explode each doc's fingerprint set,
    drop fingerprints appearing in more than ``max_df`` docs (boiler-
    plate phrases — at corpus scale a hot fingerprint would otherwise
    quadratically dominate the self-join, the classic skew blowup), and
    count shared fingerprints per (a, b) pair with a < b.

    Plan: the doc-frequency guard itself must not re-create the skew it
    guards against — a window over partitionBy(fp) would buffer every
    row of a hot fingerprint in ONE WindowExec group (no partial
    aggregation) before filtering it. Instead: a map-side-combined
    groupBy(fp).count() reduces even a 5M-doc boilerplate fingerprint
    to one row per map task, the few fingerprints OVER the threshold
    broadcast as a tiny exclusion set, and a broadcast anti-join drops
    their rows without any fp-keyed shuffle of the exploded stream.
    Output: (doc_a, doc_b, shared) with shared >= min_shared.
    """
    fps = winnow_fingerprints(df, text_col, k=k, w=w).select(
        F.col(id_col).alias("_id"), F.explode("fingerprints").alias("fp")
    )
    hot = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("fp")
    )
    df_ok = fps.join(F.broadcast(hot), "fp", "left_anti")
    a = df_ok.select(F.col("_id").alias("doc_a"), "fp")
    b = df_ok.select(F.col("_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def duplicate_span_extract(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Cross-document duplicated spans as ACTIONABLE maximal
    intervals — the output shape of Lee et al. 2022's ExactSubstr
    dedup tool (their suffix-array hits become per-position k-gram
    duplicate verdicts; overlapping hit windows then merge into
    maximal spans). ``dup_span_stats`` counts these positions; this
    operator emits the intervals themselves so a cleaning pass can
    cut them (``remove_duplicate_spans``).

    Returns (doc_id, span_start, span_end): half-open TOKEN offsets
    of each maximal run of positions whose k-gram occurs in >= 2
    distinct documents. Deterministic; docs without duplicated spans
    produce no rows.

    Scale shape: identical to dup_span_stats through the verdict
    (two gram-keyed shuffles, the join side pre-aggregated to one row
    per gram), then ONE doc-keyed window pass does the
    gaps-and-islands merge: an island opens where a hit position
    exceeds the running max span-end of everything before it — no
    self-join, no interval cross-product, state bounded per doc.
    """
    toks = _words(text_col)
    grams = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(F.col(id_col).alias("_doc"), toks.alias("_toks"))
        .filter(F.size("_toks") >= k)
        .select("_doc", F.posexplode(_gram_array(F.col("_toks"), k)).alias("_p", "_g"))
    )
    verdict = grams.groupBy("_g").agg(
        (F.count_distinct("_doc") >= 2).alias("_dup")
    )
    hits = grams.join(verdict, "_g").filter(F.col("_dup")).select("_doc", "_p")

    from pyspark.sql import Window

    w = Window.partitionBy("_doc").orderBy("_p")
    prev_max_end = F.max(F.col("_p") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        hits.withColumn(
            "_new",
            F.when(
                prev_max_end.isNull() | (F.col("_p") > prev_max_end), 1
            ).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(w))
    )
    return (
        islands.groupBy("_doc", "_isl")
        .agg(
            F.min("_p").cast("long").alias("span_start"),
            (F.max("_p") + k).cast("long").alias("span_end"),
        )
        .select(F.col("_doc").alias(id_col), "span_start", "span_end")
    )


def remove_duplicate_spans(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The cleaning pass over ``duplicate_span_extract``: rebuild each
    document's text with every cross-document duplicated token span
    cut out (Lee et al. 2022's actual dedup action, not just the
    diagnosis). Documents made of nothing but boilerplate come back
    empty rather than dropped — the caller decides the length gate.

    Covered positions come straight from the duplicate-hit positions
    (each hit p covers [p, p+k) — a k-element sequence explode and a
    distinct), so the token/position anti-join is an EQUI-join; no
    interval non-equi join touches the corpus. The text rebuild is
    one per-doc sort-free aggregate: collect (position, token)
    structs, array_sort (position is the leading struct field), join
    — deterministic under any partitioning.

    Returns (doc_id, clean_text, n_tokens, n_removed).
    """
    toks = _words(text_col)
    base = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(F.col(id_col).alias("_doc"), toks.alias("_toks"))
    )
    positions = base.select(
        "_doc", F.posexplode("_toks").alias("_p", "_tok")
    )
    grams = base.filter(F.size("_toks") >= k).select(
        "_doc", F.posexplode(_gram_array(F.col("_toks"), k)).alias("_p", "_g")
    )
    verdict = grams.groupBy("_g").agg(
        (F.count_distinct("_doc") >= 2).alias("_dup")
    )
    covered = (
        grams.join(verdict, "_g")
        .filter(F.col("_dup"))
        .select(
            "_doc",
            F.explode(F.sequence(F.col("_p"), F.col("_p") + k - 1)).alias("_p"),
        )
        .distinct()
    )
    kept = positions.join(covered, ["_doc", "_p"], "left_anti")
    rebuilt = kept.groupBy("_doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_tok"))),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    totals = base.select("_doc", F.size("_toks").cast("long").alias("n_tokens"))
    return (
        totals.join(rebuilt, "_doc", "left")
        .select(
            F.col("_doc").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def _hash60(value: Column) -> Column:
    """First 60 bits of md5(value) as a non-negative long — the repo's
    shared fingerprint construction (ops/sketches._value_hash et al.),
    here keyed by the caller's already-salted string."""
    return F.conv(F.substring(F.md5(value), 1, 15), 16, 10).cast("long")


def quality_score_hashed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 512,
    seed: str = "qs",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """fastText-style hashing-trick linear text scorer: every token
    hashes to one of ``n_buckets`` weight slots (collisions share a
    weight — the memory/variance trade the hashing trick makes), the
    document score is the sum of its tokens' slot weights, and the
    keep decision is a sign test. The weight table here is
    deterministic pseudo-weights derived from the seed (w in
    [-1000, 1000] milli-units); a production deployment swaps in
    trained weights, either inlined like this when the slot count is
    small or broadcast-joined when it isn't — the scoring shape (and
    this operator's plan) is identical.

    Scale shape: score = one in-row array fold, no explode, no join,
    no shuffle — classifier-gating 100 TB runs at scan speed. All
    arithmetic integer, so results are exact and partition/order
    invariant.

    Returns (id_col, n_tokens, score_sum, keep).
    """

    def w(tok: Column) -> Column:
        bucket = _hash60(F.concat(F.lit(seed + "b|"), tok)) % n_buckets
        return (
            _hash60(F.concat(F.lit(seed + "w|"), bucket.cast("string"))) % 2001
            - 1000
        )

    toks = whitespace_tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.size(toks).cast("long").alias("n_tokens"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + w(t)
        ).alias("score_sum"),
    ).withColumn("keep", (F.col("score_sum") > 0).cast("int"))


def fertility_stats(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source tokenizer fertility / compression report: how many
    sub-word tokens the BPE-ish tokenizer spends per character and how
    many characters a whitespace word costs, per corpus source — the
    standard multilingual-mix health check (a source whose fertility
    spikes is being tokenized badly and will eat budget without
    contributing sequence diversity; cf. the fertility analyses in
    XLM-R / NLLB data work).

    ONE map-side-combined groupBy(source) over per-row counters that
    are already plain Catalyst expressions (`token_count`,
    `bpe_ish_token_count`, `length`); the shuffle carries |sources|
    partial rows. Ratios are exact integer floor-divisions of the
    BIGINT sums (ppm), so the result is partition-order invariant and
    engine-portable. Sources with zero chars/words report NULL ratios.
    """
    t = F.col(text_col)
    agg = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length(t).cast("long")).alias("n_chars"),
        F.sum(token_count(t).cast("long")).alias("n_words"),
        F.sum(bpe_ish_token_count(t).cast("long")).alias("n_bpe_tokens"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_chars",
        "n_words",
        "n_bpe_tokens",
        F.when(
            F.col("n_chars") > 0,
            F.expr("n_bpe_tokens * 1000000L div n_chars"),
        ).alias("bpe_per_char_ppm"),
        F.when(
            F.col("n_words") > 0,
            F.expr("n_chars * 1000000L div n_words"),
        ).alias("chars_per_word_ppm"),
    )


# ---------------------------------------------------------------------------
# cross-source n-gram overlap + per-doc novelty


def _doc_gram_hashes(
    docs: DataFrame, n: int, text_col: str, keep_cols: list[str]
) -> DataFrame:
    """Distinct word-``n``-gram md5 hashes per row, exploded: one row
    per (keep_cols..., gram hash). md5 is computed identically by
    Spark and DuckDB, so overlap COUNTS on hashes equal counts on the
    raw grams in both engines even in the (negligible) collision case
    — both collide the same way. Hashing before the shuffle keeps the
    exchange rows at 32 bytes instead of raw-gram width."""
    from hnormalise_spark.ops.dedup import word_ngrams

    return docs.select(
        *keep_cols, F.explode(word_ngrams(F.col(text_col), n)).alias("_g")
    ).select(*keep_cols, F.md5(F.col("_g")).alias("gram_h"))


def source_ngram_containment(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Pairwise cross-source n-gram containment matrix: for every
    unordered source pair, how much of each side's distinct-gram set
    the other side covers — the corpus-level contamination /
    redundancy report run before mixing crawl snapshots (a snapshot
    whose grams are 90% contained in another is mostly re-crawl).

    Scale shape: the corpus collapses to DISTINCT (source, gram-hash)
    first (one map-side-combined shuffle, output bounded by distinct
    grams, not tokens); the pair join is an equi-join ON THE GRAM HASH
    between frames already deduped per source, so each gram emits at
    most |sources|² pairs, never doc×doc; the final matrix is
    |sources|²-sized. No all-pairs document comparison exists.

    Returns (source_a, source_b, n_common, n_a, n_b,
    contain_a_in_b_x1e6, contain_b_in_a_x1e6), source_a < source_b.
    """
    d = _doc_gram_hashes(
        docs.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")),
        n,
        text_col,
        [group_col],
    ).distinct()
    sizes = d.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_grams"))
    a = d.select(F.col(group_col).alias("source_a"), "gram_h")
    b = d.select(F.col(group_col).alias("source_b"), "gram_h")
    common = (
        a.join(b, "gram_h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(group_col).alias("source_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col(group_col).alias("source_b"), F.col("n_grams").alias("n_b"))
    return (
        common.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.floor(F.col("n_common") * F.lit(1000000.0) / F.col("n_a"))
            .cast("long")
            .alias("contain_a_in_b_x1e6"),
            F.floor(F.col("n_common") * F.lit(1000000.0) / F.col("n_b"))
            .cast("long")
            .alias("contain_b_in_a_x1e6"),
        )
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct word n-grams that occur in NO other document — the
    diversity signal dual to the dup-span family (dup_spans finds
    repeated mass; this scores each doc by how much it alone
    contributes to the corpus).

    Scale shape: distinct (doc, gram-hash) explode, then ONE shuffle
    on the gram hash to count carrying documents (map-side combine
    collapses to distinct grams), then one shuffle back on doc_id for
    the per-doc ratio. The document-frequency frame is gram-distinct
    sized; no pairwise join at all.

    Returns (id, n_grams, n_unique, novelty_x1e6).
    """
    d = _doc_gram_hashes(
        docs.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")),
        n,
        text_col,
        [id_col],
    )
    df_counts = d.groupBy("gram_h").agg(F.count(F.lit(1)).alias("_df"))
    j = d.join(df_counts, "gram_h")
    return (
        j.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
        .select(
            F.col(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_unique").cast("long").alias("n_unique"),
            F.floor(F.col("n_unique") * F.lit(1000000.0) / F.col("n_grams"))
            .cast("long")
            .alias("novelty_x1e6"),
        )
    )


def domain_reweight(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """DoReMi-flavoured one-step domain reweighting (Xie et al. 2023,
    arXiv:2305.10429, the linear/integer form): score every document
    with the corpus-trained unigram LM, aggregate mean NLL per source,
    and assign each source an upweight proportional to its EXCESS loss
    over the token-weighted global mean (zero for at-or-below-average
    sources; uniform fallback when no source is above average). Hard
    domains get more replay — the one-proxy-step skeleton of the
    paper's group-DRO loop, exact-integer so both engines agree
    bit-for-bit.

    Scale shape: inherits ``lm_unigram_score``'s shape (model-sized
    count shuffle + broadcast vocab join); the per-source aggregate is
    one more map-side-combined shuffle to |sources| rows, and all the
    weight arithmetic runs on that tiny frame (scalar total via a
    1-row cross join, never a corpus collect).

    Returns one row per source: (source, n_tok, mean_nll_x1e6,
    excess_x1e6, weight_x1e6).
    """
    scored = lm_unigram_score(docs, text_col=text_col, id_col=id_col)
    src = docs.select(id_col, group_col)
    per_src = (
        scored.join(src, id_col)
        .groupBy(group_col)
        .agg(
            F.sum("n_tok").alias("n_tok"),
            F.sum("sum_nll_x1e6").alias("_sum_nll"),
        )
        .select(
            group_col,
            F.col("n_tok").cast("long").alias("n_tok"),
            "_sum_nll",
            F.floor(F.col("_sum_nll").cast("double") / F.col("n_tok"))
            .cast("long")
            .alias("mean_nll_x1e6"),
        )
    )
    totals = per_src.agg(
        F.sum("_sum_nll").alias("_tot_nll"), F.sum("n_tok").alias("_tot_tok")
    ).select(
        F.floor(F.col("_tot_nll").cast("double") / F.col("_tot_tok"))
        .cast("long")
        .alias("_gmean")
    )
    ex = per_src.crossJoin(F.broadcast(totals)).select(
        group_col,
        "n_tok",
        "mean_nll_x1e6",
        F.greatest(F.col("mean_nll_x1e6") - F.col("_gmean"), F.lit(0))
        .cast("long")
        .alias("excess_x1e6"),
    )
    sums = ex.agg(
        F.sum("excess_x1e6").alias("_sum_ex"),
        F.count(F.lit(1)).alias("_n_src"),
    )
    return ex.crossJoin(F.broadcast(sums)).select(
        group_col,
        "n_tok",
        "mean_nll_x1e6",
        "excess_x1e6",
        F.when(
            F.col("_sum_ex") > 0,
            F.floor(
                F.col("excess_x1e6") * F.lit(1000000.0) / F.col("_sum_ex")
            ).cast("long"),
        )
        .otherwise(
            F.floor(F.lit(1000000.0) / F.col("_n_src")).cast("long")
        )
        .alias("weight_x1e6"),
    )


# ---------------------------------------------------------------------------
# corpus data card


def data_card(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    lang_col: str = "lang",
    chars_col: str = "n_chars",
    ps: tuple[float, ...] = (0.50, 0.90, 0.99),
) -> DataFrame:
    """One-page corpus data card — the summary a training-data team
    publishes with a release (Datasheets for Datasets, Gebru et al.
    2021; the quantitative half of a model card's data section):
    global totals (docs, chars, whitespace tokens, distinct sources /
    languages, exact-duplicate docs under ``normalized_text`` md5 —
    the same fingerprint ``exact_dedup`` keys on), per-source and
    per-language doc counts, and EXACT length percentiles.

    Long format (section, metric, value) so one frame carries the
    whole card and downstream diffing between corpus versions is a
    single anti-join.

    Scale shape, pass by pass:
    - global totals: ONE aggregate over the corpus; the three
      count-distincts share a single Expand pass (4x rows through one
      shuffle — the same shape the ``distinct_counts`` profile query
      pins), never one job per metric.
    - per-source / per-language: one groupBy each on a low-cardinality
      key — map-side partial combine does almost all the work.
    - length percentiles: the corpus collapses to a VALUE HISTOGRAM
      (groupBy on ``chars_col``, cardinality bounded by max doc
      length, not corpus size) and the rank selection runs as a
      cumulative window over that tiny frame — the same observed-value
      rank definition as ``doclen_stats`` (value at 0-based rank
      floor((n-1)*p) of the ascending sort), exact on every engine,
      with the single-partition window paid only on the histogram.

    Null-text rows count toward docs/sources/langs but contribute 0
    tokens and a NULL fingerprint (count(DISTINCT) skips NULLs, so an
    all-null corpus reports 0 dup docs, matching SQL).
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col),
        F.col(source_col).alias("_src"),
        F.col(lang_col).alias("_lang"),
        F.col(chars_col).cast("long").alias("_chars"),
        token_count(F.col(text_col)).cast("long").alias("_words"),
        F.md5(
            F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
        ).alias("_fp"),
    )

    g = base.agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum("_chars").cast("long").alias("chars"),
        F.sum("_words").cast("long").alias("words"),
        F.countDistinct("_src").cast("long").alias("sources"),
        F.countDistinct("_lang").cast("long").alias("langs"),
        (F.count(F.lit(1)) - F.countDistinct("_fp"))
        .cast("long")
        .alias("dup_docs"),
    )
    global_rows = g.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit("global").alias("section"),
                        F.lit(m).alias("metric"),
                        F.col(m).alias("value"),
                    )
                    for m in (
                        "docs",
                        "chars",
                        "words",
                        "sources",
                        "langs",
                        "dup_docs",
                    )
                ]
            )
        ).alias("r")
    ).select("r.section", "r.metric", "r.value")

    src_rows = base.groupBy(F.col("_src").alias("metric")).agg(
        F.count(F.lit(1)).cast("long").alias("value")
    ).select(F.lit("source_docs").alias("section"), "metric", "value")
    lang_rows = base.groupBy(F.col("_lang").alias("metric")).agg(
        F.count(F.lit(1)).cast("long").alias("value")
    ).select(F.lit("lang_docs").alias("section"), "metric", "value")

    hist = base.filter(F.col("_chars").isNotNull()).groupBy(
        F.col("_chars").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = hist.agg(F.sum("c").alias("n"))
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).crossJoin(F.broadcast(tot))
    pct_rows = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cum")
                    >= F.floor((F.col("n") - 1) * F.lit(float(p))) + 1,
                    F.col("v"),
                )
            )
            .cast("long")
            .alias(f"p{int(round(p * 100)):02d}_chars")
            for p in ps
        ]
    )
    pct_long = pct_rows.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit("len_pct").alias("section"),
                        F.lit(f"p{int(round(p * 100)):02d}_chars").alias(
                            "metric"
                        ),
                        F.col(f"p{int(round(p * 100)):02d}_chars").alias(
                            "value"
                        ),
                    )
                    for p in ps
                ]
            )
        ).alias("r")
    ).select("r.section", "r.metric", "r.value")

    return (
        global_rows.unionByName(src_rows)
        .unionByName(lang_rows)
        .unionByName(pct_long)
    )


def card_diff(card_a: DataFrame, card_b: DataFrame) -> DataFrame:
    """Diff two ``data_card`` frames (corpus version A → version B):
    full-outer join on (section, metric) so metrics that appear only
    in one version (a source dropped by curation, a new language)
    still surface, with the missing side reported as NULL and the
    delta computed against 0. This is the release-gate check a
    training-data team runs before swapping corpus versions — "what
    exactly changed, and by how much?".

    Scale shape: cards are metric-count-sized (tens of rows), so the
    join is trivially broadcast; all the heavy lifting happened inside
    the two ``data_card`` calls.
    """
    a = card_a.select(
        "section", "metric", F.col("value").alias("value_a")
    )
    b = card_b.select(
        "section", "metric", F.col("value").alias("value_b")
    )
    return a.join(b, ["section", "metric"], "full_outer").select(
        "section",
        "metric",
        "value_a",
        "value_b",
        (
            F.coalesce(F.col("value_b"), F.lit(0))
            - F.coalesce(F.col("value_a"), F.lit(0))
        )
        .cast("long")
        .alias("delta"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 40,
) -> DataFrame:
    """PMI collocation mining over adjacent word pairs — the phrase-
    detection pass of Mikolov et al. 2013 (arXiv:1310.4546 §4) that
    vocabulary construction runs before BPE so "new_york"-style units
    survive tokenization: rank pairs by
    PMI = ln(P(w1,w2) / (P(w1)·P(w2))), keep the top-k above a
    pair-count floor (the floor is Mikolov's discounting — rare pairs
    have inflated PMI by construction).

    Cross-engine determinism (the ``source_token_kl`` discipline):
    counts are exact ints; each pair's
    ln((c12·T_uni·T_uni) / (T_big·c1·c2)) is evaluated in double with
    ONE fixed left-associative operation order, scaled to micro-nats,
    and half-up floored to integer — so partitioning cannot move a
    score and a DuckDB oracle replays it bit-for-bit. The top-k order
    (pmi desc, w1, w2) is total because (w1, w2) is unique.

    Scale shape: TWO corpus-sized shuffles — the unigram and the
    bigram count aggregates, both fed by explodes that fuse straight
    into hash aggregates with map-side partial combine, so the wire
    carries vocab-/pair-vocab-bounded partials per task, not tokens.
    The count floor prunes the bigram table BEFORE the joins (but
    after T_big, which must cover ALL pairs); unigram counts and the
    two scalar totals broadcast onto it (vocab-bounded, the
    ``lm_bigram_over`` call); the final top-k is a
    TakeOrderedAndProject, never a global sort.
    """
    ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != F.lit(""))
    base = df.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    ).select(ws.alias("_ws"))

    uni = (
        base.select(F.explode("_ws").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    tot = uni.agg(F.sum("c1").alias("t_uni"))

    n = F.size("_ws")
    pairs = (
        base.filter(n >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.struct(
                        F.element_at("_ws", i).alias("w1"),
                        F.element_at("_ws", i + 1).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    btot = big.agg(F.sum("c12").alias("t_big"))

    u1 = uni.select(F.col("word").alias("w1"), F.col("c1").alias("_c1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c1").alias("_c2"))
    pmi = (
        F.floor(
            F.log(
                (
                    F.col("c12").cast("double")
                    * F.col("t_uni").cast("double")
                    * F.col("t_uni").cast("double")
                )
                / (
                    F.col("t_big").cast("double")
                    * F.col("_c1").cast("double")
                    * F.col("_c2").cast("double")
                )
            )
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        )
        .cast("long")
    )
    return (
        big.filter(F.col("c12") >= int(min_count))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("pair_count"),
            pmi.alias("pmi_x1e6"),
        )
        .orderBy(F.col("pmi_x1e6").desc(), "w1", "w2")
        .limit(int(k))
    )


def blocklist_hits(terms: list[str], text_col: str = "text") -> Column:
    """Array of blocklist-term occurrences in ``text_col`` (exact
    whitespace words, null/empty text → empty array) — the reusable
    per-row expression behind ``blocklist_filter``'s small-list path,
    exposed so composed pipelines can GATE on it without the op's
    report columns (``F.size(blocklist_hits(...)) == 0`` is a
    zero-shuffle keep predicate)."""
    uniq = sorted(set(terms))
    lit_terms = F.array(*[F.lit(t) for t in uniq])
    ws = F.coalesce(
        F.filter(F.split(F.col(text_col), " "), lambda w: w != F.lit("")),
        F.array().cast("array<string>"),
    )
    return F.filter(ws, lambda w: F.array_contains(lit_terms, w))


def blocklist_filter(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    join_threshold: int = 10_000,
) -> DataFrame:
    """Blocklist filtering — the C4 "bad words" / RefinedWeb URL-and-
    term blocklist stage (Raffel et al. 2020 §2.2): flag every document
    containing any blocklist term as a whitespace-delimited word, with
    the total occurrence count and the sorted distinct terms that hit.
    Returns ONE row per input row (totality — null/empty text included,
    keep=true), so the caller chooses drop vs route-to-quarantine.

    Output: (id_col, keep boolean, n_hits long, hit_terms string —
    comma-joined sorted distinct, NULL when clean).

    Scale shape — two paths on |terms|:

    * small list (C4's actual regime, hundreds of terms): per-row JVM
      expression over the split array against a literal term array —
      ZERO shuffles, embarrassingly parallel, fuses into the parquet
      scan with only (id, text) read. Membership is O(|terms|) per
      token, which is exactly why this path is capped.
    * large list (> join_threshold): explode words, broadcast-hash
      SEMI-style inner join against the term table (the join prunes
      the token stream to hit tokens BEFORE the per-doc aggregate, so
      the shuffle carries hit tokens only — typically ≪ corpus), then
      a doc-id join back for totality; AQE broadcasts the hit side
      when it is small. This is the only shape that survives a
      million-term blocklist, where a literal array cannot ship.

    Both paths produce identical rows (pinned by tests).
    """
    uniq = sorted(set(terms))
    ws = F.coalesce(
        F.filter(F.split(F.col(text_col), " "), lambda w: w != F.lit("")),
        F.array().cast("array<string>"),
    )

    if len(uniq) <= int(join_threshold):
        hits_arr = blocklist_hits(uniq, text_col=text_col)
        n_hits = F.size(hits_arr).cast("long")
        hit_terms = F.when(
            n_hits > 0,
            F.concat_ws(",", F.array_sort(F.array_distinct(hits_arr))),
        )
        return df.select(
            id_col,
            (n_hits == 0).alias("keep"),
            n_hits.alias("n_hits"),
            hit_terms.alias("hit_terms"),
        )

    tdf = df.sparkSession.createDataFrame([(t,) for t in uniq], "word string")
    words = df.select(id_col, F.explode(ws).alias("word"))
    agg = (
        words.join(F.broadcast(tdf), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.concat_ws(",", F.array_sort(F.collect_set("word"))).alias(
                "hit_terms"
            ),
        )
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.col("n_hits").isNull().alias("keep"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            "hit_terms",
        )
    )


HEAPS_LADDER = [2 ** k for k in range(4, 21)]  # 16 .. 1,048,576


def heaps_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    thresholds: list[int] | None = None,
) -> DataFrame:
    """Heaps'-law vocabulary growth curve + exponent fit — the corpus
    health metric beside ``token_zipf_fit``'s Zipf slope: sample the
    corpus at id thresholds t (docs with id < t, i.e. the first t docs
    of a densely-id'd corpus), report cumulative token and DISTINCT-
    word counts at each point, and least-squares-fit
    ``ln V ≈ ln K + beta·ln T`` over the (tokens_cum, vocab_cum)
    points. Natural text sits near beta ≈ 0.4-0.6; a templated or
    collapsed corpus drifts toward 0 (vocab saturates), synthetic id
    soup toward 1. Returns one row per sample point
    ``(n_docs_lt, tokens_cum, vocab_cum, beta_x1e6)`` — beta repeated
    on every row so the curve and the fit travel together.

    Sample points come from a power-of-two ladder kept while
    ``t <= 2·max_id`` — at most ONE saturated (full-corpus) point, so
    duplicate tail points cannot flatten the fit. Zero points are
    dropped (ln 0).

    Cross-engine determinism (the token_zipf discipline): ln values
    round to integer micro-units FIRST, moment sums are exact
    decimals, only the final slope ratio passes through double.

    Scale shape: corpus-sized work is ONE explode feeding the
    word→min(id) first-occurrence aggregate (map-side combinable,
    vocab-bounded output) plus a map-side per-doc token count whose
    aggregate is ladder-bounded (each doc folds into its bracket —
    the smallest ladder point above its id — via a literal-array
    expression, so NO per-threshold rescan). Everything after runs on
    ≤ len(ladder) rows: the bracket→threshold fan-out is a broadcast
    inequality join of two ~20-row tables and the fit is one
    aggregate over them.
    """
    ths = sorted(set(int(t) for t in (thresholds or HEAPS_LADDER)))
    ladder = F.array(*[F.lit(t) for t in ths])

    def bracket(idc: Column) -> Column:
        # smallest ladder point strictly above the id (null if beyond)
        return F.array_min(F.filter(ladder, lambda t: t > idc))

    ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != F.lit(""))
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"), ws.alias("_ws")
    )

    tok_b = (
        base.select(bracket(F.col("_id")).alias("_b"), F.size("_ws").alias("_n"))
        .filter(F.col("_b").isNotNull())
        .groupBy("_b")
        .agg(F.sum("_n").cast("long").alias("_tok"))
    )
    voc_b = (
        base.select(F.col("_id"), F.explode("_ws").alias("_w"))
        .groupBy("_w")
        .agg(F.min("_id").alias("_fd"))
        .select(bracket(F.col("_fd")).alias("_b"))
        .filter(F.col("_b").isNotNull())
        .groupBy("_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_voc"))
    )

    mx = base.agg(F.max("_id").alias("_mx"))
    spark = df.sparkSession
    th = (
        spark.createDataFrame([(t,) for t in ths], "t long")
        .crossJoin(F.broadcast(mx))
        .filter(F.col("t") <= 2 * F.col("_mx"))
        .select("t")
    )
    curve = (
        th.join(F.broadcast(tok_b), tok_b["_b"] <= F.col("t"), "left")
        .groupBy("t")
        .agg(F.coalesce(F.sum("_tok"), F.lit(0)).alias("tokens_cum"))
        .join(
            th.join(F.broadcast(voc_b), voc_b["_b"] <= F.col("t"), "left")
            .groupBy("t")
            .agg(F.coalesce(F.sum("_voc"), F.lit(0)).alias("vocab_cum")),
            "t",
        )
        .filter((F.col("tokens_cum") > 0) & (F.col("vocab_cum") > 0))
    )

    m = curve.select(
        F.floor(F.log(F.col("tokens_cum").cast("double")) * 1e6 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("_x"),
        F.floor(F.log(F.col("vocab_cum").cast("double")) * 1e6 + F.lit(0.5))
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
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    fit = s.select(
        F.when(
            den > 0,
            F.floor(
                num.cast("double") / den.cast("double") * 1e6 + F.lit(0.5)
            ).cast("long"),
        ).alias("beta_x1e6")
    )
    return curve.crossJoin(F.broadcast(fit)).select(
        F.col("t").cast("long").alias("n_docs_lt"),
        F.col("tokens_cum").cast("long").alias("tokens_cum"),
        F.col("vocab_cum").cast("long").alias("vocab_cum"),
        "beta_x1e6",
    )


def lang_confusion(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Language-ID confusion matrix: declared language label vs the
    stopword-marker detector (``lang_id``), one row per
    (declared, predicted) cell with the doc count and the cell's
    integer-ppm share of its declared language — the standard QA
    artifact for a multilingual corpus's metadata (a strong diagonal
    means labels and content agree; a hot und column means the
    detector lacks evidence; off-diagonal mass means mislabeled or
    code-mixed docs feeding the wrong per-language pipelines).

    Scale shape: the detector is a per-row JVM regexp expression, so
    the only corpus-sized work is the scan; the aggregate is map-side
    combinable onto ≤ |langs|² cells and the share window runs on
    that cell-bounded table, not the corpus.
    """
    cells = (
        df.select(
            F.coalesce(F.col(lang_col), F.lit("und")).alias("lang_declared"),
            lang_id(F.col(text_col)).alias("lang_pred"),
        )
        .groupBy("lang_declared", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    from pyspark.sql import Window

    tot = F.sum("n_docs").over(Window.partitionBy("lang_declared"))
    return cells.select(
        "lang_declared",
        "lang_pred",
        "n_docs",
        F.floor(
            F.col("n_docs").cast("double") / tot.cast("double") * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("share_ppm"),
    )


def distinct_ngrams(
    df: DataFrame,
    n: int = 2,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Distinct-n diversity per group (Li et al. 2016's distinct-1/2
    applied corpus-side): for each group, the total number of word
    n-grams, the number of DISTINCT n-grams, and their ratio in
    integer ppm — low distinct-n flags templated/repetitive sources
    that repetition filters score doc-by-doc but never aggregate.
    Complements ``ngram_novelty`` (per-doc novelty vs other docs) and
    ``source_ngram_containment`` (cross-source sharing): this is
    WITHIN-group diversity.

    Scale shape: one explode feeding a two-level aggregate — map-side
    partial combine onto (group, gram) counts (the only corpus-sized
    shuffle, keyed by group+gram so no single-group hot partition),
    then a group-bounded re-aggregate. The ppm ratio divides two
    exact longs once, half-up floored — engine-portable.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != F.lit(""))
    grams = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(group_col).alias("_g"), ws.alias("_ws"))
        .filter(F.size("_ws") >= n)
        .select(
            "_g",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_ws") - (n - 1)),
                    lambda i: F.concat_ws(
                        " ",
                        *[F.element_at("_ws", i + k) for k in range(n)],
                    ),
                )
            ).alias("_gram"),
        )
    )
    per_gram = grams.groupBy("_g", "_gram").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return (
        per_gram.groupBy("_g")
        .agg(
            F.sum("_c").cast("long").alias("n_grams_total"),
            F.count(F.lit(1)).cast("long").alias("n_grams_distinct"),
        )
        .select(
            F.col("_g").alias(group_col),
            "n_grams_total",
            "n_grams_distinct",
            F.floor(
                F.col("n_grams_distinct").cast("double")
                / F.col("n_grams_total").cast("double")
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("distinct_ppm"),
        )
    )


def cross_domain_nll(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Cross-domain NLL matrix — the domain-similarity table behind
    transfer-aware data selection (Ruder & Plank 2017-style model
    selection; the pairwise generalization of ``domain_reweight``'s
    shared-LM excess): score each source's text under EVERY source's
    add-one-smoothed unigram LM and report the mean NLL per
    (scored, model) pair. Smoothing uses the GLOBAL vocabulary size so
    out-of-domain words are defined under every model:
    p_B(w) = (c_B(w)+1) / (T_B + V_global). The diagonal is each
    domain's self-perplexity; a row's off-diagonal minima are its
    nearest domains — the transfer candidates.

    Cross-engine determinism (the lm_unigram_score discipline): each
    (model, word) NLL rounds to integer micro-nats FIRST; the
    per-pair sums are exact integer ``count × nll`` products; only
    the final mean division passes through double.

    Scale shape: ONE corpus-sized shuffle — the explode into
    map-side-combined (source, word) counts, output bounded by
    |sources|·|vocab|. The scoring grid (a-counts × sources,
    left-joined against b-models) and every total live on that
    model-sized table; the corpus is never touched again, so an S×S
    matrix costs the same scan as one LM fit.

    Returns (source_scored, source_model, n_tok, mean_nll_x1e6).
    """
    toks = _words(text_col)
    base = df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(group_col).alias("_g"), toks.alias("_toks"))

    counts = (
        base.select("_g", F.explode("_toks").alias("_w"))
        .groupBy("_g", "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    vglob = counts.select("_w").distinct().agg(
        F.count(F.lit(1)).alias("_V")
    )
    totals = counts.groupBy("_g").agg(F.sum("_c").alias("_T"))

    model = counts.select(
        F.col("_g").alias("_b"), "_w", F.col("_c").alias("_cb")
    )
    grid = (
        counts.select(F.col("_g").alias("_a"), "_w", F.col("_c").alias("_ca"))
        .crossJoin(
            F.broadcast(totals.select(F.col("_g").alias("_b"), "_T"))
        )
        .join(F.broadcast(model), ["_b", "_w"], "left")
        .crossJoin(F.broadcast(vglob))
    )
    nll = F.floor(
        -F.log(
            (F.coalesce(F.col("_cb"), F.lit(0)) + F.lit(1.0))
            / (F.col("_T") + F.col("_V"))
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    return (
        grid.select(
            "_a",
            "_b",
            (F.col("_ca").cast("decimal(38,0)") * nll).alias("_prod"),
            F.col("_ca").alias("_ca"),
        )
        .groupBy("_a", "_b")
        .agg(
            F.sum("_ca").cast("long").alias("n_tok"),
            F.sum("_prod").alias("_sum"),
        )
        .select(
            F.col("_a").alias("source_scored"),
            F.col("_b").alias("source_model"),
            "n_tok",
            F.floor(F.col("_sum").cast("double") / F.col("n_tok"))
            .cast("long")
            .alias("mean_nll_x1e6"),
        )
    )


def quality_percentiles(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group quality-score calibration: each document's EXACT
    percentile (cume_dist, integer ppm) of its quality score WITHIN
    its own group — the normalization step before any cross-source
    quality threshold, because raw heuristic scores are not
    comparable across domains (code scores low on alpha-ratio that
    would be garbage-level for prose). Filtering "bottom 10% PER
    SOURCE" via ``pct_ppm <= 100000`` removes each domain's worst
    rather than everything from the lowest-scoring domain.

    Ties share a percentile (cume_dist, not row-number rank), so the
    result is deterministic with NO id tiebreak in the ordering —
    engine-portable by the SQL-standard definition. Null-text docs
    are excluded (their score is undefined; engines also disagree on
    default NULL sort order, so excluding is the portable totality
    boundary — route them through a keep flag upstream if needed).

    Scale shape: ONE window keyed by the group — the honest cost of
    EXACT percentiles is a per-group sort, so a single giant group
    serializes onto one task's sort (spill-backed). At that scale use
    the mergeable ``histogram sketch`` path (``sketch_quantiles`` /
    ``length_trim``'s band machinery) for bin-granular percentiles
    with map-side combine instead; this op is the exact form the
    sketch is an approximation of.
    """
    from pyspark.sql import Window

    q = F.floor(quality_score(F.col(text_col)) * F.lit(10000.0) + F.lit(0.5)).cast(
        "long"
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.col(group_col),
        q.alias("quality_x1e4"),
    )
    w = Window.partitionBy(group_col).orderBy("quality_x1e4")
    return base.select(
        id_col,
        group_col,
        "quality_x1e4",
        F.floor(F.cume_dist().over(w) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("pct_ppm"),
    )


def exemplar_docs(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_width: int = 100,
    snippet_len: int = 40,
) -> DataFrame:
    """Deterministic "representative examples" extraction — the
    examples section of a data card (Datasheets for Datasets §3.2
    asks for them; ``data_card`` reports the numbers, this picks the
    docs): per (group, length bucket), the document with the MINIMUM
    md5(id) — a fixed unbiased-within-bucket choice that every
    engine, run, and partitioning reproduces, unlike "first row" or
    RAND(). One row per non-empty (group, bucket) with the chosen
    doc's id, length, and a leading snippet.

    Scale shape: the argmin is a map-side-combinable STRUCT-MIN
    aggregate keyed (group, bucket) — the ``canonical_by_quality``
    trick, never a per-group sort or window — so the shuffle carries
    one candidate struct per group-bucket per task. The snippet rides
    inside the struct; full text never survives the aggregate.
    """
    base = df.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    ).select(
        F.col(group_col).alias("_g"),
        F.floor((F.length(text_col) - 1) / int(bucket_width))
        .cast("long")
        .alias("_b"),
        F.struct(
            F.md5(F.col(id_col).cast("string")).alias("h"),
            F.col(id_col).cast("long").alias("id"),
            F.length(text_col).cast("long").alias("n_chars"),
            F.substring(F.col(text_col), 1, int(snippet_len)).alias("snip"),
        ).alias("_cand"),
    )
    return (
        base.groupBy("_g", "_b")
        .agg(F.min("_cand").alias("_w"))
        .select(
            F.col("_g").alias(group_col),
            F.col("_b").alias("len_bucket"),
            F.col("_w.id").alias(id_col),
            F.col("_w.n_chars").alias("n_chars"),
            F.col("_w.snip").alias("snippet"),
        )
    )


def classifier_roc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    truth_x1e4: int = 5000,
    thresholds: list[int] | None = None,
    n_buckets: int = 512,
    seed: str = "qs",
) -> DataFrame:
    """Threshold-sweep eval of the hashing-trick classifier against
    the heuristic quality gate — the audit a pipeline runs BEFORE
    swapping the expensive gold scorer for the fast one: treating
    ``quality_score >= truth_x1e4`` as truth, report the confusion
    counts and TPR/FPR/precision (integer ppm) at each classifier
    score threshold. One row per threshold; plot it and you have the
    ROC curve, pick the knee and you have the deployment threshold.

    Scale shape: ONE corpus scan — both scores are in-row folds —
    into a single map-side-combinable aggregate of |thresholds| x 2
    conditional sums; the per-threshold rows come from unpivoting the
    aggregated struct array, never from replicating the corpus
    against the threshold list. ppm divisions run on the aggregated
    integers (0 when the denominator is 0).
    """
    if thresholds is None:
        thresholds = list(range(-2000, 2001, 400))
    # both scores are row-local folds over the same text column —
    # compute them in ONE select (the truth rides through
    # quality_score_hashed's extra_cols), so the documented one-scan
    # shape is literal: no second corpus scan, no doc_id shuffle join
    base = df.filter(F.col(text_col).isNotNull()).withColumn(
        "_truth",
        F.floor(quality_score(F.col(text_col)) * F.lit(10000.0) + F.lit(0.5))
        >= int(truth_x1e4),
    )
    scored = quality_score_hashed(
        base,
        text_col=text_col,
        id_col=id_col,
        n_buckets=n_buckets,
        seed=seed,
        extra_cols=("_truth",),
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(F.when(F.col("_truth"), 1).otherwise(0)).cast("long")
            .alias("_pos")]
    for i, t in enumerate(thresholds):
        pred = F.col("score_sum") >= int(t)
        aggs.append(
            F.sum(F.when(pred, 1).otherwise(0)).cast("long").alias(f"_p{i}")
        )
        aggs.append(
            F.sum(F.when(pred & F.col("_truth"), 1).otherwise(0))
            .cast("long")
            .alias(f"_tp{i}")
        )
    g = scored.agg(*aggs)
    rows = g.select(
        "_n",
        "_pos",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(t)).cast("long").alias("thr"),
                        F.col(f"_p{i}").alias("n_pred_pos"),
                        F.col(f"_tp{i}").alias("tp"),
                    )
                    for i, t in enumerate(thresholds)
                ]
            )
        ).alias("_i", "_s"),
    )
    ppm = lambda num, den: F.when(  # noqa: E731
        den > 0, F.floor(num / den * F.lit(1e6) + F.lit(0.5))
    ).otherwise(F.lit(0)).cast("long")
    return rows.select(
        F.col("_s.thr").alias("thr"),
        F.col("_s.n_pred_pos").alias("n_pred_pos"),
        F.col("_s.tp").alias("tp"),
        (F.col("_s.n_pred_pos") - F.col("_s.tp")).alias("fp"),
        ppm(F.col("_s.tp"), F.col("_pos")).alias("tpr_ppm"),
        ppm(
            F.col("_s.n_pred_pos") - F.col("_s.tp"),
            F.col("_n") - F.col("_pos"),
        ).alias("fpr_ppm"),
        ppm(F.col("_s.tp"), F.col("_s.n_pred_pos")).alias("prec_ppm"),
    )
