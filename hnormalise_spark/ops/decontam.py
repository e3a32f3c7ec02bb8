"""Benchmark decontamination: flag training documents that share any
word n-gram with an evaluation/benchmark set.

The standard pre-training hygiene step (publicly described for GPT-3,
The Pile, and most open corpora): build the set of n-grams appearing
in the eval benchmarks, then drop or flag any training document that
contains one. Reference has no analogue — this is part of the
LLM-pipeline extension suite (SURVEY §2.7).

Scale shape (100 TB corpus, ~10^6-10^8 eval n-grams):

* the eval n-gram set is tiny next to the corpus → **broadcast** it;
  the corpus side explodes to (doc_id, gram_hash) and inner-joins the
  broadcast set with NO shuffle of corpus data;
* contamination is rare by construction, so the post-join hit stream
  is small; the per-doc hit count is a groupBy over hits only, and the
  final doc ← hits attachment broadcasts the aggregated hit table —
  zero wide shuffles end to end;
* n-gram hashes are md5-truncated (engine-portable) and de-duplicated
  per document BEFORE the join so a pathological repeated-gram doc
  cannot skew the join.

Tested by the `decontaminate` driver oracle (DuckDB recomputes the
same grams/hashes) and tests/test_round4_ops.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_ngram_hashes(text: Column, n: int) -> Column:
    """Array of md5 hashes of the distinct word ``n``-grams of
    ``text`` (whitespace tokenization, gap-normalised). Empty array
    when the text has fewer than ``n`` words."""
    words = F.split(F.trim(text), r"\s+")
    k = F.size(words) - F.lit(n - 1)
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.md5(F.concat_ws(" ", F.slice(words, i, n))))
    )


def eval_ngram_hashes(df_eval: DataFrame, text_col: str, n: int) -> DataFrame:
    """Distinct n-gram hash set of the evaluation corpus — one column
    ``gram``. Small by construction; callers broadcast it."""
    return (
        df_eval.select(
            F.explode(word_ngram_hashes(F.col(text_col), n)).alias("gram")
        )
        .distinct()
    )


def decontaminate(
    df: DataFrame,
    eval_grams: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Annotate every document with ``n_eval_hits`` (distinct eval
    n-grams it contains) and ``contaminated`` (1 iff any hit).

    Plan: corpus explode → inner join **broadcast(eval_grams)** →
    count hits per key → left-join hits back as a broadcast (hits are
    rare). The corpus is never shuffled."""
    return decontaminate_on(df, eval_grams, word_ngram_hashes(F.col(text_col), n), key_col)


def decontaminate_on(
    df: DataFrame, eval_grams: DataFrame, grams: Column, key_col: str = "doc_id"
) -> DataFrame:
    """The shared body of ``decontaminate`` and
    ``tokenops.token_decontaminate``: ``grams`` is each row's array of
    distinct n-gram hashes, matched against ``eval_grams.gram``."""
    pairs = df.select(F.col(key_col), F.explode(grams).alias("gram"))
    hits = (
        pairs.join(F.broadcast(eval_grams.select("gram")), "gram", "inner")
        .groupBy(key_col)
        .agg(F.count_distinct("gram").alias("n_eval_hits"))
    )
    return (
        df.join(F.broadcast(hits), key_col, "left")
        .withColumn("n_eval_hits", F.coalesce(F.col("n_eval_hits"), F.lit(0)))
        .withColumn(
            "contaminated", (F.col("n_eval_hits") > 0).cast("int")
        )
    )


def semantic_decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination: flag every corpus vector whose
    cosine to ANY eval-set vector reaches ``tau`` — the semantic
    complement of the n-gram path above, catching paraphrased or
    re-tokenized benchmark leakage that shares no literal 8-gram
    (the overlap class studied in Yang et al. 2023, arXiv:2311.04850).

    Scale shape: the eval side is small by definition → **broadcast**
    nested-loop against it; per-pair cosine is the shared Catalyst
    ``similarity.cosine`` fold (JVM, no Python); the ONLY shuffle is
    the per-corpus-vector rollup, which map-side combines to exactly
    one row per input vector — corpus embeddings cross the wire once,
    as (id, count, max) triples, never as raw pairs. ``eval_df`` must
    be non-empty (an empty eval set has nothing to leak).

    Returns (id, n_sem_hits, max_cos_x1e6, contaminated): hit count at
    ``tau``, the best eval match in 1e-6 fixed point (NULL for a
    zero vector, whose cosine is undefined), and the 0/1 flag.
    """
    from hnormalise_spark.ops.similarity import cosine

    ev = eval_df.select(F.col(eval_vec_col).alias("_ev_vec"))
    pairs = df.select(F.col(id_col), F.col(vec_col)).join(F.broadcast(ev))
    cos = cosine(F.col(vec_col), F.col("_ev_vec"))
    scored = pairs.select(
        F.col(id_col),
        F.when(cos >= F.lit(float(tau)), F.lit(1)).otherwise(F.lit(0)).alias("_hit"),
        F.floor(cos * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("_cos_x1e6"),
    )
    return scored.groupBy(id_col).agg(
        F.sum("_hit").cast("long").alias("n_sem_hits"),
        F.max("_cos_x1e6").alias("max_cos_x1e6"),
    ).withColumn("contaminated", (F.col("n_sem_hits") > 0).cast("int"))
