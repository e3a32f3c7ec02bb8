"""Deterministic cardinality / overlap sketches (k-mins).

The bottom-k family (KMV, k-mins, HLL) is the standard answer to
"distinct users per key over 100 TB": a tiny per-group summary that
estimates cardinality with bounded relative error and is built by an
associative aggregate, so per-partition partials combine map-side and
raw data is touched exactly once.

This module implements the k-mins variant because every step stays
inside integer JVM expressions and is re-derivable by an independent
SQL engine (the repo's DuckDB oracle gate):

- Each value is pushed through ``k`` independent uniform hashes
  (md5 of ``value || '|' || i``, first 60 bits, like every other
  fingerprint in this repo — see ops/sampling.key_hash_unit).
- Per group, keep the MIN of each of the k hash streams: a k-vector
  of 60-bit integers. ``min`` is associative/commutative/idempotent,
  hence insensitive to partitioning, input order, and
  duplicates (dedup is free — the same value always hashes the same).
- Cardinality: for n distinct values, each scaled min is ~Beta(1, n),
  E[u_min] = 1/(n+1), so the MLE over k independent minimums is
  ``n_hat = k / sum(u_min_i) - 1`` with RSE ~ 1/sqrt(k).
- Jaccard: P(min_a[i] == min_b[i]) = |A∩B| / |A∪B| EXACTLY (the
  minimum over A∪B lands in both sketches iff its argmin element is
  shared), so the match fraction estimates Jaccard — the same
  identity MinHash dedup uses (ops/dedup.py), here applied to
  GROUP-level set overlap (e.g. audience overlap between event
  types) instead of document shingles.

Scale shape: the build is one posexplode (rows × k, all map-side)
into a (group, i) min-aggregate — partial min per partition bounds
the shuffle at n_partitions × n_groups × k rows regardless of input
size; the sketch itself is n_groups × k rows of BIGINT. Estimates
and pairwise Jaccard run on the sketch only. Per-row hashing is ONE
md5 (the 28-bit base) + k Carter-Wegman multiply-mods — the same
stream family and constants as the MinHash dedup path; a 100-TB
deployment whose groups hold >~10^7 distinct values swaps the base
for ``xxhash64`` with modulus 2^61-1 (same estimator, no other
change; the 28-bit/2^31-1 instantiation is what the DuckDB oracle
replays bit-for-bit).

All cross-row arithmetic is integer (BIGINT mins, DECIMAL(38,0)
sums) so results are bit-identical under any partitioning; the one
double division per estimate happens once per group on
exactly-convertible operands (k * p * SCALE < 2^53, so exact in a
double; the sum converts to the nearest double identically in any
IEEE-754 engine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# estimates are published as integers scaled by 1e3 (cardinality) /
# 1e6 (Jaccard) so the oracle compares BIGINTs, never raw doubles
EST_SCALE = 1000
JACCARD_SCALE = 1_000_000


def _value_hash(value: Column, i: Column) -> Column:
    """60-bit uniform hash #i of ``value``: first 15 hex digits of
    md5(value || '|' || i) as a non-negative long. Same construction
    as sampling.key_hash_unit so the DuckDB oracle reproduces it
    bit-for-bit. (Kept for the count-min rows, where depth is ~4;
    the k-mins build below uses the Carter-Wegman construction —
    ONE md5 — because its k is ~128.)"""
    return F.conv(
        F.substring(
            F.md5(F.concat(value.cast("string"), F.lit("|"), i.cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def kmin_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 128,
) -> DataFrame:
    """Build per-group k-mins sketches: one row per (group, i) with
    the minimum of hash stream i over the group's values.

    Returned shape: group_cols + (i int, min_hash long) — the "rows"
    representation rather than an array column, because it is the
    natural input to joins and the oracle, and Spark's partial aggregation already compacts it
    map-side.
    """
    if k < 8:
        raise ValueError(f"k must be >= 8 for a usable estimate, got {k}")
    # Carter-Wegman stream family (shared constants with the MinHash
    # path): ONE md5 per row for the 28-bit base hash, then
    # h_i(v) = (a_i·h + b_i) mod p per stream — k multiply-mods
    # instead of k md5 passes (this swap took the sf0.1 sketch legs
    # from ~22 s to seconds; products stay < 2^59 so the arithmetic
    # is identical int64 in Spark and DuckDB). The 28-bit base is the
    # oracle-portable small-scale instantiation; a deployment whose
    # groups hold >~10^7 distinct values swaps the base for
    # xxhash64(value) with p = 2^61-1 — same estimator, no other
    # change.
    from hnormalise_spark.ops.dedup import MINHASH_P, _base_hash, minhash_params

    params = minhash_params(k)
    # k parallel min-aggregates over the base hash — the data rows are
    # never exploded (a rows×k posexplode materialized 64M rows at
    # sf0.1 and was the whole cost of this operator); the aggregate is
    # map-side partial, and only the n_groups-row result unpivots to
    # the (group, i, min_hash) sketch shape.
    mins = (
        df.select(
            *group_cols, _base_hash(F.col(value_col).cast("string")).alias("_h")
        )
        .groupBy(*group_cols)
        .agg(
            *[
                F.min(
                    (F.col("_h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)
                ).alias(f"_m{i}")
                for i, (a, b) in enumerate(params)
            ]
        )
    )
    return mins.select(
        *group_cols,
        F.posexplode(F.array(*[F.col(f"_m{i}") for i in range(k)])).alias(
            "i", "min_hash"
        ),
    )


def kmin_estimate(sketch: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """Distinct-count estimate per group from a k-mins sketch:
    ``n_hat = k / sum(min_hash_i / p) - 1`` with p the Carter-Wegman
    modulus, published as the BIGINT ``est_distinct_x1e3``
    (n_hat * 1000, half-up).

    The sum of the k mins is exact DECIMAL(38,0); the single double
    division uses the integer constant k * p * 1000 (< 2^53 for any
    k < 2^21, so exact in a double) — the result is engine-portable.
    """
    from hnormalise_spark.ops.dedup import MINHASH_P

    numer = float(k * MINHASH_P * EST_SCALE)
    return (
        sketch.groupBy(*group_cols)
        .agg(F.sum(F.col("min_hash").cast("decimal(38,0)")).alias("_sum"))
        .select(
            *group_cols,
            (
                F.floor(F.lit(numer) / F.col("_sum").cast("double") + F.lit(0.5))
                - F.lit(EST_SCALE)
            )
            .cast("long")
            .alias("est_distinct_x1e3"),
        )
    )


def kmin_jaccard(sketch: DataFrame, group_col: str, k: int) -> DataFrame:
    """Pairwise Jaccard of the underlying value sets for every
    unordered group pair, from the sketch alone: the fraction of hash
    streams whose minimum agrees. Output: (group_a, group_b,
    n_match, jaccard_x1e6) with group_a < group_b.

    Scale shape: the join runs on sketches (n_groups × k rows), not
    data; for g groups it is g(g-1)/2 × k comparisons via a
    broadcast-sized equi-join on i — audience-overlap matrices over
    billions of events cost seconds once the sketches exist.
    """
    a = sketch.select(
        F.col(group_col).alias("group_a"), "i", F.col("min_hash").alias("_ma")
    )
    b = sketch.select(
        F.col(group_col).alias("group_b"), "i", F.col("min_hash").alias("_mb")
    )
    pairs = a.join(b, on="i").filter(F.col("group_a") < F.col("group_b"))
    return (
        pairs.groupBy("group_a", "group_b")
        .agg(
            F.sum((F.col("_ma") == F.col("_mb")).cast("long")).alias("n_match")
        )
        .select(
            "group_a",
            "group_b",
            "n_match",
            F.floor(F.col("n_match") * F.lit(float(JACCARD_SCALE)) / F.lit(float(k)) + F.lit(0.5))
            .cast("long")
            .alias("jaccard_x1e6"),
        )
    )


# --- count-min: frequency sketch -------------------------------------------


def _cm_idx(value: Column, d: Column, width: int) -> Column:
    """Row index of ``value`` in count-min row d: 60-bit md5 hash of
    ``value || '|cm' || d`` mod width (independent per d via the salt,
    same construction the DuckDB oracle replays)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(value.cast("string"), F.lit("|cm"), d.cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(width))


def cm_sketch(
    df: DataFrame, value_col: str, width: int = 1024, depth: int = 4
) -> DataFrame:
    """Count-min frequency sketch over one column: ``depth``
    independent hash rows of ``width`` counters; est(v) = min over
    rows of the counter v hashes into. Guarantees (Cormode &
    Muthukrishnan '05): NEVER an underestimate, and the overestimate
    is <= e/width * N with probability >= 1 - e^-depth — frequency
    answers over unbounded vocabularies in depth x width integers.

    Counters add, so partial counts combine map-side — the same
    one-touch-per-row property as the k-mins sketch, and heavy-hitter
    monitoring at 100 TB keeps depth x width longs per stream, not a
    vocabulary-sized state.

    Returned shape: (d int, idx long, cnt long) — only touched cells
    (absent cell = 0); the build is one posexplode over the depth
    hashes into a partial-count aggregate (shuffle bounded by
    partitions x depth x width)."""
    if width < 2 or depth < 1:
        raise ValueError(f"need width >= 2, depth >= 1; got {width}x{depth}")
    cells = df.select(
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(depth - 1)),
                lambda d: _cm_idx(F.col(value_col), d, width),
            )
        ).alias("d", "idx")
    )
    return cells.groupBy("d", "idx").agg(F.count(F.lit(1)).alias("cnt"))


def cm_lookup(
    sketch: DataFrame,
    probes: DataFrame,
    value_col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Point-query the sketch for every row of ``probes``: adds
    ``n_est`` = min over the depth counters (missing cell = 0).
    The probe side is expected to be small (heavy-hitter candidates,
    a watchlist); the join is a broadcast-sized equi-join on (d, idx)
    against the depth x width sketch."""
    pr = probes.select(
        "*",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(depth - 1)),
                lambda d: _cm_idx(F.col(value_col), d, width),
            )
        ).alias("d", "idx"),
    )
    keep = [c for c in probes.columns]
    return (
        pr.join(sketch, on=["d", "idx"], how="left")
        .groupBy(*keep)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("n_est"))
    )


# ---------------------------------------------------------------------------
# Bloom filter: bitset membership sketch
#
# The scale-path complement to ops/decontam.py's exact broadcast set:
# an eval/blocklist of ANY cardinality compresses to a fixed n_bits
# bitset (error = a bounded false-positive rate, never a false
# negative), and the probe side is a pure row-local expression over
# the broadcast bits — the corpus is never shuffled and never joined.
# FP rate ~= (1 - e^(-k*n/m))^k; at the
# default m=8192, k=4 a 500-gram eval set probes at ~2e-3.

BLOOM_WORD = 32  # bits per stored word: shifts stay < 32 so every
# intermediate is a positive int32 — no signed-shift edge cases in
# either Spark or the DuckDB oracle


def _bloom_positions(value: Column, n_bits: int, n_hashes: int) -> Column:
    """Array of the ``n_hashes`` bit positions of ``value``: 60-bit
    md5 streams (same construction as the k-mins/CM hashes) mod
    ``n_bits``."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: _value_hash(value, i) % n_bits,
    )


def bloom_build(
    df: DataFrame,
    value_col: str,
    n_bits: int = 8192,
    n_hashes: int = 4,
) -> DataFrame:
    """Build a Bloom filter over ``df[value_col]`` as (word int,
    bits long) rows — only words with at least one set bit appear,
    so the sketch is at most ``n_bits / 32`` rows regardless of
    input size. Build shape: values explode to n_hashes positions,
    one distinct + one 32-way bit_or aggregate; dedup is free (equal
    values set equal bits).
    """
    if n_bits % BLOOM_WORD != 0:
        raise ValueError(f"n_bits must be a multiple of {BLOOM_WORD}")
    pos = df.select(
        F.explode(
            _bloom_positions(F.col(value_col), n_bits, n_hashes)
        ).alias("p")
    ).distinct()
    return (
        pos.select(
            (F.col("p") / BLOOM_WORD).cast("int").alias("word"),
            # 2^(p % 32) is exact in double for shifts < 32 (Python-API
            # shiftleft only takes a literal shift count)
            F.pow(F.lit(2.0), F.col("p") % BLOOM_WORD).cast("long").alias("b"),
        )
        .groupBy("word")
        .agg(F.bit_or("b").alias("bits"))
    )


def bloom_bits_array(sketch: DataFrame, n_bits: int = 8192) -> list[int]:
    """Collect a built sketch into a dense Python word list (index =
    word, value = 32-bit mask) for embedding as a literal in a probe
    expression. BOUNDED driver collect: at most n_bits/32 rows
    (256 longs at the default), independent of what the filter was
    built over — that independence is the whole point of probing via
    a Bloom filter instead of collecting the underlying set."""
    n_words = n_bits // BLOOM_WORD
    dense = [0] * n_words
    for r in sketch.collect():
        dense[r["word"]] = int(r["bits"])
    return dense


def bloom_contains(
    bits: list[int],
    value: Column,
    n_bits: int = 8192,
    n_hashes: int = 4,
) -> Column:
    """Row-local membership test against a collected bits list: true
    iff every hash position of ``value`` is set. No join, no shuffle
    — the bits ride into the task as a literal array (Spark
    broadcasts task binaries once per executor). False positives
    possible, false negatives not."""
    arr = F.array(*[F.lit(int(b)) for b in bits])
    return F.forall(
        _bloom_positions(value, n_bits, n_hashes),
        lambda p: (
            F.element_at(arr, (p / BLOOM_WORD).cast("int") + 1)
            .bitwiseAND(F.pow(F.lit(2.0), p % BLOOM_WORD).cast("long"))
            != 0
        ),
    )


# ---------------------------------------------------------------------------
# fixed-grid histogram sketch: mergeable quantiles


def hist_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    width: int,
    nbins: int = 64,
) -> DataFrame:
    """Mergeable fixed-grid histogram sketch over a non-negative
    integer measure (lengths, token counts, latencies): per group,
    one row per occupied bin with bin = min(value div width,
    nbins-1). The deterministic-integer stand-in for t-digest /
    KLL: constant size (≤ nbins rows per group), exact merge law,
    quantile error bounded by one grid step — and unlike the rank
    sketches, every number it emits is engine-portable integer
    arithmetic, so the oracle replays it bit-for-bit.

    Build cost: ONE map-side-combined aggregate; the shuffle carries
    ≤ |groups|·nbins partial rows no matter the corpus size. Merge law
    (`hist_merge`) = union + per-(group, bin) SUM — associative,
    commutative, so shard/day partials fold in any order (streaming
    snapshots compose exactly like the k-mins path). Null values are
    excluded; negative values clamp to bin 0.
    """
    if width < 1 or nbins < 2:
        raise ValueError(f"need width >= 1 and nbins >= 2, got {width}/{nbins}")
    v = F.col(value_col).cast("long")
    bin_ = F.least(
        F.greatest(F.expr(f"CAST({value_col} AS LONG) div {int(width)}"), F.lit(0)),
        F.lit(int(nbins) - 1),
    ).cast("int")
    return (
        df.filter(v.isNotNull())
        .groupBy(*group_cols, bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def hist_merge(*sketches: DataFrame) -> DataFrame:
    """Merge histogram sketches built on the same grid: union +
    per-(group, bin) sum. The sketch of the union of the inputs."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    group_cols = [c for c in out.columns if c not in ("bin", "n")]
    return out.groupBy(*group_cols, "bin").agg(F.sum("n").alias("n"))


def hist_quantiles(
    sketch: DataFrame,
    group_cols: list[str],
    width: int,
    qs_x1e6: list[int],
) -> DataFrame:
    """Estimate quantiles from a histogram sketch: for each q (parts
    per million) pick the smallest bin whose inclusive cumulative
    count reaches ceil(q·n/1e6), decided as the exact integer test
    cum·1e6 ≥ q·n — no float, no tie ambiguity. The estimate reported
    is the bin's LOWER edge (bin·width): a deterministic ≤ one-grid-
    step-under estimate.

    Runs entirely on sketch-sized data (≤ |groups|·nbins rows): a
    per-group cumulative window + a broadcast of the literal q list.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sketch.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(Window.partitionBy(*group_cols))
    )
    qdf = F.broadcast(
        cum.sparkSession.createDataFrame(
            [(int(q),) for q in qs_x1e6], "q_x1e6 long"
        )
    )
    hit = cum.join(qdf).filter(
        F.col("cum") * F.lit(1000000) >= F.col("q_x1e6") * F.col("total")
    )
    return (
        hit.groupBy(*group_cols, "q_x1e6")
        .agg(F.min("bin").alias("bin"))
        .withColumn("est", (F.col("bin").cast("long") * F.lit(int(width))))
    )


# ---------------------------------------------------------------------------
# HyperLogLog (register-rows form)

HLL_HASH_BITS = 60  # md5-derived value hash width


def hll_w_bits(p: int) -> int:
    """rho-stream width for 2^p registers: 60-bit hash minus p index
    bits. rho ∈ [1, w_bits+1]; the absent-register mass m·2^(w+1) =
    2^61 for ANY p, so the integer harmonic sum never overflows."""
    # p >= 6 keeps m >= 64, the regime hll_alpha's bias constant is
    # derived for (Flajolet et al. use different constants at m=16/32)
    if not 6 <= p <= 16:
        raise ValueError(f"p must be in [6, 16], got {p}")
    return HLL_HASH_BITS - p


def hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias constant for m ≥ 64 registers."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 6,
) -> DataFrame:
    """Per-group HyperLogLog registers: one row per (group, register)
    with the max rho observed — the industry-standard mergeable
    cardinality sketch (RSE ≈ 1.04/√m), built beside the k-mins
    sketch so both estimators share the corpus-stats toolbox. Absent
    registers mean "no value hashed there" (register value 0); the
    rows form stores only present ones and the estimator adds the
    zero mass back arithmetically.

    Hash split of the 60-bit md5 value hash: low ``p`` bits pick the
    register, the remaining 54 bits are the rho stream; rho = index
    of the lowest set bit (1-based, 55 when all zero) computed as
    ``floor(log2(w & -w)) + 1`` — log2 of an exact power of two is
    exact in IEEE doubles, so the value is engine-portable without a
    bit-scan builtin.

    Scale shape: one map-side-combinable MAX aggregate keyed
    (group, register); the sketch is ≤ m BIGINT rows per group
    regardless of input size, and :func:`hll_merge` is union +
    re-max (associative, commutative, idempotent) so shard/day
    sketches fold without touching raw data.
    """
    m = 1 << p
    rho_max = hll_w_bits(p) + 1
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    base = df.select(*group_cols, h.alias("_h"))
    w = F.shiftright(F.col("_h"), p)
    lowbit = w.bitwiseAND(-w)
    rho = (
        F.when(w == 0, F.lit(rho_max))
        .otherwise(F.floor(F.log2(lowbit.cast("double"))) + 1)
        .cast("int")
    )
    return (
        base.select(
            *group_cols,
            (F.col("_h") % m).cast("int").alias("j"),
            rho.alias("_rho"),
        )
        .groupBy(*group_cols, "j")
        .agg(F.max("_rho").cast("int").alias("reg"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union + re-max: the sketch of the union of the value sets."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    group_cols = [c for c in out.columns if c not in ("j", "reg")]
    return out.groupBy(*group_cols, "j").agg(F.max("reg").alias("reg"))


def hll_linear_counting_x1e3(p: int = 6) -> list[int]:
    """Small-range linear-counting estimates m·ln(m/V) for V=1..m,
    precomputed in Python and EMBEDDED in both engines: ln is libm
    territory (JVM vs C library may differ in the last ulp), so the
    cross-engine contract ships the 64 integers instead of trusting
    two math libraries to round identically."""
    import math

    m = 1 << p
    return [
        int(math.floor(m * math.log(m / v) * 1000.0 + 0.5))
        for v in range(1, m + 1)
    ]


def hll_estimate(
    sketch: DataFrame, group_cols: list[str], p: int = 6
) -> DataFrame:
    """Cardinality estimate per group from HLL registers, published
    as BIGINT ``est_distinct_x1e3``.

    Portability: the harmonic sum is kept INTEGER — sum of
    2^(55-reg) per present register plus 2^55 per absent one — so it
    is order-independent (double summation order is not); the single
    double division uses a Python-float numerator constant, and the
    small-range linear-counting branch (E ≤ 2.5m with empty
    registers) reads the embedded integer table rather than calling
    ln in-engine.
    """
    m = 1 << p
    w1 = hll_w_bits(p) + 1
    numer = hll_alpha(m) * m * m * float(1 << w1)
    lc = hll_linear_counting_x1e3(p)
    # integer bit-shift, not pow(2.0, k): powers of two are exact in
    # any sane libm, but the shift removes the dependency entirely
    term = F.expr(f"shiftleft(1L, {w1} - reg)").cast("long")
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("_np"),
        F.sum(term).cast("long").alias("_sp"),
    )
    s_total = F.col("_sp") + (F.lit(m) - F.col("_np")) * F.lit(
        1 << w1
    ).cast("long")
    v_zero = (F.lit(m) - F.col("_np")).cast("int")
    e_raw = F.lit(numer) / s_total.cast("double")
    est = F.when(
        (v_zero > 0) & (e_raw <= F.lit(2.5 * m)),
        F.element_at(F.array(*[F.lit(x) for x in lc]), v_zero),
    ).otherwise(F.floor(e_raw * F.lit(1000.0) + F.lit(0.5)))
    return agg.select(
        *group_cols, est.cast("long").alias("est_distinct_x1e3")
    )
