"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The container has no image/audio codecs, so the DECODE step is a
clearly-marked stub (deterministic fake features derived from the
bytes) — but the Spark-side plumbing is real and tested: declared
schemas, Arrow-batched mapInPandas with bounded batch sizes, and
partition-count preservation. Swapping `_fake_decode` for PIL/librosa
is a one-function change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)


def _fake_decode(payload: bytes, dim: int = 8) -> list[float]:
    """STUB decode/feature-extract: deterministic md5-derived features
    (hashing the hex form keeps the oracle expressible in ANSI SQL).

    Replace with a real codec (PIL image decode → resize → embed;
    librosa frame-sample) — the UDF signature and batch shape stay.
    """
    h = hashlib.md5(payload.hex().encode()).digest()
    return [b / 255.0 for b in h[:dim]]


def extract_features(df: DataFrame, dim: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over mapInPandas (the decode
    runs where the bytes live; no collect, no Python per-row calls —
    pandas .map within a batch)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "feature": pdf["payload"].map(lambda b: _fake_decode(bytes(b), dim)),
                }
            )

    return df.mapInPandas(extract, FEATURE_SCHEMA)


def synth_media(spark, n_rows: int = 100, dup_mod: int | None = None) -> DataFrame:
    """Deterministic fake media table (payload = repeated md5 bytes).
    With ``dup_mod`` the payload derives from ``id % dup_mod`` so each
    distinct payload appears ~n_rows/dup_mod times — the planted-dup
    corpus the media_dedup leg runs on."""
    key = F.col("id") if dup_mod is None else F.col("id") % int(dup_mod)
    df = spark.range(n_rows).select(
        F.format_string("m-%06d", F.col("id")).alias("media_id"),
        F.when(F.col("id") % 3 == 0, "image").when(F.col("id") % 3 == 1, "audio").otherwise("video").alias("kind"),
        F.to_binary(F.md5(key.cast("string")), F.lit("hex")).alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.when(F.col("id") % 3 == 0, (F.col("id") % 640 + 1).cast("int")).alias("width"),
        F.when(F.col("id") % 3 == 0, (F.col("id") % 480 + 1).cast("int")).alias("height"),
        F.when(F.col("id") % 3 != 0, (F.col("id") % 60000).cast("long")).alias("duration_ms"),
    )
    return df


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("payload", BinaryType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("n_bytes_out", LongType(), False),
    ]
)


def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Resize plumbing: filter to image rows JVM-side (column pruning +
    predicate pushdown keep non-image partitions unread), then an
    Arrow-batched mapInPandas rewrites payload + dimension metadata.
    The pixel work is the documented STUB (no codecs in the container):
    the fake 'resampled' payload is the leading ceil(bytes*scale) of
    the original, scale = min(1, out_area/in_area) — deterministic and
    re-derivable in SQL. Swap the body for PIL `Image.resize` and the
    schema, batching, and partitioning stay as-is."""
    area = float(out_w * out_h)

    def rs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            scale = (area / (pdf["width"] * pdf["height"])).clip(upper=1.0)
            payloads = []
            for b, s in zip(pdf["payload"], scale):
                b = bytes(b)
                k = max(1, int(len(b) * s))
                payloads.append(b[:k])  # STUB resample
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": payloads,
                    "width": out_w,
                    "height": out_h,
                    "n_bytes_out": [len(p) for p in payloads],
                }
            )

    return df.filter(F.col("kind") == "image").mapInPandas(rs, RESIZED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("t_ms", LongType(), False),
        StructField("frame_payload", BinaryType(), False),
    ]
)


def frame_sample(df: DataFrame, every_ms: int, slice_bytes: int = 4) -> DataFrame:
    """Frame sampling plumbing: one output row per sampled timestamp
    (0, every_ms, 2*every_ms, ... <= duration_ms) — the row-exploding
    shape a real video sampler has, expressed as mapInPandas so the
    per-frame decode runs where the bytes live. The frame DECODE is the
    documented STUB: frame i's payload is a slice_bytes window of the
    source payload at offset i mod (len - slice_bytes + 1). Rows
    without a duration (images) are dropped JVM-side before the UDF."""

    def fs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "kind", "frame_idx", "t_ms", "frame_payload")}
            for mid, kind, b, dur in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"], pdf["duration_ms"]
            ):
                b = bytes(b)
                span = max(1, len(b) - slice_bytes + 1)
                for i in range(int(dur) // every_ms + 1):
                    off = i % span
                    out["media_id"].append(mid)
                    out["kind"].append(kind)
                    out["frame_idx"].append(i)
                    out["t_ms"].append(i * every_ms)
                    out["frame_payload"].append(b[off : off + slice_bytes])  # STUB decode
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="object"),
                    "kind": pd.Series(out["kind"], dtype="object"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                    "t_ms": pd.Series(out["t_ms"], dtype="int64"),
                    "frame_payload": pd.Series(out["frame_payload"], dtype="object"),
                }
            )

    return df.filter(F.col("duration_ms").isNotNull()).mapInPandas(fs, FRAME_SCHEMA)


def media_dedup(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    kind_col: str = "kind",
) -> DataFrame:
    """Exact media dedup by binary content hash — the media-pipeline
    analogue of ``dedup.exact_dedup``: group rows by a fingerprint of
    the RAW BYTES (no decode needed, so it runs before any codec) and
    report one row per distinct payload with the keeper (min id), the
    copy count, the byte size, and the sorted distinct modality labels
    the content appears under — the "same bytes filed as image AND
    video" signal a crawl dedup wants surfaced.

    The fingerprint is ``md5(hex(payload))`` rather than md5 of the
    raw bytes: identical discriminating power, and the hex hop keeps
    it replayable by engines whose md5 is VARCHAR-only (the DuckDB
    oracle). NULL payloads group together under a NULL fingerprint.

    Scale shape: identical to exact_dedup — ONE hash-aggregate
    shuffle keyed on the 32-hex fingerprint (fixed width, immune to
    payload-size skew; the projection to (fp, id, kind, n_bytes)
    happens map-side so payload bytes never cross the wire).
    """
    fp = F.md5(F.hex(F.col(payload_col)))
    return (
        df.select(
            fp.alias("fingerprint"),
            F.col(id_col).alias("_id"),
            F.col(kind_col).alias("_kind"),
            F.length(F.col(payload_col)).cast("long").alias("_nb"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("_id").alias("keeper_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("_nb").alias("n_bytes"),
            F.concat_ws(",", F.array_sort(F.collect_set("_kind"))).alias(
                "kinds"
            ),
        )
    )
