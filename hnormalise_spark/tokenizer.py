"""Token ↔ text codec for the pre-tokenized input table.

The canonical input (BASELINE.json ``input_hint``) is
``(doc_id, tokens: array<int32>, n_tok, source)``. The codec is
codepoint-level and therefore deterministic and exactly invertible:
``text = ''.join(chr(t) for t in tokens)`` — which makes the per-row
token-array equality invariant checkable end-to-end.

Two detokenizers:

* ``detokenize_col``   — pure JVM expression (``transform`` + ``char``),
  valid for codepoints < 256 (rsyslog lines are ASCII). This is the hot
  path: no Python round-trip.
* ``detokenize_pandas`` — Arrow-batched pandas UDF handling the full
  Unicode range; used when lines may be non-ASCII.

Tokenize (text → codepoints) only runs in data generation and
invariant tests, as a pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType


def detokenize_col(tokens: Column | str) -> Column:
    """JVM-side detokenizer for ASCII codepoints (<256).

    ``char()`` maps an int to the 1-byte char mod 256, so this is exact
    for ASCII log lines and never leaves the JVM.
    """
    col = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.array_join(F.transform(col, _char), "")


def _char(t: Column) -> Column:
    # F.char exists in PySpark 4 as `char`; fall back to expr on older.
    try:
        return F.char(t)  # type: ignore[attr-defined]
    except AttributeError:  # pragma: no cover
        return F.call_function("char", t)


def retokenize_col(raw: Column | str) -> Column:
    """JVM-side exact inverse of detokenize_col for codepoints < 256:
    raw text → codepoint array. Lets the pipeline DROP the bulky token
    array right after detokenization (carrying a 200-int array through
    the parse projects costs ~40% of parse throughput) and reconstruct it
    bit-exactly for the failure sink's original-bytes contract."""
    col = F.col(raw) if isinstance(raw, str) else raw
    # sequence(1, 0) would DESCEND for empty input — guard to []
    toks = F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.ascii(col.substr(i, F.lit(1))),
    ).cast("array<int>")
    return F.when(F.length(col) > 0, toks).otherwise(
        F.array().cast("array<int>")
    )


@F.pandas_udf(StringType())
def detokenize_pandas(tokens: pd.Series) -> pd.Series:
    """Full-Unicode detokenizer (Arrow-batched)."""
    return tokens.map(lambda ts: "".join(map(chr, ts)))


@F.pandas_udf(ArrayType(IntegerType()))
def tokenize_pandas(text: pd.Series) -> pd.Series:
    """text → codepoint array (Arrow-batched); datagen/tests only."""
    return text.map(lambda s: [ord(c) for c in s])


def with_text(df, tokens_col: str = "tokens", out: str = "raw", ascii_only: bool = True):
    """Add a detokenized text column to a tokenized DataFrame."""
    expr = detokenize_col(tokens_col) if ascii_only else detokenize_pandas(F.col(tokens_col))
    return df.withColumn(out, expr)
