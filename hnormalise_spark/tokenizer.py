"""Token ↔ text codec for the pre-tokenized input table.

The canonical input (BASELINE.json ``input_hint``) is
``(doc_id, tokens: array<int32>, n_tok, source)``. The codec is
codepoint-level and therefore deterministic and exactly invertible:
``text = ''.join(chr(t) for t in tokens)`` — which makes the per-row
token-array equality invariant checkable end-to-end.

``detokenize_col`` is a pure JVM expression, exact for every array of
BMP scalar values: no Python runs per row. An array it cannot decode
exactly (a negative value, a surrogate, or a value above U+FFFF)
yields null, so the row fails closed and routes to failure with its
input tokens. ``retokenize_col`` maps text to its codepoints, one full
codepoint per character (``F.ascii`` is not limited to Latin-1), so it
inverts ``detokenize_col`` on every line that decodes. The token
pipeline never needs it (``normalise_tokens`` carries the input array
to the failure sink), so it serves only raw-text input, which has no
array of its own, and perfbench's trace.

Tokenize (text → codepoints) for the full Unicode range only runs in
data generation and invariant tests, as a pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType


def detokenize_col(tokens: Column | str) -> Column:
    """JVM-side detokenizer: each value as 4 hex digits, decoded as
    UTF-16BE, which is exact for every BMP scalar value. An array with
    a negative value, a surrogate (0xD800-0xDFFF) or a value above
    0xFFFF gives null: UTF-16BE would need surrogate pairs, so no text
    is made up for such a row."""
    col = F.col(tokens) if isinstance(tokens, str) else tokens
    top = F.array_max(col)
    bad = (
        (F.array_min(col) < 0) | (top > 0xFFFF)
        | ((top >= 0xD800) & F.exists(col, lambda t: t.between(0xD800, 0xDFFF)))
    )
    utf16 = F.array_join(F.transform(col, lambda t: F.lpad(F.hex(t), 4, "0")), "")
    return F.when(bad, F.lit(None).cast("string")).otherwise(
        F.decode(F.unhex(utf16), "UTF-16BE")
    )


def retokenize_col(raw: Column | str) -> Column:
    """JVM-side text → codepoint array, ``[ord(c) for c in text]``
    for every codepoint (``F.ascii`` of one character is its full
    codepoint, past Latin-1 and past the BMP alike), so it is the exact
    inverse of detokenize_col wherever that decodes. One interpreted
    lambda call per character. Only for input that has no token array
    (raw text lines routed to the failure sink, perfbench's trace);
    token input keeps its own array."""
    col = F.col(raw) if isinstance(raw, str) else raw
    # sequence(1, 0) would DESCEND for empty input — guard to []
    toks = F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.ascii(col.substr(i, F.lit(1))),
    ).cast("array<int>")
    return F.when(F.length(col) > 0, toks).otherwise(
        F.array().cast("array<int>")
    )


@F.pandas_udf(ArrayType(IntegerType()))
def tokenize_pandas(text: pd.Series) -> pd.Series:
    """text → codepoint array (Arrow-batched); datagen/tests only."""
    return text.map(lambda s: [ord(c) for c in s])

