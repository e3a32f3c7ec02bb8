"""Token ↔ text codec for the pre-tokenized input table.

The canonical input (BASELINE.json ``input_hint``) is
``(doc_id, tokens: array<int32>, n_tok, source)``. The codec is
codepoint-level and therefore deterministic and exactly invertible:
``text = ''.join(chr(t) for t in tokens)`` — which makes the per-row
token-array equality invariant checkable end-to-end.

``detokenize_col`` is a pure JVM expression (``transform`` + ``char``),
valid for codepoints < 256 (rsyslog lines are ASCII): no Python runs
per row. ``retokenize_col`` is its exact inverse on that range; the
token pipeline never needs it (``normalise_tokens`` carries the input
array to the failure sink), so it serves only raw-text input, which has
no array of its own, and perfbench's trace.

Tokenize (text → codepoints) for the full Unicode range only runs in
data generation and invariant tests, as a pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType


def detokenize_col(tokens: Column | str) -> Column:
    """JVM-side detokenizer for ASCII codepoints (<256).

    ``char()`` maps an int to the 1-byte char mod 256, so this is exact
    for ASCII log lines and never leaves the JVM.
    """
    col = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.array_join(F.transform(col, F.char), "")


def retokenize_col(raw: Column | str) -> Column:
    """JVM-side exact inverse of detokenize_col for codepoints < 256:
    raw text → codepoint array, one interpreted lambda call per
    character. Only for input that has no token array (raw text lines
    routed to the failure sink, perfbench's trace); token input keeps
    its own array."""
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

