"""Outside-in correctness check of one batch pass.

Reads what the pass left on disk (the success and failure sinks and the
counts table) and compares it with the generator's expectations. It
never looks at the program's parsed frame.

A line is wrong when it is missing from both sinks, appears more than
once, appears under a doc_id that was never generated, is routed to the
other sink, or carries the wrong content: failure ``tokens`` that differ
from the input tokens, or a success ``msg`` that differs from the
generated msg. Each wrong line is counted once. The counts table must
equal the routed row sets per (source, route); every row of difference
counts as one more wrong line.

Wrong lines never abort a run. ``known_defect`` counts the wrong lines
whose input holds codepoints >= 256: the JVM detokenizer maps those
modulo 256 (ROADMAP open item 3), so they are reported in the error
share but do not make the run incorrect.
"""

from __future__ import annotations

import os
from collections import Counter

import pyarrow.parquet as pq

CLASSES = ("missing", "duplicated", "unknown", "misrouted", "tokens", "msg")


def read_expect(path: str) -> dict:
    t = pq.read_table(path)
    cols = {c: t[c].to_pylist() for c in t.column_names}
    return {
        d: (s, r, m, na, tok)
        for d, s, r, m, na, tok in zip(
            cols["doc_id"], cols["source"], cols["exp_route"], cols["exp_msg"],
            cols["non_ascii"], cols["tokens"],
        )
    }


def read_sinks(paths: dict) -> tuple[list, list, list]:
    """→ (success rows, failure rows, counts rows) as tuples."""

    def rows(path, columns):
        if not os.path.isdir(path):
            return []
        t = pq.read_table(path, columns=columns)
        return list(zip(*(t[c].to_pylist() for c in columns)))

    return (
        rows(paths["success"], ["doc_id", "source", "msg"]),
        rows(paths["failure"], ["doc_id", "source", "tokens"]),
        rows(paths["counts"], ["source", "parse_ok", "n"]),
    )


def count_wrong(expect: dict, success: list, failure: list, counts: list) -> dict:
    """→ {"lines", "wrong", "known_defect", "counts_diff", <class>: n}."""
    seen = Counter(r[0] for r in success)
    seen.update(r[0] for r in failure)
    got = {r[0]: ("success", r[2]) for r in success}
    got.update({r[0]: ("failure", r[2]) for r in failure})
    wrong = dict.fromkeys(CLASSES, 0)
    known = 0
    for doc_id, (_, route, msg, non_ascii, tokens) in expect.items():
        n = seen.get(doc_id, 0)
        if n == 0:
            cls = "missing"
        elif n > 1:
            cls = "duplicated"
        elif got[doc_id][0] != route:
            cls = "misrouted"
        elif route == "failure" and list(got[doc_id][1]) != list(tokens):
            cls = "tokens"
        elif route == "success" and got[doc_id][1] != msg:
            cls = "msg"
        else:
            continue
        wrong[cls] += 1
        known += bool(non_ascii)
    wrong["unknown"] = sum(n for d, n in seen.items() if d not in expect)

    routed = Counter((r[1], True) for r in success)
    routed.update((r[1], False) for r in failure)
    table = Counter()
    for source, ok, n in counts:
        table[(source, bool(ok))] += n
    counts_diff = sum(abs(routed[k] - table[k]) for k in set(routed) | set(table))

    total = sum(wrong.values()) + counts_diff
    return {
        "lines": len(expect),
        "wrong": total,
        "known_defect": known,
        "counts_diff": counts_diff,
        **wrong,
    }


def sink_bytes(paths: dict) -> dict:
    """Bytes and data-file count per sink (checksums and markers skipped)."""
    out = {}
    for sink in ("success", "failure", "counts"):
        n = files = 0
        for dirpath, _, names in os.walk(paths[sink]):
            for name in names:
                if not name.startswith((".", "_")):
                    n += os.path.getsize(os.path.join(dirpath, name))
                    files += 1
        out[sink] = (n, files)
    return out


def check_pass(expect: dict, paths: dict) -> dict:
    return count_wrong(expect, *read_sinks(paths))
