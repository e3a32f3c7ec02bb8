#!/usr/bin/env python
"""Where a fan-out's sink bytes go, read from the parquet footers.

For a ``sinks.run_batch`` output directory (``staging/route=success``,
``staging/route=failure`` and ``counts``) this prints, per sink:

* its data-file count, rows and bytes per row;
* its leaf columns, and how many of their column chunks are all null
  (the chunk's null count equals its value count): each such chunk
  holds no data yet still costs a footer entry and an index entry.
  Spark writes no statistics for INT96 timestamps, so those chunks
  are counted apart, as chunks without a null count;
* its bytes per top-level column: the compressed column chunks (page
  headers and dictionary pages included) of every leaf under it, and
  the codecs those chunks use;
* the bytes that belong to no column chunk: the footer (file metadata)
  and the rest, which is the column and offset indexes plus the 12
  bytes of magic and footer length.

The last line gives all sinks' bytes per routed line, the number
perfbench reports as ``sink_bytes_per_line``. Pyarrow only, no Spark.

Usage: python scripts/sink_bytes.py OUT_DIR [--top N]
"""

from __future__ import annotations

import argparse
import os
from collections import defaultdict

import pyarrow.parquet as pq

SINKS = {
    "success": os.path.join("staging", "route=success"),
    "failure": os.path.join("staging", "route=failure"),
    "counts": "counts",
}
MAGIC_BYTES = 12  # "PAR1" at both ends and the 4-byte footer length


def data_files(path: str) -> list[str]:
    """Parquet data files under ``path`` (checksums and markers skipped)."""
    return sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(path)
        for n in names
        if not n.startswith((".", "_"))
    )


def sink_stats(path: str) -> dict:
    """→ files, rows, bytes, leaves, all-null chunks, per-column bytes
    and codecs, footer and index bytes."""
    out = {"files": 0, "rows": 0, "bytes": 0, "footer": 0, "index": 0,
           "leaves": 0, "chunks": 0, "null_chunks": 0, "no_null_count": 0,
           "columns": defaultdict(int), "codecs": defaultdict(set)}
    for f in data_files(path):
        meta = pq.ParquetFile(f).metadata
        size = os.path.getsize(f)
        chunks = 0
        out["leaves"] = max(out["leaves"], meta.num_columns)
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                top = col.path_in_schema.split(".", 1)[0]
                out["columns"][top] += col.total_compressed_size
                out["codecs"][top].add(col.compression)
                chunks += col.total_compressed_size
                stats = col.statistics
                out["chunks"] += 1
                if stats is None or not stats.has_null_count:
                    out["no_null_count"] += 1
                else:
                    out["null_chunks"] += stats.null_count == col.num_values
        out["files"] += 1
        out["rows"] += meta.num_rows
        out["bytes"] += size
        out["footer"] += meta.serialized_size
        out["index"] += size - chunks - meta.serialized_size - MAGIC_BYTES
    return out


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("out_dir", help="a run_batch output directory")
    ap.add_argument("--top", type=int, default=0, help="columns shown per sink (0: all)")
    args = ap.parse_args(argv)

    total = lines = 0
    for sink, rel in SINKS.items():
        s = sink_stats(os.path.join(args.out_dir, rel))
        total += s["bytes"]
        if sink != "counts":
            lines += s["rows"]
        per_row = s["bytes"] / s["rows"] if s["rows"] else 0.0
        print(f"{sink}: {s['files']} files, {s['rows']} rows, {s['bytes']} B, {per_row:.1f} B/row")
        print(
            f"  {s['leaves']} leaf columns, {s['null_chunks']} of {s['chunks']} chunks all null,"
            f" {s['no_null_count']} without a null count"
        )
        cols = sorted(s["columns"].items(), key=lambda kv: -kv[1])
        for name, b in cols[: args.top or None]:
            codecs = ",".join(sorted(s["codecs"][name]))
            share = b / s["bytes"] if s["bytes"] else 0.0
            print(f"  {name:<24} {b:>10} B {share:6.1%}  {codecs}")
        for name in ("footer", "index"):
            share = s[name] / s["bytes"] if s["bytes"] else 0.0
            print(f"  {'(' + name + ')':<24} {s[name]:>10} B {share:6.1%}")
    if lines:
        print(f"all sinks: {total} B over {lines} routed lines, {total / lines:.1f} B/line")


if __name__ == "__main__":
    main()
