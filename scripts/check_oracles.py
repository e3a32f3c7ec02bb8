"""Local replica of the driver's correctness gate: run each
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB
over the same sf dir; compare row count, column names, and an
order-insensitive multiset of stringified rows. Each line reports the
wall time of the Spark query (build + collect) and of the DuckDB
oracle.

    python scripts/check_oracles.py [SF_DIR] [NAME,NAME,...]"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_val(v):
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"  # pandas renders SQL NULL ints as NaN
        if v == int(v):
            return str(int(v))
        return f"{v:.6g}"
    return str(v)


def row_key(row, cols):
    return "|".join(norm_val(row[c]) for c in cols)


def main() -> int:
    from hnormalise_spark import get_spark

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    qs, oracles = entry.queries(), entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.perf_counter()
        sdf = fn(spark, SF)
        scols = sorted(sdf.columns)
        srows = sdf.collect()
        t1 = time.perf_counter()
        odf = con.execute(oracles[name]).df()
        walls = f"spark {t1 - t0:.2f}s duckdb {time.perf_counter() - t1:.2f}s"
        ocols = sorted(odf.columns)
        status = []
        if scols != ocols:
            status.append(f"SCHEMA spark={scols} oracle={ocols}")
        if len(srows) != len(odf):
            status.append(f"ROWS spark={len(srows)} oracle={len(odf)}")
        if not status:
            s_ms = Counter(row_key(r, scols) for r in srows)
            o_ms = Counter(
                "|".join(norm_val(v) for v in row)
                for row in odf[scols].itertuples(index=False, name=None)
            )
            # pandas tuples follow scols order via odf[scols]
            if s_ms != o_ms:
                diff_s = list((s_ms - o_ms).items())[:3]
                diff_o = list((o_ms - s_ms).items())[:3]
                status.append(f"VALUES spark_only={diff_s} oracle_only={diff_o}")
        if status:
            failures += 1
            print(f"FAIL {name} ({walls}): {'; '.join(status)}")
        else:
            print(f"PASS {name} ({len(srows)} rows; {walls})")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
