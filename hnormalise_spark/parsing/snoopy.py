"""Snoopy exec-log parser as Spark Column expressions.

Re-expression of /root/reference/src/HNormalise/Snoopy/Parser.hs:55-77:
``snoopy[PID]<skip-to-[>[uid:N [username:U] sid:N tty:T cwd:C
filename:F]: CMD``. Appname is "snoopy".

* executable (filename:) is take-till-']' so it may contain spaces;
  tty/cwd/username are take-till-space.
* command is everything after ``]:`` with leading whitespace stripped.
* A present-but-empty ``username:`` is folded into null (the reference
  would yield Just ""; never occurs in practice).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from hnormalise_spark.parsing import common as C
from hnormalise_spark.schemas import SNOOPY_PAYLOAD

# pid/uid/sid bounded at 9 digits (int casts; ANSI overflow aborts the
# batch, a bounded regex fails the row instead)
RE_SNOOPY = (
    r"^snoopy\[(\d{1,9})\][^\[]*\[uid:(\d{1,9})"
    r"(?:\s*username:(\S*))?"
    r"\s*sid:(\d{1,9})\s*tty:(\S*)\s*cwd:(\S*)\s*filename:([^\]]*)\]:\s*((?s:.*))$"
)


def layers(gate: Column, msg: Column) -> list[dict[str, Column]]:
    # ONE regex execution: packed extraction of all 8 groups; match
    # success is the packed arity.
    layer1 = {"_sn_a": F.when(gate, C.packed_groups(msg, RE_SNOOPY, 8))}
    layer2 = {"_sn_ok": F.coalesce(C.packed_ok(F.col("_sn_a"), 8), F.lit(False))}
    return [layer1, layer2]


def result() -> tuple[Column, Column, Column]:
    ok = F.col("_sn_ok")

    def g(i: int) -> Column:
        return F.element_at(F.col("_sn_a"), i)

    payload = F.struct(
        g(1).cast("int").alias("pid"),
        g(2).cast("int").alias("uid"),
        C.nullif_empty(g(3)).alias("username"),
        g(4).cast("int").alias("sid"),
        g(5).alias("tty"),
        g(6).alias("cwd"),
        g(7).alias("executable"),
        g(8).alias("command"),
    )
    payload = F.when(ok, payload).otherwise(F.lit(None).cast(SNOOPY_PAYLOAD))
    return payload, F.when(ok, F.lit("snoopy")), ok

