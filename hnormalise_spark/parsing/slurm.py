"""Slurm accounting-record parser as Spark Column expressions.

The reference's north star names "Slurm accounting" alongside its
Torque parsers, but hnormalise itself only understands Slurm job ids
inside lmod records (/root/reference/src/HNormalise/Lmod/Parser.hs:54-67
— the LmodSlurmJobId branch). This module supplies the missing family:
the public ``jobcomp/filetxt`` completion-record format Slurm's
jobcomp plugin writes (documented in the Slurm jobcomp.html man page),
one space-separated ``Key=Value`` record per finished job::

    slurmctld: JobId=1234 UserId=alice(1000) GroupId=grp(2000)
    Name=train JobState=COMPLETED Partition=gpu TimeLimit=60
    StartTime=2024-01-01T10:00:00 EndTime=2024-01-01T10:30:00
    NodeList=node[001-004] NodeCnt=4 ProcCnt=64 WorkDir=/home/alice

Design notes (all vectorized JVM expressions, zero per-row Python):

* The body parse reuses the order-insensitive KV machinery built for
  torque (common.kv_map — one str_to_map per row), so key order never
  matters, exactly like the torque accounting fallback path.
* ``JobState=CANCELLED by <uid>`` (the one value filetxt writes with a
  space) is pre-normalised to ``JobState=CANCELLED CancelledBy=<uid>``
  with a single regexp_replace so the KV split stays trivially
  one-token-per-pair.
* ``TimeLimit`` is minutes or the literal ``UNLIMITED`` (null minutes,
  unlimited records still parse).
* ``NodeList`` is Slurm's compressed hostlist syntax —
  ``node[001-004,007]``, comma-joined groups, plain names, or
  ``(null)`` for jobs that never started — expanded to the full
  hostname array by ``slurm_hostlist`` (the Slurm twin of torque's
  exec_host core-range expansion, common.host_list). Zero padding
  follows Slurm: each number pads to the width of the range's low
  bound.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from hnormalise_spark.parsing import common as C
from hnormalise_spark.schemas import SLURM_PAYLOAD

PREFIX = "slurmctld: "

# jobcomp/filetxt job states (slurm.conf man page, JobCompType section).
JOB_STATES = [
    "BOOT_FAIL", "CANCELLED", "COMPLETED", "DEADLINE", "FAILED",
    "NODE_FAIL", "OUT_OF_MEMORY", "PREEMPTED", "REQUEUED", "REVOKED",
    "TIMEOUT",
]

RE_ISO_TS = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}$"
# name(uid); uid capped at 18 digits so the long cast can never abort
RE_USER_GROUP = r"^([^()\s]+)\((\d{1,18})\)$"
# hostlist grammar, STRICT: a group is either a plain name or
# name[spec,spec,...]name with every spec a 1-8 digit number or
# lo-hi range (8 digits keeps every bound far inside int range, so a
# gate-passing line can never abort an ANSI cast — one malformed log
# line must fail its OWN row, never the batch).
_RE_SPEC = r"\d{1,8}(?:-\d{1,8})?"
_RE_NAME = r"[A-Za-z0-9_.-]"
_RE_GROUP = (
    rf"(?:{_RE_NAME}*\[{_RE_SPEC}(?:,{_RE_SPEC})*\]{_RE_NAME}*|{_RE_NAME}+)"
)
RE_HOSTLIST = rf"^(?:\(null\)|{_RE_GROUP}(?:,{_RE_GROUP})*)$"
# split top-level commas only: a comma INSIDE brackets sees a ']'
# before any '[' ahead of it
RE_TOP_COMMA = r",(?![^\[]*\])"

# Most hosts a record's WHOLE hostlist may expand to, summed across
# every range and group (Slurm clusters top out at ~10^4 nodes; 2^16
# leaves 6× headroom). A wider record fails the row — without this,
# one line saying node[1-9999999] (or thousands of comma-separated
# groups each just under a per-range cap) materializes a multi-
# million-element array per row and can OOM an executor.
MAX_RANGE_WIDTH = 65536


def slurm_hostlist(s: Column) -> Column:
    """Compressed Slurm hostlist → array<string> of full hostnames,
    null on malformed input (callers fail the row).

    ``node[001-004,007]`` → [node001..node004, node007];
    ``a,b[1-2]c`` → [a, b1c, b2c]; ``(null)``/'' → []. Numbers pad to
    the width of each range's LOW bound (Slurm semantics); a
    descending range (``[5-3]``) contributes nothing, like the torque
    core-range expansion's empty [lo..hi]. All-HOF expansion —
    interpreted eval, so the per-element work is one split + one
    sequence; no regex inside the lambdas (shape and bounds are
    enforced once by RE_HOSTLIST + the width gate)."""

    def pad_to(num: Column, width: Column) -> Column:
        txt = num.cast("string")
        return F.concat(
            F.repeat(F.lit("0"), F.greatest(width - F.length(txt), F.lit(0))), txt
        )

    def bounds(p: Column):  # "lo" | "lo-hi" (gate-checked digits)
        d = F.split(p, "-")
        return F.element_at(d, 1), F.element_at(d, -1).try_cast("int")

    def expand_specs(specs: Column) -> Column:
        def piece(p: Column) -> Column:
            lo_s, hi = bounds(p)
            return C.let(
                lo_s,
                lambda lo: F.when(
                    lo.try_cast("int") <= hi,
                    F.transform(
                        F.sequence(lo.try_cast("int"), hi),
                        lambda n: pad_to(n, F.length(lo)),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )

        return F.flatten(F.transform(F.split(specs, ","), piece))

    def inner_of(e: Column) -> Column:
        return F.substring_index(F.substring_index(e, "[", -1), "]", 1)

    def elem(e: Column) -> Column:
        # prefix[specs]suffix | plain-name
        has_br = e.contains("[")
        pre = F.substring_index(e, "[", 1)
        suf = F.substring_index(e, "]", -1)
        expanded = F.transform(
            expand_specs(inner_of(e)), lambda n: F.concat(pre, n, suf)
        )
        return F.when(has_br, expanded).otherwise(F.array(e))

    def spec_width(p: Column) -> Column:
        # hosts one spec contributes: hi-lo+1 for an ascending range
        # (specs are <= 8 digits, so this fits int), 1 for a bare
        # number, 0 for a descending range (expands to nothing)
        lo_s, hi = bounds(p)
        return F.greatest(
            F.coalesce(hi - lo_s.try_cast("int") + 1, F.lit(1)), F.lit(0)
        ).cast("long")

    groups = F.split(s, RE_TOP_COMMA)
    # Bound the RECORD's total expansion, not just each range: many
    # comma-separated groups each just under a per-range cap would
    # still materialize millions of elements in one row. Summing the
    # widths first is O(#specs) string work — the expensive sequence()
    # expansion only runs on rows that pass.
    total_width = F.aggregate(
        groups,
        F.lit(0).cast("long"),
        lambda acc, e: acc
        + F.when(
            e.contains("["),
            F.aggregate(
                F.split(inner_of(e), ","),
                F.lit(0).cast("long"),
                lambda a, p: a + spec_width(p),
            ),
        ).otherwise(F.lit(1).cast("long")),
    )
    widths_ok = total_width < MAX_RANGE_WIDTH
    empty = F.array().cast("array<string>")
    joined = F.flatten(F.transform(groups, elem))
    return (
        F.when((s == "") | (s == "(null)"), empty)
        .when(s.rlike(RE_HOSTLIST) & widths_ok, joined)
    )


def layers(gate: Column, msg: Column) -> list[dict[str, Column]]:
    body = F.substring(msg, len(PREFIX) + 1, 1 << 30)
    # the one space-containing value → its own key, pre-KV
    body = F.regexp_replace(
        body, r"JobState=CANCELLED by (\d+)", r"JobState=CANCELLED CancelledBy=$1"
    )
    layer1 = {"_su_kv": F.when(gate, C.kv_map(body))}

    kv = F.col("_su_kv")

    def v(key: str) -> Column:
        return C.kv_get(kv, key)

    layer2 = {
        "_su_user_a": C.packed_groups(v("UserId"), RE_USER_GROUP, 2),
        "_su_group_a": C.packed_groups(v("GroupId"), RE_USER_GROUP, 2),
        "_su_nodes": slurm_hostlist(v("NodeList")),
        "_su_start": F.when(
            F.coalesce(v("StartTime").rlike(RE_ISO_TS), F.lit(False)),
            v("StartTime").try_cast("timestamp"),
        ),
        "_su_end": F.when(
            F.coalesce(v("EndTime").rlike(RE_ISO_TS), F.lit(False)),
            v("EndTime").try_cast("timestamp"),
        ),
    }

    # 18-digit cap: a digits-only value that would overflow the long
    # cast (ANSI abort) fails the row instead
    unsigned_ok = lambda key: F.coalesce(v(key).rlike(r"^\d{1,18}$"), F.lit(False))  # noqa: E731
    state_ok = F.coalesce(v("JobState").isin(JOB_STATES), F.lit(False))
    tl_ok = F.coalesce(v("TimeLimit").rlike(r"^(\d+|UNLIMITED)$"), F.lit(False))
    cancel_ok = (
        ~F.coalesce(F.map_contains_key(kv, F.lit("CancelledBy")), F.lit(False))
        | (F.coalesce(v("JobState") == "CANCELLED", F.lit(False)))
    )
    layer3 = {
        "_su_ok": (
            unsigned_ok("JobId")
            & C.packed_ok(F.col("_su_user_a"), 2)
            & C.packed_ok(F.col("_su_group_a"), 2)
            & C.kv_has(kv, "Name")
            & state_ok
            & cancel_ok
            & C.kv_has(kv, "Partition")
            & tl_ok
            & F.col("_su_start").isNotNull()
            & F.col("_su_end").isNotNull()
            & F.col("_su_nodes").isNotNull()
            & unsigned_ok("NodeCnt")
            & unsigned_ok("ProcCnt")
        )
    }
    return [layer1, layer2, layer3]


def result() -> tuple[Column, Column, Column]:
    ok = F.col("_su_ok")
    kv = F.col("_su_kv")

    def v(key: str) -> Column:
        return C.kv_get(kv, key)

    def ga(col: str, i: int) -> Column:
        return F.element_at(F.col(col), i)

    start, end = F.col("_su_start"), F.col("_su_end")
    # try_cast throughout (module convention): every value is
    # range-gated by _su_ok's regexes, but a cast abort would kill the
    # whole batch, so the casts stay abort-free as defense-in-depth
    payload = F.struct(
        v("JobId").try_cast("long").alias("job_id"),
        ga("_su_user_a", 1).alias("user"),
        ga("_su_user_a", 2).try_cast("long").alias("uid"),
        ga("_su_group_a", 1).alias("group"),
        ga("_su_group_a", 2).try_cast("long").alias("gid"),
        v("Name").alias("job_name"),
        v("JobState").alias("job_state"),
        v("CancelledBy").try_cast("long").alias("cancelled_by"),
        v("Partition").alias("partition"),
        F.when(v("TimeLimit") != "UNLIMITED", v("TimeLimit"))
        .try_cast("long")
        .alias("time_limit_minutes"),
        start.alias("start_time"),
        end.alias("end_time"),
        (F.unix_timestamp(end) - F.unix_timestamp(start)).alias("duration_seconds"),
        F.col("_su_nodes").alias("node_list"),
        v("NodeCnt").try_cast("long").alias("node_cnt"),
        v("ProcCnt").try_cast("long").alias("proc_cnt"),
        v("WorkDir").alias("work_dir"),
    )
    payload = F.when(ok, payload).otherwise(F.lit(None).cast(SLURM_PAYLOAD))
    return payload, F.when(ok, F.lit("slurm_accounting")), ok

