"""Lmod message parser as Spark Column expressions.

Re-expression of /root/reference/src/HNormalise/Lmod/Parser.hs:
``lmod:: username=U, cluster=C, jobid=[J], <load|command tail>``.
Load (:89-101) is tried before command (:103-113), preserving the
dispatch order of Parser.hs:69-70.

The jobid is a sum (Lmod/Internal.hs:56-61): a torque-style job name
(sep ','; tried first, :54-67) or a bare slurm integer; an empty value
is Nothing (maybeOption, test/HNormalise/Lmod/ParserSpec.hs:76-90). A
non-empty value matching neither fails the whole line (the reference's
``char ','`` after the jobid would fail).

Regex group extractions are materialized as intermediate columns so
each regex runs a bounded number of times per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from hnormalise_spark.parsing import common as C
from hnormalise_spark.schemas import LMOD_PAYLOAD

_INFO = r"^lmod::\s*username=([^,]*),\s*cluster=([^,]*),\s*jobid=([^,]*),"
RE_LOAD = _INFO + r"\s*userload=((?i:yes|no)),\s*module=([^/]*)/([^,]*),\s*fn=(\S*)"
RE_COMMAND = _INFO + r"\s*cmd=([^,]*),\s*args=(\S*)"


# Trailing-text tolerance (the reference leaves the rest unconsumed);
# a throwaway tail group makes the match whole-string so packed
# extraction (ONE regex run per attempted variant) applies.
_TAIL = r"((?s:.*))$"
_N_LOAD, _N_CMD = 8, 6  # groups incl. tail


def layers(gate: Column, msg: Column) -> list[dict[str, Column]]:
    layer1 = {"_lm_al": F.when(gate, C.packed_groups(msg, RE_LOAD + _TAIL, _N_LOAD))}
    layer2 = {"_lm_is_load": F.coalesce(C.packed_ok(F.col("_lm_al"), _N_LOAD), F.lit(False))}
    layer3 = {
        "_lm_ac": F.when(
            gate & ~F.col("_lm_is_load"), C.packed_groups(msg, RE_COMMAND + _TAIL, _N_CMD)
        ),
    }
    layer4 = {"_lm_is_cmd": F.coalesce(C.packed_ok(F.col("_lm_ac"), _N_CMD), F.lit(False))}

    def gl(i: int) -> Column:
        return F.when(F.col("_lm_is_load"), F.element_at(F.col("_lm_al"), i))

    def gc(i: int) -> Column:
        return F.when(F.col("_lm_is_cmd"), F.element_at(F.col("_lm_ac"), i))

    def pick(i: int) -> Column:
        return F.coalesce(gl(i), gc(i))

    layer5 = {
        "_lm_username": pick(1),
        "_lm_cluster": pick(2),
        "_lm_jobid_raw": pick(3),
        "_lm_userload": gl(4),
        "_lm_mod_name": gl(5),
        "_lm_mod_version": gl(6),
        "_lm_fn": gl(7),
        "_lm_cmd": gc(4),
        "_lm_args": gc(5),
    }
    return [layer1, layer2, layer3, layer4, layer5]


def result() -> tuple[Column, Column, Column]:
    is_load = F.col("_lm_is_load")
    is_cmd = F.col("_lm_is_cmd")
    raw = F.col("_lm_jobid_raw")

    is_torque = C.job_name_valid(raw)
    # 18-digit cap: wider ids would overflow the ANSI long cast and
    # abort the batch; the row fails (jobid_valid false) instead
    is_slurm = raw.rlike(r"^\d{1,18}$")
    jobid = F.when(
        is_torque,
        F.struct(
            F.lit(None).cast("long").alias("number"),
            C.job_name_struct(raw).alias("torque"),
        ),
    ).when(
        is_slurm,
        F.struct(
            raw.cast("long").alias("number"),
            F.lit(None)
            .cast("struct<number:long,array_id:long,master:string,cluster:string>")
            .alias("torque"),
        ),
    )
    jobid_valid = F.coalesce((raw == "") | is_torque | is_slurm, F.lit(False))

    info = F.struct(
        F.col("_lm_username").alias("username"),
        F.col("_lm_cluster").alias("cluster"),
        jobid.alias("jobid"),
    )
    load_payload = F.struct(
        F.lit("load").alias("event"),
        info.alias("info"),
        (F.lower(F.col("_lm_userload")) == "yes").alias("userload"),
        F.struct(
            F.col("_lm_mod_name").alias("name"),
            F.col("_lm_mod_version").alias("version"),
        ).alias("module"),
        F.col("_lm_fn").alias("filename"),
        F.lit(None).cast("string").alias("command"),
        F.lit(None).cast("string").alias("arguments"),
    )
    cmd_payload = F.struct(
        F.lit("command").alias("event"),
        info.alias("info"),
        F.lit(None).cast("boolean").alias("userload"),
        F.lit(None).cast("struct<name:string,version:string>").alias("module"),
        F.lit(None).cast("string").alias("filename"),
        F.col("_lm_cmd").alias("command"),
        F.col("_lm_args").alias("arguments"),
    )

    ok = (is_load | is_cmd) & jobid_valid
    payload = (
        F.when(ok & is_load, load_payload)
        .when(ok & is_cmd, cmd_payload)
        .otherwise(F.lit(None).cast(LMOD_PAYLOAD))
    )
    parser = F.when(ok & is_load, F.lit("lmod_load")).when(
        ok & is_cmd, F.lit("lmod_command")
    )
    return payload, parser, ok

