"""Declared schemas for the pipeline (never inferred).

Shapes mirror the reference's record types (all citations into
/root/reference):

* input table        — BASELINE.json ``input_hint``
* torque payloads    — src/HNormalise/Torque/Internal.hs:80-227
* shorewall payload  — src/HNormalise/Shorewall/Internal.hs:64-78
* snoopy payload     — src/HNormalise/Snoopy/Internal.hs:51-60
* lmod payloads      — src/HNormalise/Lmod/Internal.hs:49-80

Conventions:
* ``Integer``/epoch/bytes → LongType; ``Int`` counters → IntegerType.
* ``Maybe a`` → nullable field.
* Walltime is kept as a struct {days,hours,minutes,seconds,total_seconds}
  (the reference keeps the 4-tuple internally and serialises total
  seconds, src/HNormalise/Torque/Json.hs:57-58).
* The TorqueJobNode sum (TSN|TFN, Torque/Internal.hs:80-82) is one
  struct with nullable number/name — exactly one side set.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _f(name: str, dtype, nullable: bool = True) -> StructField:
    return StructField(name, dtype, nullable)


# ---------------------------------------------------------------------------
# Canonical input table (BASELINE.json input_hint): pre-tokenized sequences.
INPUT_SCHEMA = StructType(
    [
        _f("doc_id", StringType(), False),
        _f("tokens", ArrayType(IntegerType(), False), False),
        _f("n_tok", IntegerType(), False),
        _f("source", StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Walltime struct (Torque/Internal.hs:94-99); JSON form is total_seconds.
WALLTIME = StructType(
    [
        _f("days", LongType()),
        _f("hours", LongType()),
        _f("minutes", LongType()),
        _f("seconds", LongType()),
        _f("total_seconds", LongType()),
    ]
)

# TorqueJobName (Torque/Internal.hs:170-175)
TORQUE_JOB_NAME = StructType(
    [
        _f("number", LongType()),
        _f("array_id", LongType()),
        _f("master", StringType()),
        _f("cluster", StringType()),
    ]
)

# TorqueJobNode sum: TSN {number,ppn} | TFN {name,ppn} (Torque/Internal.hs:74-87)
TORQUE_JOB_NODE = StructType(
    [
        _f("number", LongType()),
        _f("name", StringType()),
        _f("ppn", LongType()),
    ]
)

# TorqueExecHost (Torque/Internal.hs:88-92); cores are fully enumerated
# (ranges expanded, Torque/Parser.hs:291-311).
TORQUE_EXEC_HOST = StructType(
    [
        _f("name", StringType()),
        _f("cores", ArrayType(IntegerType())),
    ]
)

# TorqueResourceRequest — 23 fields (Torque/Internal.hs:102-127).
TORQUE_RESOURCE_REQUEST = StructType(
    [
        _f("mem", LongType()),
        _f("advres", StringType()),
        _f("naccesspolicy", StringType()),
        _f("ncpus", LongType()),
        _f("cputime", WALLTIME),
        _f("prologue", StringType()),
        _f("epilogue", StringType()),
        _f("neednodes", ArrayType(TORQUE_JOB_NODE)),
        _f("nice", LongType()),
        _f("nodect", LongType()),
        _f("nodes", ArrayType(TORQUE_JOB_NODE)),
        _f("select", StringType()),
        _f("qos", StringType()),
        _f("other", StringType()),
        _f("feature", StringType()),
        _f("host", StringType()),
        _f("procs", StringType()),
        _f("nodeset", StringType()),
        _f("tpn", StringType()),
        _f("pmem", LongType()),
        _f("vmem", LongType()),
        _f("pvmem", LongType()),
        _f("mppmem", LongType()),
        _f("walltime", WALLTIME),
    ]
)

# TorqueResourceUsage (Torque/Internal.hs:130-136); cputime already in
# seconds (Torque/Parser.hs:254-256).
TORQUE_RESOURCE_USAGE = StructType(
    [
        _f("cputime", LongType()),
        _f("energy", LongType()),
        _f("mem", LongType()),
        _f("vmem", LongType()),
        _f("walltime", WALLTIME),
    ]
)

# TorqueJobTime (Torque/Internal.hs:139-145)
TORQUE_JOB_TIME = StructType(
    [
        _f("ctime", LongType()),
        _f("qtime", LongType()),
        _f("etime", LongType()),
        _f("start_time", LongType()),
        _f("end_time", LongType()),
    ]
)

# TorqueRequestor (Torque/Internal.hs:202-205)
TORQUE_REQUESTOR = StructType(
    [
        _f("user", StringType()),
        _f("whence", StringType()),
    ]
)

# Union of the six torque event variants (Q/S/D/E/A/R). ``entry_type``
# is the discriminator (TorqueEntryType, Torque/Internal.hs:58-65);
# fields unused by a variant are null.
TORQUE_PAYLOAD = StructType(
    [
        _f("entry_type", StringType()),
        _f("datestamp", StringType()),
        _f("name", TORQUE_JOB_NAME),
        _f("user", StringType()),
        _f("group", StringType()),
        _f("account", StringType()),
        _f("jobname", StringType()),
        _f("queue", StringType()),
        _f("requestor", TORQUE_REQUESTOR),
        _f("start_count", LongType()),
        _f("owner", StringType()),
        _f("session", LongType()),
        _f("times", TORQUE_JOB_TIME),
        _f("exec_host", ArrayType(TORQUE_EXEC_HOST)),
        _f("resource_request", TORQUE_RESOURCE_REQUEST),
        _f("resource_usage", TORQUE_RESOURCE_USAGE),
        _f("total_execution_slots", LongType()),
        _f("unique_node_count", LongType()),
        _f("exit_status", LongType()),
    ]
)

# ---------------------------------------------------------------------------
# Shorewall (Shorewall/Internal.hs:64-78). Host sum collapses to string
# (Common/Json.hs:47-50).
SHOREWALL_PAYLOAD = StructType(
    [
        _f("fwrule", StringType()),
        _f("fwtarget", StringType()),
        _f("fwin", StringType()),
        _f("fwout", StringType()),
        _f("fwmac", StringType()),
        _f("fwsrc", StringType()),
        _f("fwdst", StringType()),
        _f("fwproto", StringType()),
        _f("fwspt", LongType()),
        _f("fwdpt", LongType()),
    ]
)

# ---------------------------------------------------------------------------
# Snoopy (Snoopy/Internal.hs:51-60)
SNOOPY_PAYLOAD = StructType(
    [
        _f("pid", IntegerType()),
        _f("uid", IntegerType()),
        _f("username", StringType()),
        _f("sid", IntegerType()),
        _f("tty", StringType()),
        _f("cwd", StringType()),
        _f("executable", StringType()),
        _f("command", StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Lmod. LmodJobId sum (Lmod/Internal.hs:56-61): slurm bare int OR a
# torque job name — one struct, exactly one side set.
LMOD_JOB_ID = StructType(
    [
        _f("number", LongType()),
        _f("torque", TORQUE_JOB_NAME),
    ]
)

LMOD_INFO = StructType(
    [
        _f("username", StringType()),
        _f("cluster", StringType()),
        _f("jobid", LMOD_JOB_ID),
    ]
)

LMOD_MODULE = StructType(
    [
        _f("name", StringType()),
        _f("version", StringType()),
    ]
)

# Union of LmodLoad / LmodCommand (Lmod/Internal.hs:49-52,69-80);
# ``event`` is the discriminator ('load' | 'command').
LMOD_PAYLOAD = StructType(
    [
        _f("event", StringType()),
        _f("info", LMOD_INFO),
        _f("userload", BooleanType()),
        _f("module", LMOD_MODULE),
        _f("filename", StringType()),
        _f("command", StringType()),
        _f("arguments", StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Slurm jobcomp/filetxt completion record (parsing/slurm.py — the north
# star's "Slurm accounting" family; no reference counterpart, format per
# the public Slurm jobcomp plugin).
SLURM_PAYLOAD = StructType(
    [
        _f("job_id", LongType()),
        _f("user", StringType()),
        _f("uid", LongType()),
        _f("group", StringType()),
        _f("gid", LongType()),
        _f("job_name", StringType()),
        _f("job_state", StringType()),
        _f("cancelled_by", LongType()),
        _f("partition", StringType()),
        _f("time_limit_minutes", LongType()),
        _f("start_time", TimestampType()),
        _f("end_time", TimestampType()),
        _f("duration_seconds", LongType()),
        _f("node_list", ArrayType(StringType())),
        _f("node_cnt", LongType()),
        _f("proc_cnt", LongType()),
        _f("work_dir", StringType()),
    ]
)
