"""JSON output shaping — byte-exact re-expression of the reference's
aeson encoders (J1-J6 in SURVEY §2.5).

A record whose reference encoder is generic (or, like Shorewall's
hand-written one, only omits absent fields) renders with ONE
``to_json(struct(...))`` over its fields aliased to the JSON keys, in
record order: ``ignoreNullFields=false`` keeps nulls as the generic
aeson encoders do, the default omits them as Shorewall/Json.hs:56-77
does. What ``to_json`` can't express is a sum-typed value whose JSON
*shape* varies per row (LmodJobId is a bare int or an object,
Lmod/Json.hs:74-76; TorqueJobNode is one of two record shapes,
Torque/Json.hs:60-62; torque's members per entry type). Those, and the
records that contain them, are concat-assembled from rendered members
with the exact field order of the Haskell records; each string leaf is
escaped via ``to_json(array(x))``. Escaping is identical on both paths,
because both run through Spark's one JSON generator.

Whole-stage codegen is off (session.py), so every task generates the
Java source of the JSON projection from this expression tree; the
encoders are written to keep that tree small — each leaf renders once,
and members shared by several record shapes render once, outside the
CASE that picks the shape.

Known deviation: the reference emits fwdpt under a *duplicate* "fwdst"
key (Shorewall/Json.hs:76 — a bug); we emit "fwdpt" (SURVEY §7).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def NULL() -> Column:  # lit() needs an active session; defer
    return F.lit("null")


def jstr(c: Column) -> Column:
    """String → JSON string literal (escaped), null → 'null'.

    ``to_json(array(c))`` is ``["…"]`` or ``[null]``: drop the ``[``,
    then rtrim the ``]`` — the character before it is always ``"`` or
    ``l``, so exactly one is removed, and the array renders once."""
    return F.rtrim(F.substring(F.to_json(F.array(c)), 2, 1 << 30), F.lit("]"))


def jnum(c: Column) -> Column:
    return F.coalesce(c.cast("string"), NULL())


def jbool(c: Column) -> Column:
    return F.coalesce(F.when(c, "true").otherwise("false"), NULL())


def _fold_concat(args: list) -> Column:
    """ONE flat concat, with adjacent string literals pre-merged: the
    per-member ``concat`` + ``concat_ws`` + brace-``concat`` tower
    allocates an intermediate UTF8String per member per row; a single
    concat writes the output once. Only valid when every member is
    always present (no omit-when-null members)."""
    folded: list = []
    for a in args:
        if isinstance(a, str) and folded and isinstance(folded[-1], str):
            folded[-1] += a
        else:
            folded.append(a)
    return F.concat(*[F.lit(a) if isinstance(a, str) else a for a in folded])


def jobjd(*pairs: tuple[str, Column]) -> Column:
    """Dense object — the generic-aeson-encoder case where every member
    is ALWAYS emitted (absent values render as the literal 'null', the
    rendered columns are never SQL-null), as one flat concat."""
    args = _member_args(*pairs)
    args[0] = "{" + args[0][1:]
    return _fold_concat([*args, "}"])


def _member_args(*pairs: tuple[str, Column]) -> list:
    """``,"k":``, v, … — always-present members as flat-concat args."""
    return [a for k, v in pairs for a in (f',"{k}":', v)]


def jarr(elems: Column) -> Column:
    """array<string of rendered JSON> → JSON array, null → 'null'."""
    return F.coalesce(
        F.concat(F.lit("["), F.array_join(elems, ","), F.lit("]")), NULL()
    )


def guard(struct: Column, rendered: Column) -> Column:
    """Whole-object null: render 'null' when the struct itself is null."""
    return F.coalesce(F.when(struct.isNotNull(), rendered), NULL())


# generic aeson encoders render Nothing as null rather than omitting it
_KEEP_NULLS = {"ignoreNullFields": "false"}


def jrec(*pairs: tuple[str, Column]) -> Column:
    """Generic-encoder record with fixed key order as ONE ``to_json``
    over the values aliased to their keys; null members render null."""
    return F.to_json(F.struct(*[v.alias(k) for k, v in pairs]), _KEEP_NULLS)


def jval(c: Column) -> Column:
    """A struct (or array of structs) whose field names already are its
    JSON keys, generic encoder: one ``to_json``, null → 'null'."""
    return F.coalesce(F.to_json(c, _KEEP_NULLS), NULL())


# ---------------------------------------------------------------------------
# shared pieces


def _job_name(n: Column) -> Column:
    # TorqueJobName generic encoder: number, arrayId, master, cluster
    return guard(
        n,
        jrec(
            ("number", n["number"]),
            ("arrayId", n["array_id"]),
            ("master", n["master"]),
            ("cluster", n["cluster"]),
        ),
    )


def _walltime_secs(w: Column) -> Column:
    # TorqueWalltime.toEncoding → total seconds (Torque/Json.hs:57-58)
    return jnum(w["total_seconds"])


def _node_list(nl: Column) -> Column:
    # TorqueJobNode sum: TSN → {"number":..,"ppn":..}, TFN →
    # {"name":..,"ppn":..} (generic encoders keep null ppn)
    return jarr(
        F.transform(
            nl,
            lambda nd: F.when(
                nd["number"].isNotNull(),
                jobjd(("number", jnum(nd["number"])), ("ppn", jnum(nd["ppn"]))),
            ).otherwise(
                jobjd(("name", jstr(nd["name"])), ("ppn", jnum(nd["ppn"]))),
            ),
        )
    )


def _resource_request(rr: Column) -> Column:
    return guard(
        rr,
        jobjd(
            ("mem", jnum(rr["mem"])),
            ("advres", jstr(rr["advres"])),
            ("naccesspolicy", jstr(rr["naccesspolicy"])),
            ("ncpus", jnum(rr["ncpus"])),
            ("cputime", F.coalesce(F.when(rr["cputime"].isNotNull(), _walltime_secs(rr["cputime"])), NULL())),
            ("prologue", jstr(rr["prologue"])),
            ("epilogue", jstr(rr["epilogue"])),
            ("neednodes", _node_list(rr["neednodes"])),
            ("nice", jnum(rr["nice"])),
            ("nodeCount", jnum(rr["nodect"])),
            ("nodes", _node_list(rr["nodes"])),
            ("select", jstr(rr["select"])),
            ("qos", jstr(rr["qos"])),
            ("other", jstr(rr["other"])),
            ("feature", jstr(rr["feature"])),
            ("host", jstr(rr["host"])),
            ("procs", jstr(rr["procs"])),
            ("nodeset", jstr(rr["nodeset"])),
            ("tpn", jstr(rr["tpn"])),
            ("pmem", jnum(rr["pmem"])),
            ("vmem", jnum(rr["vmem"])),
            ("pvmem", jnum(rr["pvmem"])),
            ("mppmem", jnum(rr["mppmem"])),
            ("walltime", _walltime_secs(rr["walltime"])),
        ),
    )


def _times(t: Column) -> Column:
    return guard(
        t,
        jrec(
            ("ctime", t["ctime"]),
            ("qtime", t["qtime"]),
            ("etime", t["etime"]),
            ("startTime", t["start_time"]),
            ("endTime", t["end_time"]),
        ),
    )


def _resource_usage(ru: Column) -> Column:
    return guard(
        ru,
        jrec(
            ("cputime", ru["cputime"]),
            ("energy", ru["energy"]),
            ("mem", ru["mem"]),
            ("vmem", ru["vmem"]),
            ("walltime", ru["walltime"]["total_seconds"]),
        ),
    )


def torque_json(t: Column) -> Column:
    """TorqueParseResult encoder (Torque/Json.hs; field order = record
    order in Torque/Internal.hs, asserted by the e2e golden at
    test/HNormalise/ParserSpec.hs:78).

    The six entry types share their head and tail, so those render once:
    only the members between ``name`` and ``torqueEntryType`` depend on
    the entry type, and the Start/Exit accounting block is one block
    whose Exit-only members render as '' on Start rows."""
    et = t["entry_type"]

    def exit_only(*pairs: tuple[str, Column]) -> Column:
        return F.when(et == "TorqueExitEntry", _fold_concat(_member_args(*pairs))).otherwise("")

    accounting = _fold_concat([
        *_member_args(
            ("user", jstr(t["user"])),
            ("group", jstr(t["group"])),
            ("account", jstr(t["account"])),
            ("jobname", jstr(t["jobname"])),
            ("queue", jstr(t["queue"])),
        ),
        exit_only(("startCount", jnum(t["start_count"]))),
        *_member_args(("owner", jstr(t["owner"]))),
        exit_only(("session", jnum(t["session"]))),
        *_member_args(
            ("times", _times(t["times"])),
            # array<{name, cores}>; cores never hold a null
            # (common.host_list builds them with sequence())
            ("execHost", jval(t["exec_host"])),
            ("resourceRequest", _resource_request(t["resource_request"])),
        ),
        exit_only(
            ("resourceUsage", _resource_usage(t["resource_usage"])),
            ("totalExecutionSlots", jnum(t["total_execution_slots"])),
            ("uniqueNodeCount", jnum(t["unique_node_count"])),
            ("exitStatus", jnum(t["exit_status"])),
        ),
    ])
    middle = (
        F.when(et == "TorqueQueueEntry", _fold_concat(_member_args(("queue", jstr(t["queue"])))))
        .when(et == "TorqueDeleteEntry", _fold_concat(_member_args(
            ("requestor", jval(t["requestor"])),
        )))
        .when(et.isin("TorqueStartEntry", "TorqueExitEntry"), accounting)
        .when(et.isin("TorqueAbortEntry", "TorqueRerunEntry"), F.lit(""))
    )
    return _fold_concat([
        '{"torqueDatestamp":', jstr(t["datestamp"]),
        ',"name":', _job_name(t["name"]),
        middle,
        ',"torqueEntryType":"', et, '"}',
    ])


def lmod_json(l: Column) -> Column:
    """LmodParseResult encoder (Lmod/Json.hs:55-76): the 'modul' field
    renames to "module"; jobid renders as bare int (slurm), object
    (torque) or null."""
    jid = l["info"]["jobid"]
    jobid = (
        F.when(jid.isNull(), NULL())
        .when(jid["number"].isNotNull(), jnum(jid["number"]))
        .otherwise(_job_name(jid["torque"]))
    )
    info = jobjd(
        ("username", jstr(l["info"]["username"])),
        ("cluster", jstr(l["info"]["cluster"])),
        ("jobid", jobid),
    )
    load = _member_args(
        ("userload", jbool(l["userload"])),
        ("module", jval(l["module"])),
        ("filename", jstr(l["filename"])),
    )
    cmd = _member_args(
        ("command", jstr(l["command"])),
        ("arguments", jstr(l["arguments"])),
    )
    # info renders once; only the members after it depend on the event
    rest = F.when(l["event"] == "load", _fold_concat(load)).otherwise(_fold_concat(cmd))
    return _fold_concat(['{"info":', info, rest, "}"])


def snoopy_json(s: Column) -> Column:
    """Snoopy generic encoder (Snoopy/Json.hs) — nulls kept. The
    payload's fields are the JSON keys in record order."""
    return jval(s)


def shorewall_json(s: Column) -> Column:
    """Hand-rolled Shorewall encoder (Shorewall/Json.hs:56-77): absent
    optional fields are OMITTED (not null). Deviation: fwdpt under its
    own key, not the reference's duplicate "fwdst" (a bug, SURVEY §7).

    The payload's fields are the JSON keys in record order, and the
    always-emitted members (rule, target, in, src, dst, proto) are
    regex groups of the matched protocol pattern, never null on a
    parsed row — so omitting every null member is the reference's
    policy exactly."""
    return F.to_json(s)


def slurm_json(s: Column) -> Column:
    """Slurm accounting encoder (north-star family, no reference
    counterpart): dense object in record order; timestamps render as
    the ISO seconds form the record carries; node_list as a JSON array
    of expanded hostnames; absent optionals (cancelled_by, unlimited
    time_limit, work_dir) render as null like the generic encoders."""
    iso = "yyyy-MM-dd'T'HH:mm:ss"
    return jrec(
        ("jobId", s["job_id"]),
        ("user", s["user"]),
        ("uid", s["uid"]),
        ("group", s["group"]),
        ("gid", s["gid"]),
        ("name", s["job_name"]),
        ("jobState", s["job_state"]),
        ("cancelledBy", s["cancelled_by"]),
        ("partition", s["partition"]),
        ("timeLimitMinutes", s["time_limit_minutes"]),
        ("startTime", F.date_format(s["start_time"], iso)),
        ("endTime", F.date_format(s["end_time"], iso)),
        ("durationSeconds", s["duration_seconds"]),
        ("nodeList", s["node_list"]),
        ("nodeCnt", s["node_cnt"]),
        ("procCnt", s["proc_cnt"]),
        ("workDir", s["work_dir"]),
    )


def payload_json() -> Column:
    """The <jsonkey>: payload member for a normalised row."""
    return (
        F.when(F.col("jsonkey") == "torque", torque_json(F.col("torque")))
        .when(F.col("jsonkey") == "lmod", lmod_json(F.col("lmod")))
        .when(F.col("jsonkey") == "shorewall", shorewall_json(F.col("shorewall")))
        .when(F.col("jsonkey") == "snoopy", snoopy_json(F.col("snoopy")))
        .when(F.col("jsonkey") == "slurm", slurm_json(F.col("slurm")))
    )


# Envelope JSON field names (Rsyslog generic ToJSON, Json.hs:76-78) →
# our columns; fields the logstash path leaves empty render as "".
_ENVELOPE_JSON_FIELDS = {
    "msg": ("msg", "str"),
    "timereported": ("timereported_raw", "str"),
    "hostname": ("hostname", "str"),
    "syslogtag": ("syslogtag", "str"),
    "pri": ("pri", "num"),
    "version": ("version", "num"),
    "app_name": ("appname", "str"),
}
_EMPTY_ENVELOPE_FIELDS = {
    "inputname", "fromhost", "fromhost_ip", "syslogfacility",
    "syslogseverity", "programname", "protocol_version", "procid",
}


def encode_normalised(fields: list[tuple[str, str]] | None = None) -> Column:
    """encodeNormalisedRsyslog (Json.hs:82-100).

    Default: {"message","syslog_abspri","syslog_version","program",
    "@source_host", <jsonkey>: payload}. With a fields config, emit
    {<jsonkey>: payload, <out_key>: <envelope field>, ...} — payload
    first, exactly as the reference's pairs fold (Json.hs:94-96).
    """
    # every member is always present (envelope values render 'null'
    # when absent, the payload member is the parse result itself), so
    # the whole line folds into ONE flat concat — the previous
    # build-head-then-splice (substr(head, len-1) + concat) and the
    # per-member concat towers each materialized the full line one
    # extra time per row.
    if fields is None:
        args: list = [
            '{"message":', jstr(F.col("msg")),
            ',"syslog_abspri":', jnum(F.col("pri")),
            ',"syslog_version":', jnum(F.col("version")),
            ',"program":', jstr(F.col("appname")),
            ',"@source_host":', jstr(F.col("hostname")),
            ',"', F.col("jsonkey"), '":', payload_json(), "}",
        ]
        return _fold_concat(args)

    args = ['{"', F.col("jsonkey"), '":', payload_json()]
    for out_key, field in fields:
        if field in _ENVELOPE_JSON_FIELDS:
            col, kind = _ENVELOPE_JSON_FIELDS[field]
            rendered = jstr(F.col(col)) if kind == "str" else jnum(F.col(col))
        elif field in _EMPTY_ENVELOPE_FIELDS:
            rendered = '""'
        else:
            rendered = "null"  # M.lookupDefault Null (Json.hs:95)
        # an out-key is config text: escape it as aeson escapes keys
        args.append("," + json.dumps(out_key, ensure_ascii=False) + ":")
        args.append(rendered)
    args.append("}")
    return _fold_concat(args)
