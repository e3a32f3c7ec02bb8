"""Torque accounting-line parser as Spark Column expressions.

Re-expression of /root/reference/src/HNormalise/Torque/Parser.hs
(parseTorqueQueue/Start/Delete/Exit/Abort/Rerun, :328-505).

Line shape: ``torque: <datestamp>;<TAG>;<jobname>;<body>`` where TAG ∈
{Q,S,D,E,A,R} (:328-333). The E/S bodies are space-separated ``k=v``
pairs; the reference parses them with a fixed-order fast path plus a
full permutation fallback (:170-248). This module mirrors that split
physically:

* **Fast path** — ONE mega-regex per record kind (E/S) encoding the
  reference's canonical key order (Parser.hs:171-222 for the
  Resource_List block) with typed value patterns. All ~60 capture
  groups are extracted in a single regexp_replace pass (packed_groups);
  a successful match IS the validity proof, so no per-key probing or
  per-value validation runs at all. Possessive quantifiers keep the
  scan linear.
* **Slow path** — the order-insensitive KV-map parse (str_to_map +
  typed lookups + key whitelist), the closed form of the reference's
  permutation fallback. Only rows that miss the fast path pay for it
  (the expressions are gated behind CASE branches).

Both paths materialize the same ``_tq_v`` string-struct of raw field
values, so the typed payload assembly exists once.

The fast path stays because it is measured faster: on perfbench's
``batch_mixed`` workload (``local[4]``, 4 vCPUs, six seeds) a KV-only
build cost 0.808 ms of executor task CPU per line (quartiles
0.789-0.828) against 0.730 (0.706-0.799) with the fast path, about
10% more.

Intentional, documented deviations from attoparsec semantics:
* Common accounting fields (user…etime, :337-358) are also accepted
  out of order via the slow path (the reference requires them ordered;
  real Torque logs always order them). The fast path additionally
  accepts ``total_execution_slots`` directly before ``session`` (seen
  in some Torque versions).
* Unknown keys anywhere in an E/S body fail the row (key whitelist).
  The reference fails on unknown keys *between* parsed fields but
  tolerates trailing junk after the last field.
* A fast-path absent optional text key and an explicitly empty one
  (``account=``) are distinguished via presence-marker groups, matching
  the KV path exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from hnormalise_spark.parsing import common as C
from hnormalise_spark.schemas import TORQUE_PAYLOAD

ENTRY_TYPE = {
    "Q": "TorqueQueueEntry",
    "S": "TorqueStartEntry",
    "D": "TorqueDeleteEntry",
    "E": "TorqueExitEntry",
    "A": "TorqueAbortEntry",
    "R": "TorqueRerunEntry",
}
PARSER_NAME = {
    "Q": "torque_queue",
    "S": "torque_start",
    "D": "torque_delete",
    "E": "torque_exit",
    "A": "torque_abort",
    "R": "torque_rerun",
}

# Key inventories for the KV bodies (parseTorqueExit :376-415,
# parseTorqueStart :480-505, parseCommonAccountingInfo :337-358,
# parseCommonStartInfo :362-372, parseTorqueResourceRequest :170-248,
# parseTorqueResourceUsage :260-273).
_RR_TEXT = [
    "advres", "naccesspolicy", "prologue", "epilogue", "select", "qos",
    "other", "feature", "host", "procs", "nodeset", "tpn",
]
_RR_MEM = ["mem", "pmem", "vmem", "pvmem", "mppmem"]
_RR_NUM = ["ncpus", "nice"]
_RR_KEYS = (
    _RR_TEXT + _RR_MEM + _RR_NUM + ["cput", "neednodes", "nodect", "nodes", "walltime"]
)
_RU_KEYS = ["cput", "energy_used", "mem", "vmem", "walltime"]
_EXIT_ONLY = [
    "start_count", "session", "total_execution_slots", "unique_node_count",
    "end", "Exit_status",
]
_KEYS_START = (
    ["user", "group", "account", "jobname", "queue", "ctime", "qtime", "etime"]
    + ["start", "owner", "exec_host"]
    + [f"Resource_List.{k}" for k in _RR_KEYS]
)
_KEYS_EXIT = _KEYS_START + _EXIT_ONLY + [f"resources_used.{k}" for k in _RU_KEYS]

_MANDATORY_TEXT = ["user", "group", "jobname", "queue", "owner"]

# ---------------------------------------------------------------------------
# fast-path mega-regex (canonical order, typed values)

# width bounds mirror common.py's gate regexes exactly, so a value the
# KV fallback would reject can never match the fast path either (the
# two paths must accept the same language; see common.py's ANSI note)
_P_NUM = r"\d{1,18}+"
_P_SIGNED = r"-?+\d{1,18}+"
_P_WT = r"\d{1,9}+(?::\d{1,9}+){0,3}+"  # parseTorqueWalltime shapes
_P_MEM = r"\d{1,18}+(?i:b|kb|mb|gb)"    # parseTorqueMemory


class _MegaRe:
    """Builds the anchored body regex and records, per logical field,
    (value-group index, presence-marker index or None)."""

    def __init__(self) -> None:
        self._parts: list[str] = ["^"]
        self._n = 0
        self.fields: dict[str, tuple[int, int | None]] = {}
        self.optional: set[str] = set()  # empty capture ⇔ absent
        self._first = True

    def _sep(self) -> str:
        if self._first:
            self._first = False
            return ""
        return " "

    def req(self, name: str, key: str, pat: str) -> None:
        self._parts.append(rf"{self._sep()}{key.replace('.', chr(92) + '.')}=({pat})")
        self._n += 1
        self.fields[name] = (self._n, None)

    def opt(self, name: str, key: str, pat: str) -> None:
        """Optional typed field — the pattern is non-empty, so an empty
        capture unambiguously means absent."""
        self._parts.append(rf"(?: {key.replace('.', chr(92) + '.')}=({pat}))?+")
        self._n += 1
        self.fields[name] = (self._n, None)
        self.optional.add(name)

    def opt_text(self, name: str, key: str) -> None:
        """Optional free-text field — value may be legitimately empty,
        so a marker group captures the key literal to signal presence."""
        k = key.replace(".", chr(92) + ".")
        self._parts.append(rf"(?: ({k}=)(\S*))?+")
        self.fields[name] = (self._n + 2, self._n + 1)
        self._n += 2

    def pattern(self) -> str:
        return "".join(self._parts) + "$"

    @property
    def n_groups(self) -> int:
        return self._n


def _build_body_re(exit_mode: bool) -> _MegaRe:
    b = _MegaRe()
    # parseCommonAccountingInfo (:337-358)
    b.req("user", "user", r"\S*")
    b.req("group", "group", r"\S*")
    b.opt_text("account", "account")
    b.req("jobname", "jobname", r"\S*")
    b.req("queue", "queue", r"\S*")
    b.req("ctime", "ctime", _P_NUM)
    b.req("qtime", "qtime", _P_NUM)
    b.req("etime", "etime", _P_NUM)
    if exit_mode:
        b.opt("start_count", "start_count", _P_NUM)
    # parseCommonStartInfo (:362-372)
    b.req("start", "start", _P_NUM)
    b.req("owner", "owner", r"\S*")
    b.req("exec_host", "exec_host", C.HOST_LIST_P)
    # parseTorqueResourceRequest fast-path order (:171-222)
    b.opt("rr_mem", "Resource_List.mem", _P_MEM)
    b.opt_text("rr_advres", "Resource_List.advres")
    b.opt_text("rr_naccesspolicy", "Resource_List.naccesspolicy")
    b.opt("rr_ncpus", "Resource_List.ncpus", _P_NUM)
    b.opt("rr_cput", "Resource_List.cput", _P_WT)
    b.opt_text("rr_prologue", "Resource_List.prologue")
    b.opt_text("rr_epilogue", "Resource_List.epilogue")
    b.opt("rr_neednodes", "Resource_List.neednodes", C.NODE_LIST_P)
    b.opt("rr_nice", "Resource_List.nice", _P_NUM)
    b.req("rr_nodect", "Resource_List.nodect", _P_NUM)
    b.req("rr_nodes", "Resource_List.nodes", C.NODE_LIST_P)
    b.opt_text("rr_select", "Resource_List.select")
    b.opt_text("rr_qos", "Resource_List.qos")
    b.opt_text("rr_other", "Resource_List.other")
    b.opt_text("rr_feature", "Resource_List.feature")
    b.opt_text("rr_host", "Resource_List.host")
    b.opt_text("rr_procs", "Resource_List.procs")
    b.opt_text("rr_nodeset", "Resource_List.nodeset")
    b.opt_text("rr_tpn", "Resource_List.tpn")
    b.opt("rr_pmem", "Resource_List.pmem", _P_MEM)
    b.opt("rr_vmem", "Resource_List.vmem", _P_MEM)
    b.opt("rr_pvmem", "Resource_List.pvmem", _P_MEM)
    b.opt("rr_mppmem", "Resource_List.mppmem", _P_MEM)
    b.req("rr_walltime", "Resource_List.walltime", _P_WT)
    if exit_mode:
        # parseTorqueExit (:376-415); tes accepted in either position
        # (before session: driver/Torque-6 logs; after: reference order)
        b.opt("tes_pre", "total_execution_slots", _P_NUM)
        b.req("session", "session", _P_NUM)
        b.opt("tes_post", "total_execution_slots", _P_NUM)
        b.opt("unique_node_count", "unique_node_count", _P_NUM)
        b.req("end", "end", _P_NUM)
        b.req("exit_status", "Exit_status", _P_SIGNED)
        # parseTorqueResourceUsage (:260-273)
        b.req("ru_cput", "resources_used.cput", _P_WT)
        b.opt("ru_energy", "resources_used.energy_used", _P_NUM)
        b.req("ru_mem", "resources_used.mem", _P_MEM)
        b.req("ru_vmem", "resources_used.vmem", _P_MEM)
        b.req("ru_walltime", "resources_used.walltime", _P_WT)
    return b


_MEGA_E = _build_body_re(exit_mode=True)
_MEGA_S = _build_body_re(exit_mode=False)


def _fast_struct(mega: _MegaRe, arr: Column) -> Column:
    cols = []
    for name in _MEGA_E.fields:
        if name == "tes_pre" or name == "tes_post":
            continue
        if name in mega.fields:
            idx, marker = mega.fields[name]
            v = F.element_at(arr, idx)
            if marker is not None:
                v = F.when(F.element_at(arr, marker) != "", v)
            elif name in mega.optional:
                # optional typed fields have non-empty patterns, so an
                # empty capture unambiguously means the key was absent
                v = C.nullif_empty(v)
        else:  # E-only field absent in S records
            v = F.lit(None).cast("string")
        cols.append(v.alias(name))
    if "tes_pre" in mega.fields:
        tes = F.coalesce(
            C.nullif_empty(F.element_at(arr, mega.fields["tes_pre"][0])),
            C.nullif_empty(F.element_at(arr, mega.fields["tes_post"][0])),
        )
    else:
        tes = F.lit(None).cast("string")
    cols.append(tes.alias("tes"))
    return F.struct(*cols)


_KV_KEY_OF = {
    "start_count": "start_count", "session": "session",
    "unique_node_count": "unique_node_count", "end": "end",
    "exit_status": "Exit_status", "tes": "total_execution_slots",
    "ru_energy": "resources_used.energy_used",
}


def _kv_struct(kv: Column) -> Column:
    cols = []
    for name in _MEGA_E.fields:
        if name in ("tes_pre", "tes_post"):
            continue
        if name in _KV_KEY_OF:
            key = _KV_KEY_OF[name]
        elif name.startswith("rr_"):
            key = f"Resource_List.{name[3:]}"
        elif name.startswith("ru_"):
            key = f"resources_used.{name[3:]}"
        else:
            key = name
        cols.append(F.element_at(kv, F.lit(key)).alias(name))
    cols.append(F.element_at(kv, F.lit("total_execution_slots")).alias("tes"))
    return F.struct(*cols)


# ---------------------------------------------------------------------------
# slow-path validity (KV map; the permutation-fallback equivalent)


def _kv() -> Column:
    return F.col("_tq_kv")


def _g(key: str) -> Column:
    return F.element_at(_kv(), F.lit(key))


def _has(key: str) -> Column:
    """Key present *with* an '=' (kvTextParser requires one)."""
    return F.map_contains_key(_kv(), F.lit(key)) & _g(key).isNotNull()


def _rr_valid() -> Column:
    cond = (
        _has("Resource_List.nodect") & C.unsigned_valid(_g("Resource_List.nodect"))
        & _has("Resource_List.nodes") & C.node_list_valid(_g("Resource_List.nodes"))
        & _has("Resource_List.walltime") & C.walltime_valid(_g("Resource_List.walltime"))
    )
    for k in _RR_MEM:
        cond = cond & (~_has(f"Resource_List.{k}") | C.memory_valid(_g(f"Resource_List.{k}")))
    for k in _RR_NUM:
        cond = cond & (~_has(f"Resource_List.{k}") | C.unsigned_valid(_g(f"Resource_List.{k}")))
    cond = cond & (~_has("Resource_List.cput") | C.walltime_valid(_g("Resource_List.cput")))
    cond = cond & (~_has("Resource_List.neednodes") | C.node_list_valid(_g("Resource_List.neednodes")))
    return cond


def _ru_valid() -> Column:
    return (
        _has("resources_used.cput") & C.walltime_valid(_g("resources_used.cput"))
        & _has("resources_used.mem") & C.memory_valid(_g("resources_used.mem"))
        & _has("resources_used.vmem") & C.memory_valid(_g("resources_used.vmem"))
        & _has("resources_used.walltime") & C.walltime_valid(_g("resources_used.walltime"))
        & (~_has("resources_used.energy_used") | C.unsigned_valid(_g("resources_used.energy_used")))
    )


def _whitelist_regex(allowed: list[str]) -> str:
    """One anchored possessive regex asserting every space-separated
    token is ``<known-key>=<value>``. Longest-first alternation inside
    an atomic group: the committed alternative is always the longest
    matching key, and possessive quantifiers forbid backtracking, so
    the scan is linear. (A forall() over map_keys is a CodegenFallback
    HOF — orders of magnitude slower per row.)"""
    import re as _re

    alts = "|".join(_re.escape(k) for k in sorted(allowed, key=len, reverse=True))
    return rf"^(?:[ ]*+(?>{alts})=\S*+)*+[ ]*+$"


_WL_EXIT = _whitelist_regex(_KEYS_EXIT)
_WL_START = _whitelist_regex(_KEYS_START)


def _keys_whitelisted(allowed: list[str]) -> Column:
    rx = _WL_EXIT if allowed is _KEYS_EXIT else _WL_START
    return F.col("_tq_body").rlike(rx)


def _acc_valid() -> Column:
    """Mandatory members common to Start and Exit records."""
    cond = F.lit(True)
    for k in _MANDATORY_TEXT:
        cond = cond & _has(k)
    for k in ("ctime", "qtime", "etime", "start"):
        cond = cond & _has(k) & C.unsigned_valid(_g(k))
    return cond & _has("exec_host") & C.host_list_valid(_g("exec_host"))


# ---------------------------------------------------------------------------
# layered parse


def layers(gate: Column, msg: Column) -> list[dict[str, Column]]:
    """Materialized intermediate layers (each dict = one withColumns)."""
    # Header by plain split — 'torque: DATESTAMP;TAG;NAME;BODY' needs
    # no regex at all (parseTorqueAccountingDatestamp, :328-333).
    rest = msg.substr(F.lit(9), F.length(msg))  # after 'torque: '
    parts = F.split(rest, ";", 4)
    layer1 = {
        "_tq_parts": F.when(gate, parts),
    }
    p = F.col("_tq_parts")
    tag = F.try_element_at(p, F.lit(2))  # ANSI-safe: split arity varies
    layer2 = {
        "_tq_hdr_ok": F.coalesce(
            (F.size(p) == 4) & tag.isin(*ENTRY_TYPE), F.lit(False)
        ),
        "_tq_datestamp": F.try_element_at(p, F.lit(1)),
        "_tq_tag": tag,
        "_tq_name_raw": F.try_element_at(p, F.lit(3)),
        "_tq_body": F.try_element_at(p, F.lit(4)),
    }

    tag_c = F.col("_tq_tag")
    body = F.col("_tq_body")
    hdr_ok = F.col("_tq_hdr_ok")
    # fast path: one regex execution per accounting row
    layer3 = {
        # fallback=False: a (vanishingly rare) SEP-containing body just
        # misses the fast path and parses via the KV slow path below.
        "_tq_aE": F.when(
            hdr_ok & (tag_c == "E"),
            C.packed_groups(body, _MEGA_E.pattern(), _MEGA_E.n_groups, fallback=False),
        ),
        "_tq_aS": F.when(
            hdr_ok & (tag_c == "S"),
            C.packed_groups(body, _MEGA_S.pattern(), _MEGA_S.n_groups, fallback=False),
        ),
        "_tq_name": C.job_name_struct(F.col("_tq_name_raw")),
    }
    fast_e = F.coalesce(C.packed_ok(F.col("_tq_aE"), _MEGA_E.n_groups), F.lit(False))
    fast_s = F.coalesce(C.packed_ok(F.col("_tq_aS"), _MEGA_S.n_groups), F.lit(False))
    is_acc = (tag_c == "E") | (tag_c == "S")
    layer4 = {
        "_tq_fast": fast_e | fast_s,
        "_tq_is_acc": F.coalesce(is_acc, F.lit(False)),
        # slow path only for accounting rows the mega-regex missed
        "_tq_kv": F.when(is_acc & ~(fast_e | fast_s), C.kv_map(body)),
    }

    # raw field values: the three gated source structs are built in one
    # layer and merged (coalesce — the gates are disjoint) in the next.
    layer5 = {
        "_tq_vE": F.when(
            F.coalesce(fast_e, F.lit(False)), _fast_struct(_MEGA_E, F.col("_tq_aE"))
        ),
        "_tq_vS": F.when(
            F.coalesce(fast_s, F.lit(False)), _fast_struct(_MEGA_S, F.col("_tq_aS"))
        ),
        "_tq_vKV": F.when(
            F.col("_tq_is_acc") & ~F.col("_tq_fast"), _kv_struct(_kv())
        ),
    }
    layer6 = {
        "_tq_v": F.coalesce(F.col("_tq_vE"), F.col("_tq_vS"), F.col("_tq_vKV")),
    }

    # slow-path validity: the Start conjunction is shared by Exit, so
    # it appears once in the plan and only the rest depends on the tag
    acc_ok_slow = _acc_valid() & _rr_valid()
    e_only_ok = (
        _has("session") & C.unsigned_valid(_g("session"))
        & _has("end") & C.unsigned_valid(_g("end"))
        & _has("Exit_status") & C.signed_valid(_g("Exit_status"))
        & (~_has("start_count") | C.unsigned_valid(_g("start_count")))
        & (~_has("total_execution_slots") | C.unsigned_valid(_g("total_execution_slots")))
        & (~_has("unique_node_count") | C.unsigned_valid(_g("unique_node_count")))
        & _ru_valid()
        & _keys_whitelisted(_KEYS_EXIT)
    )
    tag_ok = (
        F.when(F.col("_tq_fast"), F.lit(True))
        .when(tag_c == "Q", body.rlike(r"^queue="))
        .when(tag_c == "D", body.rlike(r"^requestor=[^@ ]*@"))
        .when(
            F.col("_tq_is_acc"),
            acc_ok_slow
            & F.when(tag_c == "E", e_only_ok).otherwise(_keys_whitelisted(_KEYS_START)),
        )
        .when((tag_c == "A") | (tag_c == "R"), F.lit(True))
        .otherwise(F.lit(False))
    )
    layer7 = {
        "_tq_ok": F.col("_tq_hdr_ok")
        & F.col("_tq_name").isNotNull()
        & F.coalesce(tag_ok, F.lit(False)),
    }
    # HOF layer (CodegenFallback — quarantined into one narrow Project,
    # gated on _tq_ok so only valid accounting rows evaluate them)
    v = F.col("_tq_v")
    acc_ok = F.col("_tq_ok") & F.col("_tq_is_acc")
    layer8 = {
        "_tq_exec": F.when(acc_ok, C.host_list(v["exec_host"])),
        "_tq_nodes": F.when(acc_ok, C.node_list(v["rr_nodes"])),
        "_tq_neednodes": F.when(acc_ok, C.node_list(v["rr_neednodes"])),
    }
    layer9 = {
        "_tq_slots_default": F.when(
            acc_ok,
            F.aggregate(
                F.col("_tq_exec"),
                F.lit(0).cast("long"),
                lambda acc, h: acc + F.size(h["cores"]).cast("long"),
            ),
        ),
        "_tq_nhosts": F.when(acc_ok, F.size(F.col("_tq_exec")).cast("long")),
    }
    return [
        layer1, layer2, layer3, layer4, layer5, layer6, layer7, layer8, layer9,
    ]


# ---------------------------------------------------------------------------
# typed payload assembly (single implementation over _tq_v)


def _rr_struct(v: Column) -> Column:
    return F.struct(
        C.memory_bytes(v["rr_mem"]).alias("mem"),
        v["rr_advres"].alias("advres"),
        v["rr_naccesspolicy"].alias("naccesspolicy"),
        C.unsigned_long(v["rr_ncpus"]).alias("ncpus"),
        C.walltime_struct(v["rr_cput"]).alias("cputime"),
        v["rr_prologue"].alias("prologue"),
        v["rr_epilogue"].alias("epilogue"),
        F.col("_tq_neednodes").alias("neednodes"),
        C.unsigned_long(v["rr_nice"]).alias("nice"),
        C.unsigned_long(v["rr_nodect"]).alias("nodect"),
        F.col("_tq_nodes").alias("nodes"),
        v["rr_select"].alias("select"),
        v["rr_qos"].alias("qos"),
        v["rr_other"].alias("other"),
        v["rr_feature"].alias("feature"),
        v["rr_host"].alias("host"),
        v["rr_procs"].alias("procs"),
        v["rr_nodeset"].alias("nodeset"),
        v["rr_tpn"].alias("tpn"),
        C.memory_bytes(v["rr_pmem"]).alias("pmem"),
        C.memory_bytes(v["rr_vmem"]).alias("vmem"),
        C.memory_bytes(v["rr_pvmem"]).alias("pvmem"),
        C.memory_bytes(v["rr_mppmem"]).alias("mppmem"),
        C.walltime_struct(v["rr_walltime"]).alias("walltime"),
    )


def result() -> tuple[Column, Column, Column]:
    """(payload, parser, ok) — references the materialized _tq_* columns."""
    ok = F.col("_tq_ok")
    tag = F.col("_tq_tag")
    is_acc = F.col("_tq_is_acc")
    body = F.col("_tq_body")
    v = F.col("_tq_v")

    total_slots = F.when(
        tag == "E",
        F.coalesce(C.unsigned_long(v["tes"]), F.col("_tq_slots_default")),
    )
    unique_nodes = F.when(
        tag == "E",
        F.coalesce(C.unsigned_long(v["unique_node_count"]), F.col("_tq_nhosts")),
    )
    times = F.when(
        is_acc,
        F.struct(
            C.unsigned_long(v["ctime"]).alias("ctime"),
            C.unsigned_long(v["qtime"]).alias("qtime"),
            C.unsigned_long(v["etime"]).alias("etime"),
            C.unsigned_long(v["start"]).alias("start_time"),
            F.when(tag == "E", C.unsigned_long(v["end"])).alias("end_time"),
        ),
    )
    requestor = F.when(
        tag == "D",
        F.struct(
            F.regexp_extract(body, r"^requestor=([^@ ]*)@", 1).alias("user"),
            F.regexp_extract(body, r"^requestor=[^@ ]*@(\S*)", 1).alias("whence"),
        ),
    )
    queue = F.when(tag == "Q", F.regexp_extract(body, r"^queue=(\S*)", 1)).when(
        is_acc, v["queue"]
    )
    ru = F.struct(
        C.cputime_seconds(v["ru_cput"]).alias("cputime"),
        C.unsigned_long(v["ru_energy"]).alias("energy"),
        C.memory_bytes(v["ru_mem"]).alias("mem"),
        C.memory_bytes(v["ru_vmem"]).alias("vmem"),
        C.walltime_struct(v["ru_walltime"]).alias("walltime"),
    )
    entry_type = F.element_at(
        F.create_map(*[F.lit(x) for kv in ENTRY_TYPE.items() for x in kv]), tag
    )
    parser = F.element_at(
        F.create_map(*[F.lit(x) for kv in PARSER_NAME.items() for x in kv]), tag
    )

    payload = F.struct(
        entry_type.alias("entry_type"),
        F.col("_tq_datestamp").alias("datestamp"),
        F.col("_tq_name").alias("name"),
        F.when(is_acc, v["user"]).alias("user"),
        F.when(is_acc, v["group"]).alias("group"),
        F.when(is_acc, v["account"]).alias("account"),
        F.when(is_acc, v["jobname"]).alias("jobname"),
        queue.alias("queue"),
        requestor.alias("requestor"),
        F.when(tag == "E", C.unsigned_long(v["start_count"])).alias("start_count"),
        F.when(is_acc, v["owner"]).alias("owner"),
        F.when(tag == "E", C.unsigned_long(v["session"])).alias("session"),
        times.alias("times"),
        F.col("_tq_exec").alias("exec_host"),
        F.when(is_acc, _rr_struct(v)).alias("resource_request"),
        F.when(tag == "E", ru).alias("resource_usage"),
        total_slots.alias("total_execution_slots"),
        unique_nodes.alias("unique_node_count"),
        F.when(tag == "E", C.signed_long(v["exit_status"])).alias("exit_status"),
    )

    payload = F.when(ok, payload).otherwise(F.lit(None).cast(TORQUE_PAYLOAD))
    return payload, F.when(ok, parser), ok

