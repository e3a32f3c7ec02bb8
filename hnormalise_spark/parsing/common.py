"""Common scalar extraction combinators (Column → Column).

Spark re-expressions of /root/reference/src/HNormalise/Common/Parser.hs
and the shared Torque scalar parsers
(/root/reference/src/HNormalise/Torque/Parser.hs:62-143,291-311).

Every helper is null-safe: a null or invalid input yields a null
result, and a matching ``*_valid`` predicate exists where the caller
must distinguish "absent" from "present but malformed" (the reference
fails the whole line in the latter case).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# regexes (Java flavour)
#
# Digit runs are WIDTH-BOUNDED everywhere a match later feeds an ANSI
# cast or arithmetic: the reference parses into unbounded Integer, but
# our schemas are int64, and under ANSI mode an overflowing cast (or
# multiply) aborts the ENTIRE batch. Bounding the gate regex instead
# makes an unrepresentable value fail its OWN row into the failure
# sink — the documented deviation (SURVEY §7): 18 digits where only a
# cast follows (< 2^63), 9 where the value enters multiplication
# (walltime/ppn), 4 for core indices (which drive sequence expansion).

# [[[DD:]HH:]MM:]SS — parseTorqueWalltime (Torque/Parser.hs:62-89).
RE_WALLTIME = r"^\d{1,9}(:\d{1,9}){0,3}$"

# <decimal><b|kb|mb|gb> case-insensitive — parseTorqueMemory (:94-105).
RE_MEMORY = r"(?i)^(\d{1,18})(b|kb|mb|gb)$"

# NUM[[ARR]|-ARR].master.cluster(.rest)? — parseTorqueJobName (:109-127).
# master/cluster are take-till-dot; the trailing rest is ignored.
RE_JOB_NAME = r"^(\d{1,18})(?:\[(\d{0,18})\]|-(\d{1,18}))?\.([^.]*)\.([^.]*)"

RE_UNSIGNED = r"^\d{1,18}$"
RE_SIGNED = r"^-?\d{1,18}$"

# Whole '+'-separated Resource_List node list
# (parseTorqueResourceNodeList, :133-143: a digit-leading element is a
# node count, anything else an FQDN, both with an optional ppn suffix)
# as ONE anchored regex (possessive quantifiers — no backtracking, one
# generated rlike; the split+forall form is a CodegenFallback HOF and
# ~1000× slower/row). \s excluded so the same body can embed inside
# the torque fast-path mega-regex without eating the following
# ' Resource_List.*' tokens (isolated KV values never contain spaces —
# str_to_map splits on ' ').
_NODE_ELEM_P = r"(?:\d{1,9}+(?::ppn=\d{1,9}+)?+|[^0-9:+\s][^:+\s]*+(?::ppn=\d{1,9}+)?+)"
NODE_LIST_P = rf"{_NODE_ELEM_P}(?:\+{_NODE_ELEM_P})*+"
RE_NODE_LIST = rf"^{NODE_LIST_P}$"

# Whole exec_host value (parseTorqueHostList, :291-311: '+'-joined
# fqdn/corespec, corespec a comma list of ints and lo-hi ranges) as one
# anchored possessive regex (\s excluded for mega-regex embedding, see
# NODE_LIST_P). Core indices are capped at 4 digits: they drive
# F.sequence expansion, so the cap also bounds the widest possible
# per-range blowup at 10^4 elements.
_HOST_ELEM_P = r"[^/+\s]*+/\d{1,4}+(?:-\d{1,4}+)?+(?:,\d{1,4}+(?:-\d{1,4}+)?+)*+"
HOST_LIST_P = rf"{_HOST_ELEM_P}(?:\+{_HOST_ELEM_P})*+"
RE_HOST_LIST = rf"^{HOST_LIST_P}$"

# Host value accepted by hostnameOrIPParser (Common/Parser.hs:53-64):
# IPv4 | IPv6 | lowercase dotted hostname. The reference would leave
# trailing junk unconsumed and fail on the *next* parser; requiring a
# full-token match here is the row-level equivalent.
RE_HOST_OR_IP = (
    r"^(?:\d{1,3}(?:\.\d{1,3}){3}"
    r"|[0-9A-Fa-f:]*:[0-9A-Fa-f:.]*"
    r"|[a-z0-9-]+(?:\.[a-z0-9-]+)*)$"
)


def nullif_empty(c: Column) -> Column:
    """'' → null (regexp_extract yields '' for a non-participating group)."""
    return F.when(c != "", c)


def let(value: Column, body) -> Column:
    """Expression-level let-binding: evaluate ``value`` ONCE and pass it
    to ``body`` as a lambda variable.

    Interpreted expression evaluation (every HOF Project runs
    interpreted) has no common-subexpression elimination, so an
    expensive subtree referenced N times in one expression is computed
    N times per row. Wrapping it as the element of a 1-element array
    and binding through transform's lambda variable makes it a true
    single evaluation, at the cost of one tiny array allocation."""
    return F.element_at(F.transform(F.array(value), body), 1)


# ---------------------------------------------------------------------------
# single-pass multi-group extraction
#
# regexp_extract runs the whole regex once PER GROUP, so an 8-group
# envelope costs 8 full matches per row. Packing every group into one
# regexp_replace and splitting on \x01 costs exactly ONE match per row,
# and match success is detected from the split arity (a non-matching
# regexp_replace returns its input unchanged, which contains no \x01).
#
# Arity alone is spoofable: an input that itself contains \x01 bytes can
# fake the match arity (routing garbage into ANSI casts) or, the other
# way, push a genuinely matching line past the expected arity (wrongly
# failing it). SEP-containing sources therefore NEVER take the packed
# path: they either go through an exact rlike + per-group
# regexp_extract fallback (``fallback=True``, default) or yield null so
# the caller's own slow path handles them (``fallback=False`` — the
# torque mega-regex, whose rows fall back to the order-insensitive KV
# parse with identical semantics).

SEP = "\x01"


def packed_groups(
    s: Column, pattern: str, n_groups: int, fallback: bool = True
) -> Column:
    """ONE regex execution extracting all capture groups of an
    anchored-whole-string `pattern`: array<string> of size `n_groups`
    on match, null on mismatch — callers gate on ``packed_ok``.
    Non-participating groups yield ''. Exact for every input: sources
    containing the packing byte take a per-group regexp_extract
    fallback (or fail cleanly with ``fallback=False``)."""
    repl = SEP.join(f"${i}" for i in range(1, n_groups + 1))
    # NOTE: `packed` must appear exactly ONCE in the returned tree — a
    # size-gate like when(size(packed)==n, packed) duplicates the
    # regexp_replace inside a conditional, where codegen subexpression
    # elimination cannot share it, doubling the (dominant) regex cost.
    # On mismatch the split returns a 1-element array; packed_ok's
    # arity check rejects it, and the SEP guard here makes that arity
    # check unspoofable.
    packed = F.split(F.regexp_replace(s, pattern, repl), SEP, -1)
    if not fallback:
        return F.when(~s.contains(SEP), packed)
    fb = F.when(
        s.rlike(pattern),
        F.array(*[F.regexp_extract(s, pattern, i) for i in range(1, n_groups + 1)]),
    )
    return F.when(s.contains(SEP), fb).otherwise(packed)


def packed_ok(arr: Column, n_groups: int) -> Column:
    """True iff `arr` is a genuine match result (never null)."""
    return F.coalesce(F.size(arr) == n_groups, F.lit(False))


# ---------------------------------------------------------------------------
# walltime


def walltime_valid(s: Column) -> Column:
    return s.rlike(RE_WALLTIME)


def walltime_struct(s: Column) -> Column:
    """[[[DD:]HH:]MM:]SS → {days,hours,minutes,seconds,total_seconds}.

    Right-aligned split (the reference nests day→hour→minute→second
    parsers; splitting and right-aligning is the closed form). Null on
    invalid input. The split is let-bound: nine references in the
    struct would otherwise re-split per reference (interpreted eval has
    no subexpression sharing).
    """

    def build(parts: Column) -> Column:
        n = F.size(parts)

        def at(i: int) -> Column:  # i-th part from the right, 0 if absent
            return (
                F.when(n >= i, F.element_at(parts, -i).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )

        secs, mins, hours, days = at(1), at(2), at(3), at(4)
        total = ((days * 24 + hours) * 60 + mins) * 60 + secs
        return F.struct(
            days.alias("days"),
            hours.alias("hours"),
            mins.alias("minutes"),
            secs.alias("seconds"),
            total.alias("total_seconds"),
        )

    return F.when(walltime_valid(s), let(F.split(s, ":"), build))


def walltime_seconds(s: Column) -> Column:
    """Walltime string → total seconds (JSON form, Torque/Json.hs:57-58)."""
    return walltime_struct(s)["total_seconds"]


def cputime_seconds(s: Column) -> Column:
    """parseTorqueCpuTime (:254-256): walltime-or-bare-seconds → seconds.

    Bare seconds is the 1-part walltime, so the walltime form subsumes it.
    """
    return walltime_seconds(s)


# ---------------------------------------------------------------------------
# memory


def memory_valid(s: Column) -> Column:
    return s.rlike(RE_MEMORY)


def memory_bytes(s: Column) -> Column:
    """'123kb' → 125952 (×1024ⁿ, case-insensitive unit) else null.

    One regex run (the validity rlike); value/unit come from substring
    arithmetic instead of two more regexp_extract passes."""
    l = F.lower(s)
    two = l.endswith("kb") | l.endswith("mb") | l.endswith("gb")
    unit_len = F.when(two, F.lit(2)).otherwise(F.lit(1))
    mult = (
        F.when(l.endswith("kb"), F.lit(1024))
        .when(l.endswith("mb"), F.lit(1024 * 1024))
        .when(l.endswith("gb"), F.lit(1024 * 1024 * 1024))
        .otherwise(F.lit(1))
    ).cast("long")
    value = s.substr(F.lit(1), F.length(s) - unit_len).try_cast("long")
    # try_multiply: an 18-digit byte count is representable, but the
    # same digits with a gb unit would overflow the multiply and (ANSI)
    # abort the batch — null the field instead
    return F.when(memory_valid(s), F.try_multiply(value, mult))


# ---------------------------------------------------------------------------
# integers (kvNumParser / kvSignedParser, Common/Parser.hs:89-96)


def unsigned_valid(s: Column) -> Column:
    return s.rlike(RE_UNSIGNED)


def signed_valid(s: Column) -> Column:
    return s.rlike(RE_SIGNED)


def unsigned_long(s: Column) -> Column:
    return F.when(unsigned_valid(s), s.cast("long"))


def signed_long(s: Column) -> Column:
    return F.when(signed_valid(s), s.cast("long"))


# ---------------------------------------------------------------------------
# torque job name


def job_name_valid(s: Column) -> Column:
    """Bare '123456' (no dots) must fail (ParserSpec.hs:142-144)."""
    return s.rlike(RE_JOB_NAME)


# full-string form of RE_JOB_NAME for single-pass packed extraction
# (digit bounds MUST mirror RE_JOB_NAME — the groups feed long casts)
_RE_JOB_NAME_FULL = (
    r"(?s)^(\d{1,18})(?:\[(\d{0,18})\]|-(\d{1,18}))?\.([^.]*)\.([^.]*).*$"
)


def job_name_struct(s: Column) -> Column:
    """→ {number, array_id, master, cluster}; '[]' ⇒ array_id null
    (ParserSpec.hs:712-718); '-N' dash form supported (:125-127).

    One regex pass: all five groups packed and split (match success is
    the packed arity, so not even a validity rlike is needed). The
    packed array is let-bound — its six references would otherwise
    re-run the regex per reference."""

    def build(a: Column) -> Column:
        number = F.element_at(a, 1).cast("long")
        array_id = F.coalesce(
            nullif_empty(F.element_at(a, 2)), nullif_empty(F.element_at(a, 3))
        ).cast("long")
        return F.when(
            packed_ok(a, 5),
            F.struct(
                number.alias("number"),
                array_id.alias("array_id"),
                F.element_at(a, 4).alias("master"),
                F.element_at(a, 5).alias("cluster"),
            ),
        )

    return let(packed_groups(s, _RE_JOB_NAME_FULL, 5), build)


# ---------------------------------------------------------------------------
# Resource_List node lists (parseTorqueResourceNodeList, :133-143)


def node_list_valid(s: Column) -> Column:
    return s.rlike(RE_NODE_LIST)


def node_list(s: Column) -> Column:
    """'1:ppn=2+n1.dom:ppn=4' → array<{number,name,ppn}> (TSN|TFN sum:
    exactly one of number/name set per element)."""

    def elem(e: Column) -> Column:
        is_short = e.rlike(r"^\d")
        ppn = nullif_empty(F.regexp_extract(e, r":ppn=(\d+)$", 1)).cast("long")
        number = F.when(is_short, F.regexp_extract(e, r"^(\d+)", 1).cast("long"))
        name = F.when(~is_short, F.regexp_extract(e, r"^([^:]+)", 1))
        return F.struct(number.alias("number"), name.alias("name"), ppn.alias("ppn"))

    return F.when(node_list_valid(s), F.transform(F.split(s, r"\+"), elem))


# ---------------------------------------------------------------------------
# exec_host lists (parseTorqueHostList + aggregateHosts, :278-311)


def host_list_valid(s: Column) -> Column:
    # An empty value parses to [] in the reference (sepBy matches zero).
    return (s == "") | s.rlike(RE_HOST_LIST)


def host_list(s: Column) -> Column:
    """'n1/0-1,4+n2/0' → aggregated array<{name, cores:array<int>}>.

    Ranges are expanded to the full enumeration (golden [0..15] at
    test/HNormalise/Torque/ParserSpec.hs:505-527); entries for the same
    host are merged with cores sorted (aggregateHosts, :278-286).

    HOFs evaluate interpreted, so per-row expression-node count is the
    cost driver: each element is decomposed with ONE split (no regex),
    and the dominant no-repeated-host case takes a single
    sort-of-structs fast path instead of the per-name filter+flatten
    merge (which stays as the slow branch — CASE evaluates only one).
    """

    def cores_of(spec: Column) -> Column:
        def piece(c: Column) -> Column:
            d = F.split(c, "-")
            lo = F.element_at(d, 1).cast("int")
            hi = F.element_at(d, -1).cast("int")
            # reference [lo..hi] is empty when lo > hi
            return F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
                F.array().cast("array<int>")
            )

        return F.flatten(F.transform(F.split(spec, ","), piece))

    def elem(e: Column) -> Column:
        p = F.split(e, "/", 2)
        return F.struct(
            F.element_at(p, 1).alias("name"),
            cores_of(F.element_at(p, 2)).alias("cores"),
        )

    def aggregate_hosts(raw_hosts: Column) -> Column:
        names = F.array_sort(
            F.array_distinct(F.transform(raw_hosts, lambda h: h["name"]))
        )
        # fast path: every host distinct → sort entries (struct order
        # is name-first) and sort each core list; no per-name scan
        unique_fast = F.array_sort(
            F.transform(
                raw_hosts,
                lambda h: F.struct(
                    h["name"].alias("name"), F.array_sort(h["cores"]).alias("cores")
                ),
            )
        )

        def merged(nms: Column) -> Column:
            return F.transform(
                nms,
                lambda nm: F.struct(
                    nm.alias("name"),
                    F.array_sort(
                        F.flatten(
                            F.transform(
                                F.filter(raw_hosts, lambda h: h["name"] == nm),
                                lambda h: h["cores"],
                            )
                        )
                    ).alias("cores"),
                ),
            )

        # let-bind names: referenced by the gate and the merged branch
        return let(
            names,
            lambda nms: F.when(F.size(nms) == F.size(raw_hosts), unique_fast).otherwise(
                merged(nms)
            ),
        )

    empty = F.array().cast("array<struct<name:string,cores:array<int>>>")
    # let-bind the parsed elements: the gate, both branches and the name
    # extraction all reference them (interpreted eval would recompute
    # the split + core expansion per reference)
    aggregated = let(F.transform(F.split(s, r"\+"), elem), aggregate_hosts)
    return F.when(s == "", empty).when(host_list_valid(s), aggregated)


# ---------------------------------------------------------------------------
# KV body → map (order-insensitive closed form of the reference's
# ordered-with-permutation-fallback parse, Torque/Parser.hs:170-248)


def kv_map(body: Column) -> Column:
    """Space-separated ``k=v`` tokens → map<string,string>.

    Splits each token on the *first* '='; tokens without '=' become
    null-valued keys (distinguishable from ``k=`` which maps to '').
    """
    return F.str_to_map(body, F.lit(" "), F.lit("="))


def kv_has(kv: Column, key: str) -> Column:
    """Key present *with* an '=' (kvTextParser requires one)."""
    return F.map_contains_key(kv, F.lit(key)) & F.element_at(kv, F.lit(key)).isNotNull()


def kv_get(kv: Column, key: str) -> Column:
    return F.element_at(kv, F.lit(key))
