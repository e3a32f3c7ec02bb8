"""The normalisation pipeline: parse → route → aggregate.

Declarative DataFrame plan mirroring the reference's dataflow
(/root/reference/src/HNormalise.hs:89-98 + Util.hs:74-98):

    lines → envelope parse → ordered payload dispatch → typed structs
          → parse_ok routing (success/failure sinks) → counts

Dispatch (parseMessage, /root/reference/src/HNormalise/Parser.hs:66-78)
is first-match-wins over: lmod load, lmod command, shorewall
tcp/udp/icmp, snoopy, torque Q/S/D/E/A/R. Each family parser begins
with a distinct literal prefix (``lmod::``, ``kernel:: Shorewall:``,
``snoopy[``, ``torque: ``), so a cheap prefix gate picks the single
family whose (expensive) extraction expressions run for a row — the
vectorized equivalent of the reference's ordered alternatives, and the
README's suggested tag-based pre-routing (README.md:62-66) built in.

Physical-plan shape: the parse is a chain of Projects over materialized
intermediate columns (each family's `layers()`), so shared subtrees
(KV maps, regex match flags) evaluate once per row. The families' layers
run side by side: step k of all five families is ONE Project, so the
chain is as long as the deepest family (torque's nine), not the sum.
Whole-stage codegen is off (session.py), so each Project is its own
small, JIT-able projection — and every task generates its Java source
again from the expression tree (the class cache saves only the
compile). That per-task cost grows with the number of Projects and of
expression nodes, which is why both are kept low (tests/test_plans.py).
No shuffle anywhere in the parse; the only shuffle in the whole
pipeline is the (tiny) counts aggregate. Everything is JVM
expressions; no Python runs per row.
"""

from __future__ import annotations

from itertools import zip_longest

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hnormalise_spark.parsing import lmod, shorewall, slurm, snoopy, torque
from hnormalise_spark.parsing.envelope import RE_ENVELOPE, RE_RFC3339
from hnormalise_spark.tokenizer import detokenize_col

# family → (module, prefix literal, appname); order = reference dispatch
# order (prefixes are mutually exclusive, so the when-cascade preserves
# first-match-wins exactly).
FAMILIES = [
    ("lmod", lmod, "lmod::", "lmod"),
    ("shorewall", shorewall, "kernel:: Shorewall:", "kernel"),
    ("snoopy", snoopy, "snoopy[", "snoopy"),
    ("torque", torque, "torque: ", "torque"),
    # north-star addition (no reference counterpart): Slurm accounting
    # records — appended after the reference's dispatch order, its
    # prefix mutually exclusive with all of the above.
    ("slurm", slurm, slurm.PREFIX, "slurmctld"),
]

def _family_col(msg: Column) -> Column:
    out = None
    for fam, _, prefix, _ in FAMILIES:
        cond = msg.startswith(prefix)
        out = F.when(cond, F.lit(fam)) if out is None else out.when(cond, F.lit(fam))
    return out


def normalise(df: DataFrame, line_col: str = "raw") -> DataFrame:
    """Parse a DataFrame of raw log lines into the normalised shape.

    Keeps all pre-existing columns (doc_id, source, tokens, …) and adds
    envelope fields, one nullable payload struct per family, and the
    ``appname/parser/jsonkey/parse_ok`` routing columns.
    """
    return _payload_stage(_envelope_stage(df, line_col))


# rsyslog %jsonmesg% object (Rsyslog FromJSON, Json.hs:51-74; record
# Internal.hs:81-103). Hyphenated JSON keys are aliased to the
# underscore column names the rest of the pipeline uses.
RSYSLOG_JSON_DDL = (
    "msg string, timereported string, hostname string, syslogtag string, "
    "inputname string, fromhost string, `fromhost-ip` string, pri int, "
    "version int, syslogfacility string, syslogseverity string, "
    "timegenerated string, programname string, `protocol-version` string, "
    "`app-name` string, procid string"
)

# non-Maybe Rsyslog fields: absence fails the aeson decode → Original
_JSON_REQUIRED = [
    "msg", "timereported_raw", "hostname", "syslogtag", "inputname",
    "fromhost", "fromhost_ip", "syslogfacility", "syslogseverity",
    "programname", "protocol_version", "appname_in", "procid",
]

# Maybe-typed fields decoded with (.:) — aeson still requires the KEY
# to exist; only an explicit null maps to Nothing (Json.hs:63-66). The
# from_json value can't distinguish the two, so presence is checked on
# the top-level key set.
_JSON_REQUIRED_KEYS = ["pri", "version", "timegenerated"]

# envelope fields each parse fills, blanked on a failed row
_ENVELOPE_FIELDS = [
    "pri", "version", "timereported", "timereported_raw", "hostname",
    "syslogtag", "msg",
]
_JSON_ENVELOPE_FIELDS = [
    *_ENVELOPE_FIELDS, "inputname", "fromhost", "fromhost_ip",
    "syslogfacility", "syslogseverity", "timegenerated", "programname",
    "protocol_version", "appname_in", "procid",
]


def normalise_json(df: DataFrame, line_col: str = "raw") -> DataFrame:
    """JSON-mode input (normaliseJsonInput, HNormalise.hs:78-84): each
    row is an rsyslog %jsonmesg% object; the envelope comes from JSON
    fields and only the ``msg`` member goes through the payload parse.
    Bad JSON, missing mandatory members, or an unparseable msg all
    route to failure with the original bytes untouched."""
    df = df.withColumn("_line", F.regexp_replace(F.col(line_col), r"[\r\n]+$", ""))
    j = F.from_json(F.col("_line"), RSYSLOG_JSON_DDL)
    df = df.withColumns(
        {
            "pri": j["pri"],
            "version": j["version"],
            "timereported_raw": j["timereported"],
            "hostname": j["hostname"],
            "syslogtag": j["syslogtag"],
            "inputname": j["inputname"],
            "fromhost": j["fromhost"],
            "fromhost_ip": j["fromhost-ip"],
            "syslogfacility": j["syslogfacility"],
            "syslogseverity": j["syslogseverity"],
            "timegenerated": j["timegenerated"],
            "programname": j["programname"],
            "protocol_version": j["protocol-version"],
            "appname_in": j["app-name"],
            "procid": j["procid"],
            "msg": j["msg"],
        }
    )
    keys = F.json_object_keys(F.col("_line"))
    env_ok = F.lit(True)
    for c in _JSON_REQUIRED:
        env_ok = env_ok & F.col(c).isNotNull()
    for k in _JSON_REQUIRED_KEYS:
        env_ok = env_ok & F.coalesce(F.array_contains(keys, k), F.lit(False))
    return _payload_stage(_envelope_tail(df, env_ok, _JSON_ENVELOPE_FIELDS))


def _envelope_stage(df: DataFrame, line_col: str) -> DataFrame:
    from hnormalise_spark.parsing.common import packed_groups, packed_ok

    # Trailing newline tolerance (the reference's line framing strips
    # it; parsers also tolerate it as unconsumed input, HNormalise.hs:94).
    df = df.withColumn("_line", F.regexp_replace(F.col(line_col), r"[\r\n]+$", ""))
    line = F.col("_line")

    # --- envelope (parseRsyslogLogstashString, Parser.hs:94-131) ------
    # ONE regex execution for all six groups (packed extraction). On a
    # non-matching line element_at yields the raw line, so every use is
    # gated on the packed arity (also keeps ANSI casts off junk).
    df = df.withColumn("_env_a", packed_groups(line, RE_ENVELOPE, 6))
    pok = packed_ok(F.col("_env_a"), 6)

    def g(i: int) -> Column:
        return F.when(pok, F.element_at(F.col("_env_a"), i))

    def opt_int(c: Column) -> Column:
        # try_cast: defense-in-depth under ANSI mode — the groups are
        # \d+ by construction, but a cast abort would kill the batch.
        return F.when(c != "", c.try_cast("int"))

    df = df.withColumns(
        {
            "pri": opt_int(g(1)),
            "version": opt_int(g(2)),
            "timereported_raw": g(3),
            "hostname": g(4),
            "syslogtag": g(5),
            "msg": g(6),
            "_env_ok": pok,
        }
    )
    return _envelope_tail(df, F.col("_env_ok"), _ENVELOPE_FIELDS)


def _envelope_tail(df: DataFrame, env_ok: Column, fields: list[str]) -> DataFrame:
    """Shared end of both envelope parses: the RFC3339 ``timereported``,
    ``_env_ok`` = ``env_ok`` and a valid timestamp, the payload family,
    and every envelope field in ``fields`` blanked where the envelope
    failed. A row whose envelope parsed but whose family prefix or body
    failed keeps its envelope fields in the parsed frame;
    ``sinks.staging_frame`` drops them, so a failure sink row keeps
    only the original input (Normalised = Original)."""
    ts = F.when(
        F.col("timereported_raw").rlike(RE_RFC3339),
        F.col("timereported_raw").cast("timestamp"),
    )
    df = df.withColumns(
        {
            "timereported": ts,
            "_env_ok": env_ok & ts.isNotNull(),
            "_family": _family_col(F.col("msg")),
        }
    )
    return df.withColumns({c: F.when(F.col("_env_ok"), F.col(c)) for c in fields})


def _payload_stage(df: DataFrame) -> DataFrame:
    # --- per-family layered parse -------------------------------------
    # Step k of every family runs in ONE Project: the families are
    # mutually exclusive on _family and their intermediates carry
    # distinct prefixes, so merging the k-th dicts changes no value.
    msg = F.col("msg")
    intermediates = ["_line", "_env_ok", "_env_a", "_family", "_parser_raw", "_appname_raw"]
    fam_layers = [mod.layers(F.col("_family") == fam, msg) for fam, mod, _, _ in FAMILIES]
    for step in zip_longest(*fam_layers, fillvalue={}):
        merged = {k: v for layer in step for k, v in layer.items()}
        df = df.withColumns(merged)
        intermediates += merged

    payload_cols: dict[str, Column] = {}
    parser_col: Column = F.lit(None).cast("string")
    ok_col: Column = F.lit(False)
    app_col: Column = F.lit(None).cast("string")
    for fam_name, mod, _, appname in FAMILIES:
        gate = F.col("_family") == fam_name
        payload, parser, ok = mod.result()
        payload_cols[fam_name] = payload
        parser_col = F.when(gate, parser).otherwise(parser_col)
        ok_col = F.when(gate, ok).otherwise(ok_col)
        app_col = F.when(gate, F.lit(appname)).otherwise(app_col)

    # parse_ok is deliberately made NONDETERMINISTIC (OR with an
    # always-false spark_partition_id()<0, value unchanged): Catalyst
    # never pushes a predicate through a Project with a
    # nondeterministic field, so a filter on parse_ok (routing!) can no
    # longer be substituted into the stacked-Project parse expression DAG.
    # That substitution unfolds the shared DAG exponentially (observed:
    # a 110 MB filter-condition string; a bare
    # parsed.filter("parse_ok") hung for minutes) and the rule
    # responsible, PushPredicateThroughNonJoin, is re-run by the
    # "Extract Python UDFs" batch which IGNORES
    # spark.sql.optimizer.excludedRules — a conf exclusion cannot stop
    # it. rand()>2 does NOT work as the guard: the optimizer knows
    # rand's [0,1) bounds and folds it away. One int compare per row is
    # the entire cost.
    nd_false = F.spark_partition_id() < F.lit(0)
    df = df.withColumns(
        {
            "parse_ok": (F.col("_env_ok") & F.coalesce(ok_col, F.lit(False))) | nd_false,
            "_parser_raw": parser_col,
            "_appname_raw": app_col,
            **payload_cols,
        }
    )
    # appname/jsonkey are defined only for successfully parsed rows
    # (getJsonKey runs on the parse result, Parser.hs:82-88).
    df = df.withColumns(
        {
            "appname": F.when(F.col("parse_ok"), F.col("_appname_raw")),
            "jsonkey": F.when(F.col("parse_ok"), F.col("_family")),
            "parser": F.when(F.col("parse_ok"), F.col("_parser_raw")),
        }
    )
    return df.drop(*intermediates)


def normalise_tokens(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Normalise a pre-tokenized input table (BASELINE.json input_hint).

    Detokenization is a JVM expression (codepoint → char, exact for BMP
    scalar values; any other array gives a null line, which fails), so
    no Python runs anywhere in the parse. The input token array rides along
    unchanged on every row: the failure sink writes it back as the
    original input (HNormalise.hs:69-73), so a failed row's ``tokens``
    equals its input array whatever codepoints it holds.
    """
    return normalise(df.withColumn("raw", detokenize_col(tokens_col)), "raw")


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    keys: tuple[str, ...] = ("source",),
    salt: int = 16,
) -> DataFrame:
    """Repartition on (keys…, random salt) — the skew-safe shuffle the
    north rule names ("salted keys for skewed sources").

    A plain ``repartition(n, source)`` puts every row of a hot source
    into ONE of the n partitions; appending a uniform salt in [0, salt)
    splits each key across up to ``salt`` partitions while still
    co-locating rows at salt-bucket granularity. With ``salt >= n`` the
    spread of a single dominant key approaches round-robin while cold
    keys stay clustered. The salt column is dropped before return.
    """
    present = [k for k in keys if k in df.columns]
    salted = df.withColumn("_salt", (F.rand(seed=42) * salt).cast("int"))
    out = salted.repartition(num_partitions, *[F.col(k) for k in present], F.col("_salt"))
    return out.drop("_salt")


def counts(parsed: DataFrame, keys: tuple[str, ...] = ("source", "parser", "parse_ok")) -> DataFrame:
    """Per-(source, parser, success/failure) running counts — the
    generalisation of increaseCount (Util.hs:93-98) required by the
    north rule. A partial-aggregate (map-side combine) shuffle of a
    handful of groups; negligible at any scale."""
    cols = [k for k in keys if k in parsed.columns]
    return parsed.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))


def counts_salted(
    parsed: DataFrame,
    keys: tuple[str, ...] = ("source", "parser", "parse_ok"),
    salt: int = 16,
) -> DataFrame:
    """counts() as an EXPLICIT two-stage salted aggregate: partial
    counts per (keys…, salt bucket), then a final re-sum over keys.

    Value-identical to counts() by construction. The salt bucket is the
    map task id, so stage one is shuffle-local and the hottest key's
    final-stage input is bounded by the task count, never by the key's
    row share — the north rule's "salted keys for skewed sources"
    applied to the aggregate itself. (Spark's hash aggregate already
    map-side-combines counts; this spells the two-stage shape out so a
    skewed custom aggregate can reuse it verbatim, and so the oracle
    can pin that salting does not change values.)"""
    cols = [k for k in keys if k in parsed.columns]
    partial = (
        parsed.withColumn("_salt", F.spark_partition_id() % F.lit(salt))
        .groupBy(*cols, "_salt")
        .agg(F.count(F.lit(1)).alias("_pn"))
    )
    return partial.groupBy(*cols).agg(F.sum("_pn").alias("n"))
