"""Grok pattern compiler → one Spark-side Java regex.

The north star asks for "vectorized regex/grok equivalents of its
attoparsec parsers" (reference parsers: /root/reference/src/HNormalise/
*/Parser.hs). The hand-written parser modules cover the reference
formats; this module adds the *grok* half of that sentence: it compiles
the industry-standard grok syntax —

    ``%{PATTERN}``            anonymous sub-pattern
    ``%{PATTERN:field}``      named capture
    ``%{PATTERN:field:int}``  named + typed capture (int/long/float/double)

— into ONE flat Java-regex string plus a field → (group index, type)
map, so any grok-described log format runs as plain
``F.regexp_extract`` / ``rlike`` Column expressions: fully JVM-side,
codegen-resident, zero Python in the hot path. A format change is a
pattern-string edit, not a parser rewrite.

The bundled pattern library is a self-contained, RE2-safe subset of the
de-facto standard grok base patterns (same names, so user patterns stay
portable). RE2-safe means no backreferences, no lookaround, no atomic
groups — the compiled regex is valid under both Java (Spark) and RE2
(DuckDB), so oracles can share it verbatim.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["GROK_PATTERNS", "GrokError", "CompiledGrok", "compile_grok", "grok_extract"]


class GrokError(ValueError):
    """Bad grok pattern: unknown name, cycle, duplicate field, bad type."""


# RE2-safe re-expressions of the standard grok base patterns. Library
# entries may reference each other with %{NAME}; expansion is recursive.
GROK_PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NONNEGINT": r"\d+",
    "POSINT": r"[1-9]\d*",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "NUMBER": r"%{BASE10NUM}",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "UUID": r"[0-9a-fA-F]{8}-(?:[0-9a-fA-F]{4}-){3}[0-9a-fA-F]{12}",
    "IPV4": (
        r"(?:25[0-5]|2[0-4]\d|[01]?\d?\d)"
        r"(?:\.(?:25[0-5]|2[0-4]\d|[01]?\d?\d)){3}"
    ),
    # pragmatic (standard grok IPV6 needs alternations far beyond what
    # any log in this domain carries); anchor use-sites with delimiters
    "IPV6": r"(?:[0-9A-Fa-f]{1,4}:){2,7}[0-9A-Fa-f:.]*",
    "IP": r"(?:%{IPV4}|%{IPV6})",
    "HOSTNAME": r"\b[0-9A-Za-z][0-9A-Za-z-]{0,62}(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\.?\b",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    "YEAR": r"\d{4}",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHDAY": r"(?:0?[1-9]|[12]\d|3[01])",
    "MONTH": (
        r"(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?"
        r"|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?"
        r"|Dec(?:ember)?)"
    ),
    "HOUR": r"(?:2[0123]|[01]?\d)",
    "MINUTE": r"[0-5]\d",
    "SECOND": r"(?:[0-5]?\d)(?:\.\d+)?",
    "TIME": r"%{HOUR}:%{MINUTE}:%{SECOND}",
    "TIMESTAMP_ISO8601": (
        r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:%{MINUTE}"
        r"(?::%{SECOND})?(?:Z|[+-]%{HOUR}:?%{MINUTE})?"
    ),
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "PROG": r"[\w._/%-]+",
    "SYSLOGPROG": r"%{PROG:program}(?:\[%{POSINT:pid}\])?",
    "SYSLOGHOST": r"%{IPORHOST}",
    "UNIXPATH": r"(?:/[\w.+-]*)+",
    "PATH": r"%{UNIXPATH}",
    "QUOTEDSTRING": r"\"(?:\\.|[^\"\\])*\"",
    "LOGLEVEL": (
        r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE"
        r"|[Ii]nfo(?:rmation)?|INFO|[Ww]arn(?:ing)?|WARN(?:ING)?"
        r"|[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?"
        r"|[Ff]atal|FATAL|[Ss]evere|SEVERE|[Ee]merg(?:ency)?|EMERG(?:ENCY)?)"
    ),
    "COMMONAPACHELOG": (
        r"%{IPORHOST:clientip} %{USER:ident} %{USER:auth} "
        r"\[%{HTTPDATE:timestamp}\] "
        r"\"(?:%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?"
        r"|%{DATA:rawrequest})\" "
        r"%{NONNEGINT:response:int} (?:%{NONNEGINT:bytes:int}|-)"
    ),
}

_REF = re.compile(r"%\{(\w+)(?::([A-Za-z_][\w.\-]*))?(?::(\w+))?\}")
_TYPES = {"int": "long", "long": "long", "float": "double", "double": "double",
          "string": "string"}
_MAX_DEPTH = 16


def _count_captures(fragment: str) -> int:
    """Capturing-group count of a literal regex fragment — '(' that is
    not escaped, not '(?', and not inside a character class."""
    n, i, in_class = 0, 0, False
    while i < len(fragment):
        c = fragment[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(" and fragment[i + 1 : i + 2] != "?":
            n += 1
        i += 1
    return n


@dataclass(frozen=True)
class GrokField:
    name: str
    type: str  # spark cast target: string | long | double
    group: int  # 1-based capture-group index in .regex


@dataclass(frozen=True)
class CompiledGrok:
    regex: str
    fields: tuple[GrokField, ...]

    def columns(self, line: Column) -> dict[str, Column]:
        """field → typed Column (null on non-matching rows) plus the
        boolean ``_grok_ok``. One regex, one ``regexp_extract`` per
        field."""
        ok = line.rlike(self.regex)
        out: dict[str, Column] = {}
        for f in self.fields:
            raw = F.regexp_extract(line, self.regex, f.group)
            col = F.when(ok, raw)
            if f.type != "string":
                # try_cast, NOT cast: under ANSI an optional typed
                # group that did not participate yields '' and a plain
                # cast('') — or a matched number wider than the target
                # type — aborts the ENTIRE batch instead of nulling the
                # one field
                col = col.try_cast(f.type)
            out[f.name] = col
        out["_grok_ok"] = ok
        return out


def compile_grok(
    pattern: str,
    *,
    library: dict[str, str] | None = None,
    anchored: bool = True,
) -> CompiledGrok:
    """Expand %{...} references recursively into one flat regex.

    Named captures become real capturing groups (their 1-based indexes
    recorded per field, accounting for any literal ``(…)`` groups the
    caller wrote); anonymous references become ``(?:…)``. ``library``
    entries override/extend GROK_PATTERNS.
    """
    lib = dict(GROK_PATTERNS)
    if library:
        lib.update(library)
    fields: list[GrokField] = []
    counter = [0]

    def expand(pat: str, depth: int) -> str:
        if depth > _MAX_DEPTH:
            raise GrokError("grok expansion exceeds depth 16 (pattern cycle?)")
        out: list[str] = []
        pos = 0
        for m in _REF.finditer(pat):
            literal = pat[pos : m.start()]
            counter[0] += _count_captures(literal)
            out.append(literal)
            name, field, typ = m.group(1), m.group(2), m.group(3)
            if name not in lib:
                raise GrokError(f"unknown grok pattern %{{{name}}}")
            if typ is not None and typ not in _TYPES:
                raise GrokError(f"unsupported grok type :{typ} (field {field})")
            if field:
                if any(f.name == field for f in fields):
                    raise GrokError(f"duplicate grok field name {field!r}")
                counter[0] += 1
                # this group opens BEFORE any groups inside its body, so
                # record it first (also keeps fields in outer-first order
                # and catches duplicates introduced by the body itself)
                fields.append(GrokField(field, _TYPES[typ or "string"], counter[0]))
                out.append(f"({expand(lib[name], depth + 1)})")
            else:
                out.append(f"(?:{expand(lib[name], depth + 1)})")
            pos = m.end()
        tail = pat[pos:]
        counter[0] += _count_captures(tail)
        out.append(tail)
        return "".join(out)

    body = expand(pattern, 0)
    return CompiledGrok(f"^{body}$" if anchored else body, tuple(fields))


def grok_extract(
    df: DataFrame,
    column: str,
    pattern: str,
    *,
    library: dict[str, str] | None = None,
    anchored: bool = True,
    ok_column: str = "grok_ok",
) -> DataFrame:
    """Append one typed column per grok field plus ``ok_column``.

    100-TB shape: a narrow projection over the scan — no shuffle, no
    UDF; Catalyst fuses the N extractions into the row-level codegen
    stage, and at cluster scale the regex cost parallelizes with the
    input splits exactly like the hand-written parsers.
    """
    compiled = compile_grok(pattern, library=library, anchored=anchored)
    cols = compiled.columns(F.col(column))
    ok = cols.pop("_grok_ok")
    return df.select(
        "*", *[c.alias(n) for n, c in cols.items()], ok.alias(ok_column)
    )
