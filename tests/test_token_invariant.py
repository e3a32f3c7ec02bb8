"""The token invariant on both sides, by property.

``normalise_tokens`` carries the input array to the failure sink, so a
failed row's ``tokens`` is its input array whatever codepoints it holds:
values past Latin-1, past the BMP, and negative ones. Hypothesis draws
the token rows; all of them go through ``run_batch`` together, in ONE
Spark pass, beside the fixture corpus and one fixed row per codepoint
class.

On the success side the parse reads ``raw``, the JVM detokenization,
so a parsed row's ``raw`` must decode back to its input array. The
same rows are replayed through the codec in plain Python: exact text
for an array of BMP scalar values, none for anything else (which then
fails closed).

Text input has no array of its own: ``retokenize_col`` derives one,
a full codepoint per character, checked against plain Python.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hnormalise_spark import pipeline as P, sinks
from hnormalise_spark.fixtures import CORPUS
from hnormalise_spark.tokenizer import retokenize_col
from tests.conftest import col_values

_SCHEMA = "doc_id string, source string, tokens array<int>"

# ASCII, Latin-1 high half, rest of the BMP, above the BMP, negative
_VALUE = st.one_of(
    st.integers(32, 126),
    st.integers(128, 255),
    st.integers(256, 65_535),
    st.integers(65_536, 2**31 - 1),
    st.integers(-(2**31), -1),
)
_CLASS_VALUES = {
    "latin1": 200, "bmp": 0x142, "astral": 0x1F600, "negative": -7,
    "surrogate-lo": 0xD800, "surrogate-hi": 0xDFFF,
}


def _corpus_tokens() -> list[tuple[str, str, list[int]]]:
    return [(i, s, [ord(c) for c in line]) for (i, s, _, line) in CORPUS]


@st.composite
def _token_row(draw) -> tuple[str, list[int]]:
    """A random array, or a corpus line with values spliced in."""
    if draw(st.booleans()):
        return "fuzz", draw(st.lists(_VALUE, max_size=40))
    _, source, _, line = draw(st.sampled_from(CORPUS))
    toks = [ord(c) for c in line]
    for pos, value in draw(st.lists(st.tuples(st.integers(0, len(toks)), _VALUE), max_size=3)):
        toks.insert(pos, value)
    return source, toks


def _drawn_rows(n: int = 50) -> list[tuple[str, list[int]]]:
    drawn: list[tuple[str, list[int]]] = []

    @settings(
        max_examples=n, database=None, deadline=None, derandomize=True,
        suppress_health_check=list(HealthCheck),
    )
    @given(_token_row())
    def collect(row):
        drawn.append(row)

    collect()
    return drawn


def _detokenize(tokens: list[int]) -> str | None:
    """``tokenizer.detokenize_col`` replayed in Python."""
    if all(0 <= t <= 0xFFFF and not 0xD800 <= t <= 0xDFFF for t in tokens):
        return "".join(map(chr, tokens))
    return None


def test_normalise_tokens_keeps_input_tokens(spark):
    """Every row keeps its input array, its ``raw`` is the Python
    replay of the codec, and a parsed row's ``raw`` decodes back to
    its input array."""
    rows = _corpus_tokens()
    rows += [(f"class-{k}", "fuzz", [v]) for k, v in _CLASS_VALUES.items()]
    # parseable lines holding codepoints past Latin-1, one above the BMP
    # and one with a lone surrogate
    line = {i: l for (i, _, _, l) in CORPUS}["sn-username"]
    texts = {"bmp": "pýthon ł 日本", "astral": "python \U0001F600", "surrogate": "python \ud800"}
    for name, text in texts.items():
        rows.append((f"snoopy-{name}", "fuzz", [ord(c) for c in line.replace("python", text)]))
    rows += [(f"drawn-{n}", s, t) for n, (s, t) in enumerate(_drawn_rows())]
    want = {i: t for i, _, t in rows}

    out = P.normalise_tokens(spark.createDataFrame(rows, _SCHEMA))
    got = {r["doc_id"]: r for r in out.select("doc_id", "tokens", "raw", "parse_ok").collect()}
    assert {i: r["tokens"] for i, r in got.items()} == want
    assert {i: r["raw"] for i, r in got.items()} == {i: _detokenize(t) for i, t in want.items()}

    ok = [i for i, r in got.items() if r["parse_ok"]]
    assert all([ord(c) for c in got[i]["raw"]] == want[i] for i in ok)
    assert "snoopy-bmp" in ok
    for i in ("snoopy-astral", "snoopy-surrogate"):
        assert got[i]["raw"] is None and not got[i]["parse_ok"]


def test_failure_sink_returns_input_tokens(spark, tmp_path):
    rows = _corpus_tokens()
    junk = [ord(c) for c in "not a syslog line"]
    rows += [(f"class-{k}", "fuzz", junk + [v]) for k, v in _CLASS_VALUES.items()]
    rows += [(f"drawn-{n}", s, t) for n, (s, t) in enumerate(_drawn_rows())]
    want = {i: t for i, _, t in rows}
    assert len(want) == len(rows) > 80

    parsed = P.normalise_tokens(spark.createDataFrame(rows, _SCHEMA))
    paths = sinks.run_batch(spark, parsed, str(tmp_path / "out"))
    success = spark.read.parquet(paths["success"]).select("doc_id", "source", "parser").collect()
    failure = spark.read.parquet(paths["failure"]).select("doc_id", "source", "tokens").collect()

    # every failed row carries exactly its input array
    bad = {r["doc_id"]: r["tokens"] for r in failure if r["tokens"] != want[r["doc_id"]]}
    assert not bad, f"failure tokens differ from input: {sorted(bad)[:5]}"
    assert {f"class-{k}" for k in _CLASS_VALUES} <= {r["doc_id"] for r in failure}

    # success ∪ failure = input, disjoint
    ids_s = [r["doc_id"] for r in success]
    ids_f = [r["doc_id"] for r in failure]
    assert len(ids_s) + len(ids_f) == len(rows)
    assert set(ids_s).isdisjoint(ids_f)
    assert set(ids_s) | set(ids_f) == set(want)

    # the counts table equals the routed row sets
    routed = Counter((r["source"], r["parser"], True) for r in success)
    routed += Counter((r["source"], None, False) for r in failure)
    counts = {
        (r["source"], r["parser"], r["parse_ok"]): r["n"]
        for r in spark.read.parquet(paths["counts"]).collect()
    }
    assert counts == dict(routed)


def test_retokenize_returns_every_codepoint(spark):
    """``retokenize_col`` (the array of text input) gives each
    character's full codepoint, past Latin-1 and past the BMP alike."""
    texts = ["aé", "ł日", "x\U0001F600", ""]
    got = col_values(spark, texts, retokenize_col)
    assert got == [[ord(c) for c in t] for t in texts]
    assert got[:3] == [[97, 233], [322, 26085], [120, 128512]]
