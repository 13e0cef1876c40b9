"""Property-based parse fuzz (the pdata fuzz_test.go analog).

Hypothesis generates arbitrary text payloads; the Spark parse must
(a) never crash, (b) agree exactly with a pure-Python `re` oracle on
both validity and every extracted field — the byte-stable parsing
requirement (SURVEY.md §7) — and (c) agree with the other two engines
that run the same pattern: the Arrow UDF (Python `re`) and the DuckDB
oracle fragment (RE2). One Spark job per example would be slow, so
each example is a whole BATCH of strings evaluated in one pass.
"""

from __future__ import annotations

import re

import duckdb
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from opentelemetry_collector_spark.functions import parse

_PY = re.compile(parse.PY_PARSE_PATTERN, re.ASCII)
_COLS = ("level", "svc", "latency_ms", "req_id", "msg", "valid")

# mix of near-miss structured strings and arbitrary junk
_level = st.sampled_from(["DEBUG", "INFO", "WARN", "ERROR", "FATAL", "debug", ""])
_word = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789_", min_size=0, max_size=8
)
# endings where the engines' `$` and `\s` used to disagree
_tail = st.sampled_from(["", "\n", "\r\n", "\r", "\x0b", "\x0bz", "\x85", "\u2028", " "])
_structured = st.builds(
    lambda lv, svc, lat, rid, msg, tail: (
        f"[{lv}] svc={svc} latency_ms={lat} req_id={rid} msg={msg}{tail}"
    ),
    _level,
    _word,
    st.one_of(st.integers(0, 10**6).map(str), _word),
    _word,
    _word,
    _tail,
)
_junk = st.text(min_size=0, max_size=60)
_payload = st.one_of(_structured, _junk)


def _py_parse(s: str):
    m = _PY.match(s)
    if not m:
        return (None, None, None, None, None, False)
    lvl, svc, lat, rid, msg = m.groups()
    return (lvl, svc, int(lat), rid, msg, True)


def _spark_rows(spark, texts, method):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    return {
        r["i"]: tuple(r[c] for c in _COLS)
        for r in parse.with_parsed(df, method).collect()
    }


def _duckdb_rows(texts):
    con = duckdb.connect()
    con.register("t", pa.table({"i": list(range(len(texts))), "text": texts}))
    sql = f"SELECT i, {parse.oracle_parse_fragment('t')} FROM t"
    return {r[0]: tuple(r[1:]) for r in con.execute(sql).fetchall()}


@settings(max_examples=8, deadline=None)
@given(st.lists(_payload, min_size=1, max_size=120))
def test_parse_matches_python_re(spark, texts):
    native = _spark_rows(spark, texts, "native")
    arrow = _spark_rows(spark, texts, "arrow")
    duck = _duckdb_rows(texts)
    for i, t in enumerate(texts):
        want = _py_parse(t)
        assert native[i] == want, f"native disagrees on {t!r}"
        assert arrow[i] == want, f"arrow disagrees on {t!r}"
        assert duck[i] == want, f"duckdb disagrees on {t!r}"


def test_end_anchor_is_end_of_input_in_every_engine(spark):
    """A trailing line terminator or vertical tab makes a line
    unparseable in all three engines; other Unicode line separators are
    ordinary msg characters (the ASCII-only \\s of all three)."""
    line = "[INFO] svc=api latency_ms=5 req_id=a:1 msg=b"
    bad = [line + t for t in ("\n", "\r\n", "\r", "\x0b", "\x0bz", " ")]
    good = [line, line + "\x85", line + "\u2028"]
    texts = bad + good
    engines = {
        "native": _spark_rows(spark, texts, "native"),
        "arrow": _spark_rows(spark, texts, "arrow"),
        "duckdb": _duckdb_rows(texts),
    }
    for name, rows in engines.items():
        valid = [rows[i][-1] for i in range(len(texts))]
        assert valid == [False] * len(bad) + [True] * len(good), name
        assert [rows[len(bad) + i][4] for i in range(len(good))] == [
            "b", "b\x85", "b\u2028"
        ], name
