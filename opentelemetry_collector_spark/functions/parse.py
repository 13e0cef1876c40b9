"""Parse stage: extract OTLP-like attributes from the transcript text.

The reference receives structured OTLP payloads
(receiver/otlpreceiver/otlp.go:88-128); our raw input is a text column,
so "receive" = vectorized grok/regex extraction. Two implementations
with identical semantics (equality-tested):

- ``with_parsed_native``: pure Catalyst ``regexp_extract`` expressions —
  JVM-side, whole-stage-codegen, the fast path at 100 TB (no Python at
  all, no Arrow transfer);
- ``with_parsed_arrow``: one vectorized ``pandas_udf`` over the text
  column (Arrow batch transfer, pandas ``str.extract`` — batch-at-a-time,
  never per-row Python). This is the extension point for grok patterns
  Catalyst regex can't express; it mirrors the reference's pluggable
  consumer interface (consumer/logs.go:15-20).

Unparseable rows get ``valid = false`` and are quarantined by the
router — the analog of permanent (non-retryable) errors dropped in
retry_sender.go:100-102.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

# One pattern, locked semantics (SURVEY.md §7: byte-stable parsing).
# Kept to the common regex subset so Java (Spark), RE2 (DuckDB) and
# Python (pandas) agree exactly:
# - the end anchor is end-of-input `\z`: `$` also matched before a final
#   line terminator in Java (\n, \r\n, ...) and before a final \n in
#   Python, but nowhere in RE2;
# - \S is spelled out: RE2's \s leaves out \v (\x0B), Java's and
#   Python's include it.
_TOKEN = r"([^\t\n\x0B\f\r ]+)"
PARSE_PATTERN = (
    r"^\[(DEBUG|INFO|WARN|ERROR)\] svc=(\w+) latency_ms=(\d+) "
    rf"req_id={_TOKEN} msg={_TOKEN}\z"
)
# Python 3.11 has no `\z`; its `\Z` is the same end-of-input anchor
PY_PARSE_PATTERN = PARSE_PATTERN.replace(r"\z", r"\Z")

# One regex evaluation per row: a parseable text becomes its five groups
# joined by spaces (no group can hold one); any other text falls through
# to the catch-all branch, whose unset groups give five empty fields.
_SPLIT_PATTERN = rf"(?:{PARSE_PATTERN})|^[\s\S]*"
_SPLIT_REPLACEMENT = "$1 $2 $3 $4 $5"

PARSED_STRUCT = StructType(
    [
        StructField("level", StringType()),
        StructField("svc", StringType()),
        StructField("latency_ms", LongType()),
        StructField("req_id", StringType()),
        StructField("msg", StringType()),
    ]
)

PARSED_COLS = ["level", "svc", "latency_ms", "req_id", "msg"]


def _nonempty(c: Column) -> Column:
    return F.when(c != "", c)


def parsed_columns_native(text: Column) -> dict[str, Column]:
    """Catalyst-native extraction; an empty field (no match) → null."""
    parts = F.split(F.regexp_replace(text, _SPLIT_PATTERN, _SPLIT_REPLACEMENT), " ")
    lvl, svc, lat, req, msg = (_nonempty(parts[i]) for i in range(5))
    return {
        "level": lvl,
        "svc": svc,
        "latency_ms": lat.cast("long"),
        "req_id": req,
        "msg": msg,
    }


def with_parsed_native(df: DataFrame, text_col: str = "text") -> DataFrame:
    cols = parsed_columns_native(F.col(text_col))
    df = df.withColumns(cols)
    return df.withColumn("valid", F.col("level").isNotNull())


@pandas_udf(PARSED_STRUCT)
def _parse_udf(text: pd.Series) -> pd.DataFrame:
    import re

    # Arrow-batched: one str.extract per batch, zero per-row Python.
    # re.ASCII: Python \w/\d/\s are Unicode-aware by default, but Java
    # (native path) and RE2 (DuckDB oracle) treat them ASCII-only — the
    # locked-semantics contract requires all three engines to agree on
    # non-ASCII payloads (e.g. 'svc=café' must NOT parse).
    out = text.str.extract(re.compile(PY_PARSE_PATTERN, re.ASCII))
    out.columns = PARSED_COLS
    out["latency_ms"] = pd.to_numeric(out["latency_ms"], errors="coerce").astype(
        "Int64"
    )
    return out


def with_parsed_arrow(df: DataFrame, text_col: str = "text") -> DataFrame:
    df = df.withColumn("_p", _parse_udf(F.col(text_col)))
    df = df.withColumns({c: F.col(f"_p.{c}") for c in PARSED_COLS}).drop("_p")
    return df.withColumn("valid", F.col("level").isNotNull())


def with_parsed(df: DataFrame, method: str = "native", text_col: str = "text") -> DataFrame:
    """Parse dispatcher. 'native' is the default hot path; 'arrow' is the
    vectorized-UDF path required for grok patterns beyond Catalyst regex."""
    if method == "native":
        return with_parsed_native(df, text_col)
    if method == "arrow":
        return with_parsed_arrow(df, text_col)
    raise ValueError(f"unknown parse method {method!r}")


# DuckDB-equivalent SQL fragment for the oracle (same pattern, same
# null-on-no-match semantics).
def oracle_parse_fragment(table: str = "t") -> str:
    pat = PARSE_PATTERN.replace("'", "''")
    return f"""
      nullif(regexp_extract({table}.text, '{pat}', 1), '') AS level,
      nullif(regexp_extract({table}.text, '{pat}', 2), '') AS svc,
      cast(nullif(regexp_extract({table}.text, '{pat}', 3), '') AS bigint) AS latency_ms,
      nullif(regexp_extract({table}.text, '{pat}', 4), '') AS req_id,
      nullif(regexp_extract({table}.text, '{pat}', 5), '') AS msg,
      (nullif(regexp_extract({table}.text, '{pat}', 1), '') IS NOT NULL) AS valid
    """
