"""Enrich stage: broadcast lookup joins on role and tool.

Mirrors the collector's attributes/resource-processor pattern — in-row
attribute enrichment from small reference data. The reference does this
with per-record Go map writes; in Spark the idiomatic form is a
broadcast hash join against tiny dimension tables: no shuffle of the
fact side, JVM-side, codegen-friendly — exactly what survives a 100×
scale-up (the dim stays O(10) rows regardless of fact size).

Left joins are total over the fixture dims (tool_dim includes the
empty-string row) but remain LEFT so unknown values pass through with
nulls rather than dropping rows — the collector never drops on enrich.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark import fixtures


def load_dims(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    role_path, tool_path = fixtures.ensure_dims()
    return (
        spark.read.schema(fixtures.ROLE_DIM_DDL).parquet(role_path),
        spark.read.schema(fixtures.TOOL_DIM_DDL).parquet(tool_path),
    )


def enrich(
    df: DataFrame, role_dim: DataFrame, tool_dim: DataFrame
) -> DataFrame:
    """Broadcast-join role_kind/is_human and tool_family/sink_hint in."""
    return df.join(F.broadcast(role_dim), on="role", how="left").join(
        F.broadcast(tool_dim), on="tool", how="left"
    )


def enrich_with_defaults(df: DataFrame, spark: SparkSession) -> DataFrame:
    role_dim, tool_dim = load_dims(spark)
    return enrich(df, role_dim, tool_dim)


# ---------------------------------------------------------- as-of enrich

ASOF_DIM_MAX_ROWS = 100_000  # literal-map guard: beyond this, range-join


def asof_enrich(
    df: DataFrame,
    versions: list[tuple],
    payload_fields: tuple[str, ...],
    key_col: str = "tool",
    ts_col: str = "ts",
) -> DataFrame:
    """As-of (SCD-2) enrichment against a time-versioned dimension:
    each row gets the dim version with the greatest valid_from ≤ row ts
    (NULLs when no version precedes the row — left semantics, the
    collector never drops on enrich).

    ``versions`` rows are (key, valid_from_micros, *payload). The dim is
    embedded as a literal map<key, array<struct>> sorted by valid_from,
    so the lookup is a pure map-side expression — ZERO shuffle and no
    join at any fact size (the idiomatic Spark shape for a broadcast-
    small versioned dim; DuckDB expresses the same thing as ASOF JOIN).
    """
    if len(versions) > ASOF_DIM_MAX_ROWS:
        raise ValueError(
            f"versioned dim too large for literal embedding "
            f"({len(versions)} rows > {ASOF_DIM_MAX_ROWS}); use a range join"
        )
    by_key: dict = {}
    for row in versions:
        if row[0] is None:
            # create_map forbids NULL keys; a NULL fact key already
            # resolves to NULL payloads via try_element_at, so a NULL
            # dim key carries no reachable versions — skip, don't crash
            continue
        by_key.setdefault(row[0], []).append(row[1:])
    entries = []
    for key, vers in sorted(by_key.items()):
        structs = [
            F.struct(
                F.lit(int(v[0])).alias("vf_us"),
                *[
                    F.lit(v[1 + i]).alias(f)
                    for i, f in enumerate(payload_fields)
                ],
            )
            for v in sorted(vers)
        ]
        entries.extend([F.lit(key), F.array(*structs)])
    dim_map = F.create_map(*entries)
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    valid = F.filter(
        F.try_element_at(dim_map, F.col(key_col)), lambda x: x["vf_us"] <= ts_us
    )
    # try_element_at: an empty valid list (no version yet) or unknown
    # key must yield NULL, not an ANSI index error
    chosen = F.try_element_at(valid, F.lit(-1))  # sorted ascending → latest
    # stage the chosen struct ONCE: extracting fields directly from
    # `chosen` would embed a full copy of the literal dim map per
    # payload field in the projection
    out = df.withColumn("_chosen", chosen)
    for f in payload_fields:
        out = out.withColumn(f, F.col("_chosen")[f])
    return out.drop("_chosen")


def load_versioned_tool_dim() -> list[tuple]:
    """(tool, valid_from_micros, tool_version, cost_tier) rows from the
    fixture parquet — read via pyarrow so the micros are exact int64."""
    import pyarrow.parquet as pq

    path = fixtures.ensure_versioned_tool_dim()
    t = pq.read_table(path)
    vf = t.column("valid_from").cast("int64").to_pylist()
    return list(
        zip(
            t.column("tool").to_pylist(),
            vf,
            t.column("tool_version").to_pylist(),
            t.column("cost_tier").to_pylist(),
        )
    )
