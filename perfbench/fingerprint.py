"""Order-insensitive output fingerprints, computed the same way in Spark
and in DuckDB.

A fingerprint is ``[rows, sum of h(row)]`` where ``h`` reads the first
32 bits of the md5 of the row's columns (sorted by name), each cast to
a string, NULL spelled ``∅``, joined by U+001F. The Spark side runs as
one aggregate over every column, so it is also the action that
materialises the whole frame: Catalyst cannot prune a column the hash
reads.
"""

from __future__ import annotations

SEP = "\x1f"
NULL = "∅"


def spark_fingerprint(df) -> list[int]:
    from pyspark.sql import functions as F

    cells = [
        F.coalesce(F.col(f"`{c}`").cast("string"), F.lit(NULL))
        for c in sorted(df.columns)
    ]
    h = F.conv(F.substring(F.md5(F.concat_ws(SEP, *cells)), 1, 8), 16, 10)
    row = (
        df.select(h.cast("long").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .collect()[0]
    )
    return [int(row["n"]), int(row["s"] or 0)]


def duckdb_fingerprint(con, sql: str) -> list[int]:
    cols = sorted(con.sql(sql).columns)
    cells = ", ".join(
        f"coalesce(cast(q.\"{c}\" AS VARCHAR), '{NULL}')" for c in cols
    )
    h = f"('0x' || substr(md5(concat_ws(chr(31), {cells})), 1, 8))::BIGINT"
    n, s = con.sql(
        f"SELECT count(*)::BIGINT, coalesce(sum({h}), 0)::BIGINT FROM ({sql}) q"
    ).fetchone()
    return [int(n), int(s)]
