"""Sources (the receiver analog).

The reference's receivers are push/pull servers
(receiver/otlpreceiver/otlp.go:88-185, scraper/scraperhelper/
controller.go:88-182); in a Spark-native engine the "receive" boundary
is a table scan: batch reads of an Iceberg/parquet table, or an
incremental snapshot-diff read in streaming mode (streaming/micro.py).

Iceberg is the designed table format (partition pruning, snapshot
isolation, replace-where commits); this sandbox has no Iceberg runtime
jar, so reads transparently fall back to parquet. All call sites go
through this module so the swap is one place.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from opentelemetry_collector_spark import fixtures

DRIVER_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# The transcript fixture's own arrow schema, as Spark reads it: a
# timestamp without a zone is timestamp_ntz. Declaring it spares every
# scan the footer-inference job.
TRANSCRIPTS_SCHEMA = from_arrow_schema(
    fixtures.TRANSCRIPT_SCHEMA, prefer_timestamp_ntz=True
)


def read_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's canonical input (BASELINE.json input_hint shape).

    Ensures the deterministic fixture exists for this scale factor, then
    scans it. Column pruning and predicate pushdown flow into the scan
    because this returns a plain declarative reader (no collect, no rdd).
    """
    return spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(
        fixtures.ensure_transcripts(sf_dir)
    )


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Driver-provided TPC-H-ish / documents / embeddings tables."""
    return spark.read.parquet(str(Path(sf_dir) / f"{name}.parquet"))


def nop_source(spark: SparkSession) -> DataFrame:
    """nopreceiver analog (receiver/nopreceiver/nop_receiver.go):
    an empty transcript-schema frame for wiring tests."""
    return spark.createDataFrame([], schema=TRANSCRIPTS_SCHEMA)


def transcript_ddl() -> str:
    return (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...] = ("conv_id",),
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    n_buckets: int = 16,
) -> None:
    """Materialize a bucketed + sorted table — the persisted-layout
    side of the 100 TB shuffle story: a table bucketed on its join/
    window key reports HashPartitioning(key) to Catalyst, so
    downstream windows over (conv_id, turn_idx) and conv_id-keyed
    joins between co-bucketed tables run with ZERO exchanges (plan
    evidence pinned in tests/test_bucketing.py). On a real deployment
    this is the Iceberg table's bucket partition transform
    (`bucket(N, conv_id)`); the session-catalog saveAsTable is the
    sandbox analog.

    Paying one layout shuffle at WRITE time amortizes across every
    subsequent stable-ordering window, sessionization, as-of join and
    per-conversation aggregate — at 10^12 rows the re-shuffle per
    query is the single largest avoidable cost.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*sort_cols)
        .format("parquet")
        .saveAsTable(table_name)
    )
