"""Obsreport: accepted/refused/dropped accounting per stage.

Mirrors the reference's observability contract:
- receiver accepted/refused counts (receiver/receiverhelper/
  obsreport.go:181-201);
- processor incoming/outgoing items (processor/processorhelper/
  documentation.md:9-25);
- exporter sent/send-failed items (exporter/exporterhelper/
  documentation.md:9-105).

Spark-first: counts are *derived from the same DAG* rather than
incremented imperatively — each stage contributes one aggregate over
the persisted routed frame, so the metrics are exactly consistent with
the data (no drift between counter and payload, which the reference
has to work to guarantee). Metric names follow the reference's
``otelcol_<component>_<verb>_log_records`` convention.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from opentelemetry_collector_spark.operators.route import QUARANTINE_SINK

METRICS_SCHEMA = "stage string, metric string, value long"


def driver_rows_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A few driver-side rows as a DataFrame, handed to the JVM as one
    Arrow table: createDataFrame(list) pickles the rows through a
    Python worker per partition to write a 15-row table."""
    names = StructType.fromDDL(schema).names
    columns = list(zip(*rows)) or [()] * len(names)
    table = pa.table({n: list(c) for n, c in zip(names, columns)})
    return spark.createDataFrame(table, schema=schema)


@dataclass
class StageMetrics:
    rows: list[tuple[str, str, int]] = field(default_factory=list)

    def add(self, stage: str, metric: str, value: int) -> None:
        self.rows.append((stage, metric, int(value)))

    def to_df(self, spark: SparkSession) -> DataFrame:
        return driver_rows_frame(spark, self.rows, METRICS_SCHEMA)


def collect_pipeline_metrics(routed: DataFrame) -> StageMetrics:
    """One pass over the persisted routed frame → the obsreport table.

    accepted: rows entering each stage; refused: admission rejections
    (0 in batch mode — Spark backpressure replaces the memorylimiter,
    we keep the metric contract); dropped: quarantined rows (permanent
    errors, the retry_sender drop path).
    """
    counts = {
        r["sink"]: r["n"]
        for r in routed.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(counts.values())
    dropped = counts.get(QUARANTINE_SINK, 0)
    m = StageMetrics()
    m.add("receiver", "accepted_log_records", total)
    m.add("receiver", "refused_log_records", 0)
    m.add("processor_parse", "incoming_items", total)
    m.add("processor_parse", "outgoing_items", total - dropped)
    m.add("processor_parse", "dropped_items", dropped)
    m.add("processor_enrich", "incoming_items", total)
    m.add("processor_enrich", "outgoing_items", total)
    for sink, n in sorted(counts.items()):
        m.add(f"exporter_{sink}", "sent_log_records", n)
        m.add(f"exporter_{sink}", "send_failed_log_records", 0)
    return m
