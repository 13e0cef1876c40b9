"""The obsreport metrics and component-status tables keep their schema
and values: both are built from driver-side rows handed to the JVM as
one Arrow table (no per-partition Python worker)."""

from __future__ import annotations

from pyspark.sql.types import StructType

from opentelemetry_collector_spark.state import metrics, status


def _written(spark, df, path):
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_metrics_table_schema_and_values(spark, tmp_path):
    m = metrics.StageMetrics()
    m.add("receiver", "accepted_log_records", 6000)
    m.add("exporter_sink_py", "sent_log_records", 2**40)  # needs a long
    m.add("receiver", "refused_log_records", 0)
    got = _written(spark, m.to_df(spark), str(tmp_path / "metrics"))
    assert got.schema == StructType.fromDDL(metrics.METRICS_SCHEMA)
    assert got.schema.simpleString() == "struct<stage:string,metric:string,value:bigint>"
    assert sorted(tuple(r) for r in got.collect()) == sorted(m.rows)


def test_status_table_schema_and_values(spark, tmp_path):
    r = status.StatusReporter()
    r.report("exporter/a", status.STARTING)
    r.report("exporter/a", status.RECOVERABLE_ERROR, "boom")
    r.report("exporter/a", status.OK)
    status.stop_all(r)
    got = _written(spark, r.to_df(spark), str(tmp_path / "status"))
    assert got.schema == StructType.fromDDL(status.STATUS_SCHEMA)
    assert got.schema["seq"].dataType.simpleString() == "bigint"
    rows = [tuple(x) for x in got.orderBy("seq").collect()]
    assert rows == r.events
    assert [e for _, _, _, e in rows] == [None, "boom", None, None, None]


def test_empty_tables_keep_their_schema(spark):
    for df, ddl in (
        (metrics.StageMetrics().to_df(spark), metrics.METRICS_SCHEMA),
        (status.StatusReporter().to_df(spark), status.STATUS_SCHEMA),
    ):
        assert df.schema == StructType.fromDDL(ddl)
        assert df.count() == 0
