"""The service: run the full pipeline with fan-out writes, durable
progress, and obsreport metrics.

This is the Collector.Run analog (otelcol/collector.go:415 →
service/internal/graph.StartAll): evaluate the routed frame once
(persist — the fanoutconsumer obligation), then write every sink not
yet committed in ONE Spark job (partitionBy sink, dynamic partition
overwrite) while the lineage manifest keeps one unit — one
dispatched → committed record — per sink, so a killed run resumes by
rewriting only its incomplete sinks and never duplicates routed rows;
then write the aggregate, metrics and status tables.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import route as route_mod
from opentelemetry_collector_spark.plans import pipeline
from opentelemetry_collector_spark.sinks import writers
from opentelemetry_collector_spark.state import (
    checkpoint,
    metrics as metrics_mod,
    status as status_mod,
)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    run_id: str = "run0",
    cfg: pipeline.PipelineConfig | None = None,
    crash_after: str | None = None,
    rows_per_file: int = 8192,
    single_pass: bool = False,
    telemetry=None,
    time_partition: str | None = None,
) -> dict[str, str]:
    """Execute parse→enrich→route, fan out to per-sink tables, write
    metrics + aggregate. Returns {sink: output_path}.

    single_pass=False (default): one lineage unit per sink
    (persistent-queue-grade resume granularity); the first incomplete
    unit writes every incomplete sink in one write_sink job and each
    unit then gets its own commit record. single_pass=True uses
    write_fanout_single_pass with the whole fan-out as one lineage unit.

    time_partition='hour'|'day' lays each per-sink table out in
    event-time partitions (write_sink_time_partitioned — the Iceberg
    hour()/day() transform analog) so downstream time-ranged reads
    prune; per-sink mode only (single-pass already partitions by sink).

    crash_after=<sink> injects a failure after that sink's write but
    before its commit record — the CheckConsumeContract kill scenario
    (exporter/exportertest/contract_checker.go:45-83).
    """
    if time_partition and single_pass:
        raise ValueError(
            "time_partition requires per-sink units (single_pass=False): "
            "silently ignoring either option would change layout or "
            "resume granularity behind the caller's back"
        )
    cfg = cfg or pipeline.PipelineConfig()
    reporter = status_mod.StatusReporter()
    routed = pipeline.routed_frame(spark, sf_dir, cfg).persist()
    try:
        sinks = route_mod.all_sinks(list(cfg.routes))
        manifest = checkpoint.LineageManifest(str(Path(out_dir) / "_checkpoint"), run_id)
        if single_pass:
            paths = {
                s: writers.single_pass_sink_path(out_dir, run_id, s)
                for s in sinks
            }

            def execute_all(unit: str) -> None:
                status_mod.run_reported(
                    reporter,
                    f"exporter/{unit}",
                    lambda: writers.write_fanout_single_pass(
                        routed, out_dir, run_id, rows_per_file=rows_per_file
                    ),
                )

            # single-pass mode has one unit: any requested crash point
            # maps to it (crash_after=<sink name> would otherwise be a
            # silent no-op)
            checkpoint.run_with_resume(
                manifest,
                ["fanout"],
                execute_all,
                crash_after="fanout" if crash_after is not None else None,
            )
        elif time_partition:
            paths = {s: writers.time_sink_path(out_dir, run_id, s) for s in sinks}

            def execute_timed(sink: str) -> None:
                status_mod.run_reported(
                    reporter,
                    f"exporter/{sink}",
                    lambda: writers.write_sink_time_partitioned(
                        routed.filter(F.col("sink") == sink), out_dir, run_id, sink,
                        granularity=time_partition,
                        rows_per_file=rows_per_file,
                    ),
                )

            checkpoint.run_with_resume(
                manifest, sinks, execute_timed, crash_after=crash_after
            )
        else:
            paths = {s: writers.sink_path(out_dir, run_id, s) for s in sinks}
            written: set[str] = set()

            def execute(sink: str) -> None:
                # the first incomplete unit writes every incomplete sink
                # in one job; the units after it only get their commit
                # record, so crash_after=<sink> still stops between that
                # sink's write and its commit
                if sink in written:
                    return
                todo = [s for s in sinks if manifest.state(s) != checkpoint.COMMITTED]
                status_mod.run_reported(
                    reporter,
                    [f"exporter/{s}" for s in todo],
                    lambda: writers.write_sink(
                        routed, out_dir, run_id, todo, rows_per_file=rows_per_file
                    ),
                )
                written.update(todo)

            checkpoint.run_with_resume(manifest, sinks, execute, crash_after=crash_after)

        # aggregate + metrics land only after all sinks committed
        agg = pipeline.aggregate_frame(routed, cfg)
        agg.write.mode("overwrite").parquet(str(Path(out_dir) / f"run_id={run_id}" / "agg"))
        # self-telemetry obeys service.telemetry (metrics level 'none'
        # suppresses the obsreport + status tables)
        from opentelemetry_collector_spark.plans.config import TelemetryConfig

        telemetry = telemetry or TelemetryConfig()
        if telemetry.write_metrics:
            m = metrics_mod.collect_pipeline_metrics(routed)
            m.to_df(spark).write.mode("overwrite").parquet(
                str(Path(out_dir) / f"run_id={run_id}" / "metrics")
            )
            # component lifecycle events (graph.go StartAll/StopAll)
            status_mod.stop_all(reporter)
            reporter.to_df(spark).write.mode("overwrite").parquet(
                str(Path(out_dir) / f"run_id={run_id}" / "status")
            )
        return paths
    finally:
        routed.unpersist()


def read_sink(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    sink: str,
    time_partitioned: bool = False,
) -> DataFrame:
    """One sink's table, with its ``sink`` column: a per-sink write keeps
    the name in the sink=<S> directory, not in the data files."""
    path = (
        writers.time_sink_path(out_dir, run_id, sink)
        if time_partitioned
        else writers.sink_path(out_dir, run_id, sink)
    )
    return spark.read.parquet(path).withColumn("sink", F.lit(sink))
