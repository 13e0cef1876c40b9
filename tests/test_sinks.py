"""Sink utilities: debug/nop exporters, compaction, shared intermediate
frames (connector-as-exporter+receiver analog)."""

from __future__ import annotations

from pathlib import Path

import pytest

from pyspark.sql import functions as F

from opentelemetry_collector_spark.plans import pipeline
from opentelemetry_collector_spark.sinks import writers


def test_debug_and_nop_sinks(transcripts):
    n = transcripts.count()
    assert writers.debug_sink(transcripts, verbosity="basic") == n
    assert writers.nop_sink(transcripts) == n


def test_compaction_preserves_rows(spark, transcripts, tmp_path):
    path = str(tmp_path / "sink")
    # deliberately tiny files
    transcripts.repartition(16).write.option("maxRecordsPerFile", "100").parquet(path)
    before = len(list(Path(path).rglob("*.parquet")))
    n = spark.read.parquet(path).count()
    fb, fa = writers.compact_sink(spark, path, target_rows_per_file=2000)
    assert fb == before and fa < fb
    after = spark.read.parquet(path)
    assert after.count() == n
    # row set identical (compaction is physical only)
    assert after.exceptAll(transcripts).count() == 0
    assert transcripts.exceptAll(after).count() == 0


def test_compaction_crash_recovery(spark, transcripts, tmp_path):
    """A crash between the two swap renames leaves the sink under
    __old; the next compaction must restore and complete."""
    import os
    import shutil

    path = str(tmp_path / "sink")
    transcripts.repartition(8).write.option("maxRecordsPerFile", "200").parquet(path)
    n = spark.read.parquet(path).count()
    # simulate: previous run moved the sink away and died; a stale
    # shadow dir is also lying around
    os.rename(path, path + "__old")
    os.makedirs(path + "__compact")
    fb, fa = writers.compact_sink(spark, path, target_rows_per_file=3000)
    assert spark.read.parquet(path).count() == n
    assert not Path(path + "__old").exists()
    assert not Path(path + "__compact").exists()


def test_shared_intermediate_frame(spark, sf_dir):
    """Connector-as-exporter+receiver (graph.go:144-201): one pipeline's
    output is another's input via a named temp view over a persisted
    frame — both consumers see identical rows, evaluated once."""
    routed = pipeline.routed_frame(spark, sf_dir).persist()
    routed.createOrReplaceTempView("pipeline_a_out")
    consumer1 = spark.table("pipeline_a_out").groupBy("sink").count()
    consumer2 = spark.table("pipeline_a_out").filter(F.col("sink") == "sink_llm")
    c1 = {r["sink"]: r["count"] for r in consumer1.collect()}
    assert c1["sink_llm"] == consumer2.count()
    routed.unpersist()


def test_throttle_delay_honored():
    """A ThrottleError's server delay replaces the backoff wait for
    that attempt (otlp.go:187-216 RetryInfo -> retry_sender throttle)."""
    waits, calls = [], []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise writers.ThrottleError("slow down", retry_after=0.7)
        return "ok"

    cfg = writers.RetryConfig(initial_interval=0.05, max_elapsed=10.0)
    out = writers.retry_commit(flaky, cfg, sleep=waits.append)
    assert out == "ok"
    assert waits == [0.7, 0.7]  # server delay, not the 0.05 backoff


def test_throttle_bounded_by_max_elapsed():
    import pytest

    def always():
        raise writers.ThrottleError("busy", retry_after=5.0)

    cfg = writers.RetryConfig(max_elapsed=8.0)
    waits = []
    with pytest.raises(writers.ThrottleError):
        writers.retry_commit(always, cfg, sleep=waits.append)
    assert sum(waits) <= 8.0


def test_partial_success_side_output(spark, sf_dir, tmp_path):
    """ExportResponse.PartialSuccess analog (otlp.go:103-110): rejected
    rows are not retried — they land in an auditable side table and
    count as send_failed; sent + send_failed == attempted."""
    routed = pipeline.routed_frame(spark, sf_dir)
    llm = routed.filter(F.col("sink") == "sink_llm")
    total = llm.count()
    res = writers.write_sink_partial(
        llm, str(tmp_path), "r1", "sink_llm",
        reject_predicate=F.col("turn_idx") % 10 == 3,
    )
    assert res["sent"] + res["send_failed"] == total
    assert res["send_failed"] > 0
    rej = spark.read.parquet(res["rejected_path"])
    assert rej.filter(F.col("turn_idx") % 10 != 3).count() == 0
    acc = spark.read.parquet(res["path"])
    assert acc.filter(F.col("turn_idx") % 10 == 3).count() == 0
    # replay is idempotent (overwrite semantics on both outputs)
    res2 = writers.write_sink_partial(
        llm, str(tmp_path), "r1", "sink_llm",
        reject_predicate=F.col("turn_idx") % 10 == 3,
    )
    assert res2 == res


def test_partial_success_null_predicate_not_lost(spark, tmp_path):
    """A NULL reject verdict means 'not rejected' — the row must land in
    the accepted output, never be dropped from both."""
    df = spark.createDataFrame(
        [("a", 0, 1500), ("a", 1, None), ("a", 2, 10)],
        "conv_id string, turn_idx int, latency int",
    )
    res = writers.write_sink_partial(
        df, str(tmp_path), "r1", "s", reject_predicate=F.col("latency") > 1000
    )
    assert res["sent"] == 2 and res["send_failed"] == 1
    acc = spark.read.parquet(res["path"])
    assert {r["turn_idx"] for r in acc.collect()} == {1, 2}


def test_debug_sink_sampling(spark, capsys):
    """debugexporter sampling_initial/sampling_thereafter
    (exporter/debugexporter/config.go:26-33): first N batches print,
    then every M-th; the count is always returned."""
    df = spark.createDataFrame([(1,), (2,)], "v int")
    counter: list = [0]
    printed = []
    for _ in range(7):
        n = writers.debug_sink(
            df, verbosity="normal", sample=5,
            sampling_initial=2, sampling_thereafter=3,
            _batch_counter=counter,
        )
        assert n == 2
        printed.append(bool(capsys.readouterr().out.strip()))
    # batches 1,2 (initial), then 5 (2+3) print; 3,4,6,7 are sampled out
    assert printed == [True, True, False, False, True, False, False]
    # thereafter=0 → nothing after the initial window
    counter2: list = [0]
    out2 = []
    for _ in range(3):
        writers.debug_sink(
            df, verbosity="normal", sampling_initial=1,
            sampling_thereafter=0, _batch_counter=counter2,
        )
        out2.append(bool(capsys.readouterr().out.strip()))
    assert out2 == [True, False, False]


def test_time_partitioned_sink_prunes_reads(spark, sf_dir, tmp_path):
    """Hour-partitioned sink layout: a time-ranged read must prune to
    the touched partitions (PartitionFilters on ts_bucket), and the
    full table must round-trip every row."""
    from opentelemetry_collector_spark.sources import tables

    # events spans ~30 days (transcripts at sf0.001 spans minutes —
    # a single bucket would make the pruning assertion vacuous)
    df = tables.read_table(spark, sf_dir, "events")
    path = writers.write_sink_time_partitioned(
        df, str(tmp_path), "r1", "s", granularity="day"
    )
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    one_bucket = back.select("ts_bucket").orderBy("ts_bucket").first()["ts_bucket"]
    pruned = back.filter(F.col("ts_bucket") == one_bucket)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan and "PartitionFilters" in scan[0] and "ts_bucket" in scan[0]
    assert 0 < pruned.count() < back.count()
    # bucket values are exact formatted truncations of the raw ts
    # (which itself survives inside the data files) — and the column
    # reads back as a STRING for every granularity (bare dates would be
    # inferred as DateType, silently retyping the table)
    from pyspark.sql.types import StringType

    assert isinstance(back.schema["ts_bucket"].dataType, StringType)
    bad = back.filter(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd-HH")
        != F.col("ts_bucket")
    )
    assert bad.count() == 0
    import pytest

    with pytest.raises(ValueError):
        writers.write_sink_time_partitioned(df, str(tmp_path), "r1", "s", granularity="minute")


def test_debug_sink_thereafter_without_initial_is_loud(spark):
    """Configuring only sampling_thereafter must raise (ADVICE r3): the
    silent alternative prints every batch, indistinguishable from
    no-sampling, unlike the loud missing-counter contract."""
    df = spark.createDataFrame([(1,)], "v int")
    with pytest.raises(ValueError, match="sampling_initial"):
        writers.debug_sink(df, verbosity="basic", sampling_thereafter=3)


def test_write_sink_refuses_names_partitionby_would_escape(spark, tmp_path):
    """A sink's rows land in the directory partitionBy names after it;
    a name Spark escapes (a '/' in an 'otlp/primary'-style exporter id)
    would put them somewhere other than sink_path, and its reader would
    see an empty table."""
    df = spark.range(3).withColumnRenamed("id", "conv_id")
    for name in ("otlp/primary", "a=b", ""):
        with pytest.raises(ValueError, match="plain path segments"):
            writers.write_sink(df, str(tmp_path), "r1", name)
    with pytest.raises(ValueError, match="plain path segments"):
        writers.write_sink(df.withColumn("sink", F.lit("ok")), str(tmp_path), "r1", ["ok", "x:y"])
    assert not (tmp_path / "run_id=r1").exists()
