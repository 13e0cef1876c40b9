"""CheckConsumeContract analog (exporter/exportertest/contract_checker.go):
drive uniquely-IDed rows through the full pipeline under kill/resume and
assert per-ID delivery sets — no loss, no duplicates.

Scenarios:
1. always-succeed → exactly-once delivery;
2. crash mid-fan-out (some sinks committed, one dispatched-but-
   uncommitted) → resume replays only incomplete units; outputs equal
   the clean run exactly;
3. repeated resume (idempotence) → byte-stable outputs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import route
from opentelemetry_collector_spark.plans import pipeline, runner
from opentelemetry_collector_spark.state import checkpoint


def _collect_ids(spark, out_dir, run_id):
    ids = {}
    for s in route.all_sinks():
        df = runner.read_sink(spark, out_dir, run_id, s)
        ids[s] = {(r["conv_id"], r["turn_idx"]) for r in df.select("conv_id", "turn_idx").collect()}
    return ids


def test_exactly_once_clean_run(spark, sf_dir, transcripts, tmp_path):
    out = str(tmp_path / "clean")
    runner.run_pipeline(spark, sf_dir, out, run_id="r1")
    ids = _collect_ids(spark, out, "r1")
    all_ids = [i for s in ids.values() for i in s]
    assert len(all_ids) == transcripts.count()  # no loss
    assert len(all_ids) == len(set(all_ids))  # no duplicates across sinks


def test_crash_resume_no_dup_no_loss(spark, sf_dir, tmp_path):
    out_crash = str(tmp_path / "crash")
    out_clean = str(tmp_path / "clean")
    runner.run_pipeline(spark, sf_dir, out_clean, run_id="r1")

    sinks = route.all_sinks()
    crash_sink = sinks[1]  # crash after the 2nd sink wrote, before commit
    with pytest.raises(checkpoint.SimulatedCrash):
        runner.run_pipeline(spark, sf_dir, out_crash, run_id="r1", crash_after=crash_sink)

    manifest = checkpoint.LineageManifest(f"{out_crash}/_checkpoint", "r1")
    assert sinks[0] in manifest.committed()
    assert crash_sink in manifest.incomplete()  # dispatched, not committed

    # resume: replays only incomplete units (at-least-once replay,
    # idempotent overwrite → exactly-once effect)
    manifest2 = checkpoint.LineageManifest(f"{out_crash}/_checkpoint", "r1")
    ran = []
    routed = pipeline.routed_frame(spark, sf_dir).persist()
    from opentelemetry_collector_spark.sinks import writers

    def execute(sink):
        ran.append(sink)
        writers.write_sink(routed.filter(F.col("sink") == sink), out_crash, "r1", sink)

    checkpoint.run_with_resume(manifest2, sinks, execute)
    routed.unpersist()
    assert sinks[0] not in ran  # committed unit NOT replayed
    assert crash_sink in ran  # dispatched unit replayed

    assert _collect_ids(spark, out_crash, "r1") == _collect_ids(spark, out_clean, "r1")


def test_repeat_resume_idempotent(spark, sf_dir, tmp_path):
    out = str(tmp_path / "re")
    runner.run_pipeline(spark, sf_dir, out, run_id="r1")
    before = _collect_ids(spark, out, "r1")
    # second full call: every unit already committed → nothing replayed,
    # outputs unchanged
    runner.run_pipeline(spark, sf_dir, out, run_id="r1")
    assert _collect_ids(spark, out, "r1") == before


def test_single_pass_fanout_equals_per_sink(spark, sf_dir, tmp_path):
    """partitionBy(sink) single-pass mode writes the same routed-row
    sets as per-sink unit writes (the 100 TB default vs the
    fine-resume mode)."""
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    runner.run_pipeline(spark, sf_dir, out_a, run_id="r1")
    paths_b = runner.run_pipeline(spark, sf_dir, out_b, run_id="r1", single_pass=True)
    a = _collect_ids(spark, out_a, "r1")
    got = {}
    for s, p in paths_b.items():
        df = spark.read.parquet(p)
        got[s] = {(r["conv_id"], r["turn_idx"]) for r in df.select("conv_id", "turn_idx").collect()}
        # schema parity with per-sink mode: the sink column survives
        assert "sink" in df.columns
    assert got == a


def test_metrics_contract(spark, sf_dir, transcripts, tmp_path):
    out = str(tmp_path / "m")
    runner.run_pipeline(spark, sf_dir, out, run_id="r1")
    m = spark.read.parquet(f"{out}/run_id=r1/metrics")
    rows = {(r["stage"], r["metric"]): r["value"] for r in m.collect()}
    total = transcripts.count()
    assert rows[("receiver", "accepted_log_records")] == total
    assert rows[("receiver", "refused_log_records")] == 0
    dropped = rows[("processor_parse", "dropped_items")]
    assert dropped > 0  # malformed rows quarantined
    assert rows[("processor_parse", "outgoing_items")] == total - dropped
    sent = sum(v for (s, k), v in rows.items() if k == "sent_log_records")
    assert sent == total  # per-sink sent sums to accepted


def test_run_pipeline_time_partitioned(spark, sf_dir, tmp_path):
    """Config-reachable time layout: per-sink tables land in ts_bucket
    partitions with identical total counts to the plain layout."""
    from pathlib import Path

    from opentelemetry_collector_spark.plans import runner

    plain = runner.run_pipeline(spark, sf_dir, str(tmp_path / "a"), run_id="r")
    timed = runner.run_pipeline(
        spark, sf_dir, str(tmp_path / "b"), run_id="r", time_partition="hour"
    )
    assert set(plain) == set(timed)
    for sink in plain:
        n_plain = spark.read.parquet(plain[sink]).count()
        got = spark.read.parquet(timed[sink])
        assert got.count() == n_plain
        assert "ts_bucket" in got.columns
        assert any(
            p.name.startswith("ts_bucket=")
            for p in Path(timed[sink]).iterdir()
            if p.is_dir()
        )


# ------------------------------------------- one-job fan-out (per-sink mode)


@pytest.fixture(scope="module")
def clean_run(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fanout_clean"))
    paths = runner.run_pipeline(spark, sf_dir, out, run_id="r1")
    return out, paths


@pytest.fixture(scope="module")
def clean_ids(spark, clean_run):
    return _collect_ids(spark, clean_run[0], "r1")


def _part_files(out_dir, run_id, sink):
    from pathlib import Path

    from opentelemetry_collector_spark.sinks import writers

    return sorted(p.name for p in Path(writers.sink_path(out_dir, run_id, sink)).iterdir())


@pytest.mark.parametrize("crash_ix", range(5))
def test_crash_after_each_sink_resume_equals_clean(spark, sf_dir, tmp_path, clean_ids, crash_ix):
    """All sinks are written by one job before the first commit record;
    a crash after any sink's write leaves the later units incomplete,
    and the resume rewrites exactly those, leaving committed sinks'
    files untouched."""
    out = str(tmp_path / "crash")
    sinks = route.all_sinks()
    with pytest.raises(checkpoint.SimulatedCrash):
        runner.run_pipeline(spark, sf_dir, out, run_id="r1", crash_after=sinks[crash_ix])
    manifest = checkpoint.LineageManifest(f"{out}/_checkpoint", "r1")
    assert manifest.committed() == sorted(sinks[:crash_ix])
    assert manifest.incomplete() == sorted(sinks[crash_ix:])
    kept = {s: _part_files(out, "r1", s) for s in sinks[:crash_ix]}

    runner.run_pipeline(spark, sf_dir, out, run_id="r1")
    manifest = checkpoint.LineageManifest(f"{out}/_checkpoint", "r1")
    assert manifest.committed() == sorted(sinks)
    assert {s: _part_files(out, "r1", s) for s in kept} == kept
    assert _collect_ids(spark, out, "r1") == clean_ids


def test_zero_row_sink_is_a_readable_empty_table(spark, sf_dir, tmp_path):
    never = route.Route("r_never", "1 = 0", "sink_never")
    cfg = pipeline.PipelineConfig(routes=(*route.DEFAULT_ROUTES, never))
    out = str(tmp_path / "empty")
    paths = runner.run_pipeline(spark, sf_dir, out, run_id="r1", cfg=cfg)
    assert "sink_never" in paths
    empty = runner.read_sink(spark, out, "r1", "sink_never")
    assert empty.count() == 0
    assert empty.schema == runner.read_sink(spark, out, "r1", route.DEFAULT_SINK).schema


def test_rerun_leaves_no_stale_rows(spark, sf_dir, tmp_path):
    """One fan-out write over a finished run's output, with sink_py
    routed away: every sink holds exactly the new rows (sink_py none),
    and agg/, metrics/, status/ and _checkpoint/ stay as they were."""
    from pathlib import Path

    from opentelemetry_collector_spark.sinks import writers

    out = str(tmp_path / "rerun")
    runner.run_pipeline(spark, sf_dir, out, run_id="r1")
    others = [Path(out, "run_id=r1", d) for d in ("agg", "metrics", "status")]
    others.append(Path(out, "_checkpoint"))

    def listing():
        return {str(d): sorted((p.name, p.stat().st_mtime_ns) for p in d.iterdir()) for d in others}

    before = listing()
    routed = pipeline.routed_frame(spark, sf_dir).withColumn(
        "sink",
        F.when(F.col("sink") == "sink_py", F.lit(route.DEFAULT_SINK)).otherwise(F.col("sink")),
    )
    writers.write_sink(routed, out, "r1", route.all_sinks())
    assert listing() == before
    got = _collect_ids(spark, out, "r1")
    assert got["sink_py"] == set()
    for s in route.all_sinks():
        want = routed.filter(F.col("sink") == s).select("conv_id", "turn_idx").collect()
        assert got[s] == {(r["conv_id"], r["turn_idx"]) for r in want}, s


def test_read_sink_returns_sink_column(spark, clean_run):
    out, paths = clean_run
    for s in paths:
        df = runner.read_sink(spark, out, "r1", s)
        assert {r["sink"] for r in df.select("sink").distinct().collect()} == {s}
    # a reader of several sink directories gets the column from the paths
    both = spark.read.option("basePath", out).parquet(*paths.values())
    assert set(both.select("sink").distinct().toPandas()["sink"]) == set(paths)


def test_run_pipeline_spark_job_budget(spark, sf_dir, tmp_path):
    """One fan-out job for all sinks, no schema-inference jobs: the
    whole per-sink-mode run fits in 12 Spark jobs (22 with a write job
    per sink and inferred source schemas)."""
    sc = spark.sparkContext
    sc.setJobGroup("run_pipeline_job_budget", "count the jobs of one run")
    try:
        runner.run_pipeline(spark, sf_dir, str(tmp_path / "jobs"), run_id="r1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("run_pipeline_job_budget")
    assert 0 < len(jobs) <= 12, len(jobs)
