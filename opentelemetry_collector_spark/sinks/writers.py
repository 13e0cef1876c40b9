"""Sinks (the exporter analog).

- ``write_sink``: the otlpexporter analog — overwrite a table per sink
  (exporter/otlpexporter/otlp.go:133-151), one sink or many in one
  job. Writes are **idempotent per (run_id, sink)**: a deterministic
  output directory replaced by a dynamic partition overwrite, so a
  replayed sink replaces rather than duplicates — the Spark-native
  replace-where. Combined with the
  lineage manifest (state/checkpoint.py) this reproduces the persistent
  queue's at-least-once-replay + exactly-once-effect contract
  (exporter/exporterhelper/internal/queue/persistent_queue.go:50-73).
- ``debug_sink``: debugexporter (exporter/debugexporter/exporter.go) —
  verbosity levels + sampling.
- ``nop_sink``: nopexporter — count-only action.
- ``retry_commit``: retry_sender analog (exporter/exporterhelper/
  internal/retry_sender.go:71-152): exponential backoff around the
  commit, permanent errors short-circuit.

Scale note: sink writes repartition on the shard key (conv_id) and cap
records per file (batch.shape_for_write) — the batchprocessor's
send_batch_max_size split expressed as physical file shaping. On a
real cluster the same call sites target Iceberg
(write.format("iceberg"), replaceWhere) — parquet-dir fallback here.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from collections.abc import Sequence
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import batch as batch_mod


class PermanentError(Exception):
    """Non-retryable (consumer/consumererror/permanent.go analog)."""


class ThrottleError(Exception):
    """Retryable failure carrying a server-specified delay — the
    gRPC RetryInfo / HTTP Retry-After path the reference honors in
    exporter/otlpexporter/otlp.go:187-216 (throttle overrides the
    client backoff for that attempt)."""

    def __init__(self, msg: str, retry_after: float):
        super().__init__(msg)
        self.retry_after = float(retry_after)


@dataclass
class RetryConfig:
    """retry_sender.go:71-152 config surface."""

    initial_interval: float = 0.05
    multiplier: float = 1.5
    max_interval: float = 2.0
    max_elapsed: float = 30.0


def retry_commit(fn, cfg: RetryConfig | None = None, sleep=time.sleep):
    """Run fn() with exponential backoff; PermanentError short-circuits;
    a ThrottleError's server delay replaces the backoff wait for that
    attempt (retry_sender.go:116-129: throttle wins over backoff; the
    backoff sequence itself is not reset)."""
    cfg = cfg or RetryConfig()
    interval = cfg.initial_interval
    elapsed = 0.0
    attempt = 0
    while True:
        attempt += 1
        try:
            return fn()
        except PermanentError:
            raise
        except Exception as e:
            wait = interval
            if isinstance(e, ThrottleError):
                wait = e.retry_after
            if elapsed + wait > cfg.max_elapsed:
                raise
            sleep(wait)
            elapsed += wait
            interval = min(interval * cfg.multiplier, cfg.max_interval)


def sink_path(base_dir: str, run_id: str, sink: str) -> str:
    return str(Path(base_dir) / f"run_id={run_id}" / f"sink={sink}")


def single_pass_sink_path(base_dir: str, run_id: str, sink: str) -> str:
    """Leaf dir of one sink under a single-pass fan-out write. NB: a
    sink with zero routed rows produces no directory in this mode
    (partitionBy writes only observed values)."""
    return str(Path(base_dir) / f"run_id={run_id}" / f"_sink_part={sink}")


# characters partitionBy escapes in a directory name (Spark's
# ExternalCatalogUtils.escapePathName): a sink named with one would land
# in a directory other than sink_path
_ESCAPED_IN_PATH = re.compile(r'[\x00-\x1f"#%\'*/:=?\\\x7f{\[\]^]')


def write_sink(
    df: DataFrame,
    base_dir: str,
    run_id: str,
    sink: str | Sequence[str],
    rows_per_file: int = batch_mod.DEFAULT_SEND_BATCH_SIZE,
    retry: RetryConfig | None = None,
) -> str | dict[str, str]:
    """Idempotent per-(run_id, sink) write of one sink or of many, in ONE
    Spark job — the fanoutconsumer hands one batch to every exporter in
    one ConsumeLogs call (internal/fanoutconsumer/logs.go:49-78).

    ``sink`` is one name (every row of ``df`` belongs to it; returns its
    path) or a list of names (``df`` carries a ``sink`` column and only
    the listed sinks' rows are written; returns {sink: path}). The rows
    are shaped once on conv_id and written partitionBy("sink") with
    dynamic partition overwrite into run_id=<R>/: each listed sink's
    sink=<S> directory is replaced and nothing else under the run is
    touched, so a replay replaces only the sinks it rewrites (on Iceberg
    an overwritePartitions commit). A listed sink that receives no rows
    still ends as a readable empty table. The sink name lives in the
    directory, not in the data files (runner.read_sink adds it back).
    """
    sinks = [sink] if isinstance(sink, str) else list(sink)
    bad = [s for s in sinks if not s or _ESCAPED_IN_PATH.search(s)]
    if bad:
        raise ValueError(f"sink names must be plain path segments: {bad!r}")
    rows = (
        df.withColumn("sink", F.lit(sink))
        if isinstance(sink, str)
        else df.filter(F.col("sink").isin(sinks))
    )
    paths = {s: sink_path(base_dir, run_id, s) for s in sinks}
    shaped, opts = batch_mod.shape_for_write(rows, rows_per_file, shard_keys=("conv_id",))

    def _commit() -> None:
        # the dynamic overwrite replaces only the sinks that receive
        # rows; clearing every listed sink first leaves an empty one
        # absent, so it gets its empty table below instead of stale rows
        for path in paths.values():
            shutil.rmtree(path, ignore_errors=True)
        w = shaped.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        w = batch_mod.apply_write_options(w, opts)
        w.partitionBy("sink").parquet(str(Path(base_dir) / f"run_id={run_id}"))
        for path in paths.values():
            if not os.path.exists(path):
                shaped.drop("sink").limit(0).write.parquet(path)

    retry_commit(_commit, retry)
    return paths[sink] if isinstance(sink, str) else paths


def rejected_path(base_dir: str, run_id: str, sink: str) -> str:
    return str(Path(base_dir) / f"run_id={run_id}" / f"rejected={sink}")


def write_sink_partial(
    df: DataFrame,
    base_dir: str,
    run_id: str,
    sink: str,
    reject_predicate,
    rows_per_file: int = batch_mod.DEFAULT_SEND_BATCH_SIZE,
    retry: RetryConfig | None = None,
) -> dict:
    """Partial-success commit (otlp.go:103-110 ExportResponse
    PartialSuccess): the sink accepts most rows but rejects a subset.
    Rejected rows are NOT retried (the reference logs and drops them) —
    here they land in a quarantine side table so they stay auditable,
    and the send_failed count feeds the obsreport metrics.

    Returns {"sent", "send_failed", "path", "rejected_path"}.
    """
    # NULL-safe predicate: filter(~NULL) AND filter(NULL) both drop the
    # row, which would silently lose it from BOTH outputs — a NULL
    # verdict means "not rejected"
    rej = F.coalesce(reject_predicate, F.lit(False))
    # persist: the upstream lineage feeds two writes; without it the
    # whole plan executes twice (the fan-out evaluate-once obligation)
    df = df.persist()
    try:
        accepted = df.filter(~rej)
        rejected = df.filter(rej)
        path = write_sink(accepted, base_dir, run_id, sink, rows_per_file, retry)
        rej_path = rejected_path(base_dir, run_id, sink)

        def _commit() -> None:
            rejected.write.mode("overwrite").parquet(rej_path)

        retry_commit(_commit, retry)
        spark = df.sparkSession
        # counts from the WRITTEN state (footer metadata reads), so the
        # report reflects what actually committed
        n_sent = spark.read.parquet(path).count()
        n_failed = spark.read.parquet(rej_path).count()
        return {
            "sent": n_sent,
            "send_failed": n_failed,
            "path": path,
            "rejected_path": rej_path,
        }
    finally:
        df.unpersist()


def write_fanout_single_pass(
    routed: DataFrame,
    base_dir: str,
    run_id: str,
    rows_per_file: int = batch_mod.DEFAULT_SEND_BATCH_SIZE,
) -> str:
    """One-pass fan-out: write.partitionBy('_sink_part') — every sink's
    table materializes in a single job over the routed frame with no
    shuffle, and the whole fan-out is ONE lineage unit.

    The per-sink mode (write_sink over the list of incomplete sinks)
    also writes every sink in one write, shaped once on conv_id, and
    keeps a commit record per sink. This mode differs only by skipping
    that shuffle (one Spark job fewer) and by replaying the whole
    fan-out after a crash.
    """
    path = str(Path(base_dir) / f"run_id={run_id}")

    def _commit() -> None:
        (
            # partition on a COPY: partitionBy strips its column from the
            # data files, so reading a sink=<s> leaf directly would lose
            # the sink column and diverge from per-sink-mode schema
            routed.withColumn("_sink_part", F.col("sink"))
            .write.mode("overwrite")
            .option("maxRecordsPerFile", str(rows_per_file))
            .partitionBy("_sink_part")
            .parquet(path)
        )

    retry_commit(_commit)
    return path


def compact_sink(
    spark,
    path: str,
    target_rows_per_file: int = batch_mod.DEFAULT_SEND_BATCH_SIZE,
) -> tuple[int, int]:
    """Small-file compaction (Iceberg rewrite_data_files analog).

    Streaming fan-out appends many small files per epoch; batch
    re-reads then pay per-file open costs. Compaction rewrites a sink
    table to ⌈rows / target⌉ files. Safe protocol on the parquet
    fallback: write to a shadow dir, then atomically swap directories
    (Iceberg does this as a metadata-only commit).

    Returns (files_before, files_after).
    """
    shadow = path.rstrip("/") + "__compact"
    old = path.rstrip("/") + "__old"
    # crash recovery: a previous run may have died between its two
    # renames (sink moved to __old, shadow not yet promoted) — restore,
    # then clear any stale work dirs before starting
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    for stale in (shadow, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)

    df = spark.read.parquet(path)
    n = df.count()
    files_before = len(list(Path(path).rglob("*.parquet")))
    n_files = max(1, -(-n // target_rows_per_file))
    (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", str(target_rows_per_file))
        .parquet(shadow)
    )
    # the shadow is fully written before the sink is touched, so a crash
    # in the window between these renames is recoverable (see above);
    # on Iceberg this whole swap is a single metadata commit
    os.rename(path, old)
    os.rename(shadow, path)
    shutil.rmtree(old)
    files_after = len(list(Path(path).rglob("*.parquet")))
    return files_before, files_after


def debug_sink(
    df: DataFrame,
    verbosity: str = "basic",
    sample: int = 20,
    sampling_initial: int | None = None,
    sampling_thereafter: int | None = None,
    _batch_counter: list | None = None,
) -> int:
    """debugexporter: basic → count only; normal → sampled rows;
    detailed → sampled rows, untruncated.

    sampling_initial / sampling_thereafter mirror
    exporter/debugexporter/config.go:26-33 (zapcore sampler semantics
    at BATCH granularity, the reference's unit): the first
    ``sampling_initial`` invocations print, after which only every
    ``sampling_thereafter``-th invocation does. The counter lives in
    the caller-supplied ``_batch_counter`` (a 1-element list) so
    repeated sink calls of one configured exporter share it — sampling
    without a shared counter would silently reset per call (every
    batch looks like the first), so that is a ValueError, not a
    default."""
    if sampling_thereafter is not None and sampling_initial is None:
        # a caller configuring only 'thereafter' would otherwise get
        # every batch printed with no error — match the loud contract
        # the missing-_batch_counter case already gets
        raise ValueError(
            "sampling_thereafter requires sampling_initial "
            "(exporter/debugexporter/config.go pairs them)"
        )
    n = df.count()
    if verbosity not in ("normal", "detailed"):
        return n
    show = True
    if sampling_initial is not None:
        if _batch_counter is None:
            raise ValueError(
                "sampling_initial needs a shared _batch_counter "
                "(one [0] list per configured debug exporter)"
            )
        _batch_counter[0] += 1
        seen = _batch_counter[0]
        if seen > sampling_initial:
            thereafter = sampling_thereafter or 0
            show = thereafter > 0 and (seen - sampling_initial) % thereafter == 0
    if show:
        df.show(sample, truncate=verbosity != "detailed")
    return n


def nop_sink(df: DataFrame) -> int:
    """nopexporter: consume and discard (count-only action)."""
    return df.count()


def time_sink_path(base_dir: str, run_id: str, sink: str) -> str:
    """Leaf dir of one time-partitioned sink (shared by writer+runner)."""
    return str(Path(base_dir) / f"run_id={run_id}" / f"tsink={sink}")


def write_sink_time_partitioned(
    df: DataFrame,
    base_dir: str,
    run_id: str,
    sink: str,
    ts_col: str = "ts",
    granularity: str = "hour",
    rows_per_file: int = batch_mod.DEFAULT_SEND_BATCH_SIZE,
    retry: RetryConfig | None = None,
) -> str:
    """Telemetry-table layout: the sink partitioned by event-time
    bucket (`ts_bucket=2025-01-01 13:00:00/…`), so every time-ranged
    read — the dominant query pattern over log tables — prunes to the
    touched partitions instead of scanning the run (PartitionFilters
    evidence in tests/test_sinks.py). On Iceberg this is the
    `hour(ts)`/`day(ts)` partition transform; the parquet fallback
    derives an explicit bucket column (partitionBy strips it from the
    data files, the raw ts column stays).

    Late data lands in its OWN (older) partition — an idempotent replay
    of the run overwrites deterministically either way.
    """
    if granularity not in ("hour", "day"):
        raise ValueError(f"granularity must be hour|day, got {granularity!r}")
    path = time_sink_path(base_dir, run_id, sink)
    # bucket as a NON-CASTABLE formatted string, identical shape for
    # BOTH granularities ('2025-01-01-13' / '2025-01-01-00'): partition
    # type inference parses bare '2025-01-01' back as DateType, which
    # would silently retype the column between writer and reader and
    # between hour- and day-partitioned tables
    bucketed = F.date_trunc(granularity, F.col(ts_col))
    shaped = df.withColumn("ts_bucket", F.date_format(bucketed, "yyyy-MM-dd-HH"))
    # repartition on the bucket before partitionBy: without it every
    # upstream task writes one file per bucket it holds (tasks×buckets
    # tiny files — the small-files trap compact_sink exists to fix)
    shaped, opts = batch_mod.shape_for_write(
        shaped, rows_per_file, shard_keys=("ts_bucket",)
    )

    def _commit() -> None:
        w = shaped.write.mode("overwrite")
        w = batch_mod.apply_write_options(w, opts)
        w.partitionBy("ts_bucket").parquet(path)

    retry_commit(_commit, retry)
    return path
