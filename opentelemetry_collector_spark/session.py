"""SparkSession factory tuned for the pipeline.

Scale posture: these settings are chosen for a 1000-executor cluster
reading ~100 TB and merely *tested* on local[32]:
- AQE on (runtime coalescing + skew-join splitting for hot conv_ids);
- Arrow execution for the one vectorized parse UDF;
- shuffle partitions sized by env so local runs don't over-shard tiny
  inputs while cluster runs can raise it (spark.sql.shuffle.partitions
  is a per-deploy knob, not code).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# local, local[N], local[*], local[N,F], local[*,F]
_LOCAL_MASTER = re.compile(r"local(?:\[(\d+|\*)(?:,\d+)?\])?")


def local_conf(master: str) -> dict[str, str]:
    """The settings only a local master gets ({} for a cluster master,
    which keeps Spark's stock defaults — there files are many and
    large and the 128 MB split is right)."""
    m = _LOCAL_MASTER.fullmatch(master)
    if m is None:
        return {}
    threads = m.group(1) or "1"
    parallelism = (os.cpu_count() or 1) if threads == "*" else int(threads)
    conf = {
        # local files are small: keep scan splits ≤16 MB so map-side
        # parallelism matches the core count
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        # the 16 MB cap alone still left the sf0.1
        # transcript scan at 6 map tasks on a 32-core box (measured:
        # the logs-envelope map stage burned 12 s of CPU across 6 tasks
        # = 2 s wall with 26 cores idle). Scale-adaptively derive split
        # size from input-size/parallelism instead of a constant:
        # minPartitionNum floors scan parallelism at 2× the core count
        # and openCostInBytes must drop below the default 4 MB or it
        # re-floors every split at 4 MB.
        "spark.sql.files.minPartitionNum": os.environ.get(
            "SPARK_MIN_PARTITION_NUM", str(2 * parallelism)
        ),
        "spark.sql.files.openCostInBytes": os.environ.get(
            "SPARK_OPEN_COST_BYTES", str(1024 * 1024)
        ),
        # AQE coalescing is byte-based; CPU-dense stages over narrow
        # rows (134k candidate pairs × 64-dim cosine ≈ 4 MB) were
        # coalesced to 1-4 partitions and ran serially (measured:
        # embedding_dedup verify = one 3 s task). 64k keeps such
        # stages wide locally; production inputs are orders larger,
        # where the 1 MB default never binds on real data anyway.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
            "SPARK_AQE_MIN_PARTITION_SIZE", "64k"
        ),
    }
    # Shuffle files on the fastest local storage (the shuffle is
    # disk-backed by design). Production clusters point
    # spark.local.dir / SPARK_LOCAL_DIRS at striped NVMe; on a VM whose
    # only fast device is RAM-backed tmpfs, ext4 on the virtio disk
    # charged ~4 s of shuffle-file write time to single MB-scale
    # exchanges (A/B/A: simhash_pairs 3.4→2.4 s).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        conf["spark.local.dir"] = local_dir
    return conf


def get_spark(
    app_name: str = "otelcol-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with pipeline defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster it is supplied by spark-submit and must be left None.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in {**local_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
