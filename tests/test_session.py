"""Local-only session settings (session.local_conf), checked without a JVM.

A cluster master must keep Spark's stock defaults; every local master
form gets the local settings with its own core count; and ``local[N]``
keeps the exact values the benchmarks were recorded with (an A/B whose
shuffle dir differs is refused, so the tmpfs default is pinned too).
"""

from __future__ import annotations

import os

import pytest

from opentelemetry_collector_spark import session

_ENV = (
    "SPARK_MIN_PARTITION_NUM",
    "SPARK_OPEN_COST_BYTES",
    "SPARK_AQE_MIN_PARTITION_SIZE",
    "SPARK_GRAFT_LOCAL_DIR",
)


@pytest.fixture(autouse=True)
def _clean_env(monkeypatch):
    for k in _ENV:
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setattr(session.os.path, "isdir", lambda p: p == "/dev/shm")


@pytest.mark.parametrize(
    "master", ["spark://h:7077", "yarn", "k8s://https://h:6443", "local-cluster[2,1,1024]"]
)
def test_cluster_master_gets_no_local_keys(master):
    assert session.local_conf(master) == {}


@pytest.mark.parametrize(
    "master, threads",
    [
        ("local", 1),
        ("local[3,2]", 3),
        ("local[*]", os.cpu_count()),
        ("local[*,4]", os.cpu_count()),
    ],
)
def test_local_master_forms_set_min_partition_num(master, threads):
    assert session.local_conf(master)["spark.sql.files.minPartitionNum"] == str(
        2 * threads
    )


def test_local_n_pins_exact_values():
    assert session.local_conf("local[4]") == {
        "spark.sql.files.maxPartitionBytes": "16777216",
        "spark.sql.files.minPartitionNum": "8",
        "spark.sql.files.openCostInBytes": "1048576",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        "spark.local.dir": "/dev/shm/spark-local",
    }


def test_env_overrides_and_empty_local_dir(monkeypatch):
    monkeypatch.setenv("SPARK_MIN_PARTITION_NUM", "5")
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "")
    conf = session.local_conf("local[4]")
    assert conf["spark.sql.files.minPartitionNum"] == "5"
    assert "spark.local.dir" not in conf
