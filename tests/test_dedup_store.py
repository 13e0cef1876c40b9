"""Disk-backed incremental-dedup store (VERDICT r3 #5).

write_minhash_store persists the dedup state as bucketed tables;
incremental_dedup_keep_ids fed from them must (a) return EXACTLY what
it returns fed from the in-memory store_frames, and (b) never exchange
the corpus side of the candidate join or the signature join — the
whole point of paying the bucketed layout at write time. The in-memory
store's three frames must all read one materialisation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import dedup

STORE = "t_minhash_store"


@pytest.fixture(scope="module")
def store(spark, sf_dir):
    import shutil
    from pathlib import Path

    # a location left by a PREVIOUS JVM is invisible to this session's
    # catalog but blocks saveAsTable — clean both layers first
    for suffix in ("docs", "keys", "counts"):
        spark.sql(f"DROP TABLE IF EXISTS {STORE}_{suffix}")
        shutil.rmtree(
            Path("spark-warehouse") / f"{STORE}_{suffix}", ignore_errors=True
        )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    dedup.write_minhash_store(spark, corpus, STORE)
    yield docs


def test_bucketed_store_matches_in_memory(spark, store):
    """The two store sources give one function identical answers (same
    exact anti-join, same combined-bucket cap, same signature
    verification)."""
    corpus = store.filter(F.col("doc_id") % 5 != 0)
    new = store.filter(F.col("doc_id") % 5 == 0)
    mem = {
        r["doc_id"]
        for r in dedup.incremental_dedup_keep_ids(
            new, *dedup.store_frames(dedup.minhash_store(corpus))
        ).collect()
    }
    disk = {
        r["doc_id"]
        for r in dedup.incremental_dedup_keep_ids(
            new, *dedup.read_minhash_store(spark, STORE)
        ).collect()
    }
    assert disk == mem and len(disk) > 0


def test_in_memory_store_frames_read_one_materialisation(spark, store):
    """Plan pin: docs, keys and counts of the in-memory store all read
    the SAME filled cache — no leaf of their plans scans the corpus
    files (so none re-hashes its text), and the cache is materialised
    before any consumer runs, so none can race its fill."""
    corpus = store.filter(F.col("doc_id") % 5 != 0)
    handle: list = []
    frames = dedup.store_frames(dedup.minhash_store(corpus), handle)
    try:
        buffers = set()
        for frame in frames:
            leaves = frame._jdf.queryExecution().withCachedData().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                assert leaf.nodeName() == "InMemoryRelation", leaf.toString()
                builder = leaf.cacheBuilder()
                assert builder.isCachedColumnBuffersLoaded()
                buffers.add(builder.cachedColumnBuffers().id())
        assert len(buffers) == 1
    finally:
        for frame in handle:
            frame.unpersist(True)


def _scan_exchange_violations(plan: str, table: str) -> list[str]:
    """Lines where a SHUFFLE (Exchange hash/rangepartitioning — not a
    BroadcastExchange, which ships the small OTHER side) sits between
    the table's FileScan and its consuming join — i.e. the bucketing
    was NOT used. Walks the plan text bottom-up from each scan line,
    ascending only through shallower-indented ancestors."""
    lines = plan.splitlines()
    scans = [i for i, ln in enumerate(lines) if "FileScan" in ln and table in ln]
    assert scans, f"no scan of {table} in plan"
    bucket_col = table.rsplit("_", 1)[-1] == "keys" and "bk" or "id"
    bad = []
    for i in scans:
        reads_bucket_col = f"{bucket_col}:" in lines[i].split("ReadSchema:")[-1]
        if not reads_bucket_col:
            # e.g. the fp-only column-pruned scan for the exact
            # anti-join — no bucket column, bucketing can't apply
            continue
        assert "Bucketed: true" in lines[i], (
            f"{table} scan lost its bucketing: {lines[i].strip()[:120]}"
        )
        depth = len(lines[i]) - len(lines[i].lstrip())
        for j in range(i - 1, -1, -1):
            d = len(lines[j]) - len(lines[j].lstrip())
            if d >= depth:
                continue
            if "Exchange hashpartitioning" in lines[j] or "Exchange rangepartitioning" in lines[j]:
                bad.append(lines[j].strip())
            if "Join" in lines[j]:
                break
            depth = d
    return bad


def test_corpus_side_joins_are_exchange_free(spark, store):
    """Plan pin: neither the {store}_keys scan (candidate join) nor the
    {store}_docs scan (signature join) may be re-shuffled — they carry
    their bucketing into the joins."""
    new = store.filter(F.col("doc_id") % 5 == 0)
    out = dedup.incremental_dedup_keep_ids(
        new, *dedup.read_minhash_store(spark, STORE)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not _scan_exchange_violations(plan, f"{STORE}_keys")
    assert not _scan_exchange_violations(plan, f"{STORE}_docs")


def test_store_tables_are_bucketed(spark, store):
    """The written layout itself: 16 buckets on the declared columns,
    and the occupancy table matches a fresh count."""
    cat = spark.sql(f"DESCRIBE TABLE EXTENDED {STORE}_keys").collect()
    info = {r["col_name"]: r["data_type"] for r in cat}
    assert info.get("Num Buckets") == "16"
    assert "bk" in info.get("Bucket Columns", "")
    counts = {
        r["bk"]: r["n"] for r in spark.table(f"{STORE}_counts").collect()
    }
    fresh = {
        r["bk"]: r["n"]
        for r in spark.table(f"{STORE}_keys")
        .groupBy("bk")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == fresh
