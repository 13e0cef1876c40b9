"""Fixture generator invariants (FIXTURES.md §1)."""

from __future__ import annotations

import numpy as np

from opentelemetry_collector_spark import fixtures


def test_deterministic():
    a = fixtures.generate_transcripts(5000)
    b = fixtures.generate_transcripts(5000)
    assert a.equals(b)


def test_schema():
    t = fixtures.generate_transcripts(1000)
    assert t.schema.equals(fixtures.TRANSCRIPT_SCHEMA)
    assert t.num_rows == 1000


def test_unique_id_contract():
    """(conv_id, turn_idx) is unique — the contract-checker ID."""
    t = fixtures.generate_transcripts(5000).to_pandas()
    assert not t.duplicated(["conv_id", "turn_idx"]).any()


def test_turn_idx_dense_per_conv():
    t = fixtures.generate_transcripts(5000).to_pandas()
    g = t.groupby("conv_id")["turn_idx"]
    assert (g.min() == 0).all()
    assert (g.max() == g.count() - 1).all()


def test_skew_and_malformed():
    t = fixtures.generate_transcripts(60000).to_pandas()
    counts = t.groupby("conv_id").size().sort_values(ascending=False)
    n_hot = max(1, len(counts) // 100)
    hot_share = counts.iloc[:n_hot].sum() / len(t)
    assert 0.2 < hot_share < 0.4  # ~30% of turns in ~1% of convs
    bad = t["text"].str.startswith("!!corrupt").mean()
    assert 0.01 < bad < 0.04  # ~2% malformed


def test_rows_shuffled():
    t = fixtures.generate_transcripts(5000).to_pandas()
    # if emitted in order, conv_id would be sorted; assert it is not
    assert not t["conv_id"].is_monotonic_increasing


def test_ts_deterministic_no_wallclock():
    t = fixtures.generate_transcripts(100).to_pandas()
    assert (t["ts"] >= np.datetime64("2025-01-01")).all()
    assert (t["ts"] < np.datetime64("2025-01-03")).all()


def test_declared_spark_schemas_equal_inferred(spark, sf_dir):
    """Readers declare the fixture tables' Spark schemas so a scan runs
    no footer-inference job; each declaration must equal what inference
    reads from the file, so generator drift fails here, loudly."""
    from pyspark.sql.types import StructType

    from opentelemetry_collector_spark.sources import tables

    declared = {
        fixtures.ensure_transcripts(sf_dir): tables.TRANSCRIPTS_SCHEMA,
        **dict(zip(fixtures.ensure_dims(), (
            StructType.fromDDL(fixtures.ROLE_DIM_DDL),
            StructType.fromDDL(fixtures.TOOL_DIM_DDL),
        ))),
        **{
            path: StructType.fromDDL(fixtures.PROFILE_DDL[name])
            for name, path in fixtures.ensure_profiles().items()
        },
    }
    assert len(declared) == 10
    for path, schema in declared.items():
        assert spark.read.parquet(path).schema == schema, path
    assert tables.TRANSCRIPTS_SCHEMA["ts"].dataType.simpleString() == "timestamp_ntz"


def test_nop_source_types_like_a_real_receiver(spark, sf_dir):
    """A pipeline with no receiver types every column, ts included, as
    the transcript scan does."""
    from opentelemetry_collector_spark.sources import tables

    real = tables.read_transcripts(spark, sf_dir)
    assert tables.nop_source(spark).schema == real.schema
