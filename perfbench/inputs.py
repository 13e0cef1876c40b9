"""Seeded benchmark inputs, cached by (workload, seed, size).

Every table the program reads is generated here from the seed, with
the package's own generators, into a fixture root of the benchmark's
work directory (``OTELCOL_SPARK_FIXTURES`` points the package at it).
The scale-factor directory holds the transcripts, documents and
embeddings tables, which is the layout the package's query and oracle
helpers expect. Generation happens before set-up and is not timed.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from pathlib import Path


@dataclass(frozen=True)
class Sizes:
    turns: int  # transcript rows
    docs: int  # documents rows
    vecs: int = 64  # embedding rows (only oracle helpers read them)


def fixture_root(work: Path, workload: str, seed: int, sizes: Sizes) -> Path:
    return (
        work / "inputs" / workload
        / f"seed{seed}_t{sizes.turns}_d{sizes.docs}_e{sizes.vecs}"
    )


def prepare(root: Path, seed: int, sizes: Sizes) -> Path:
    """Generate (once) every table for ``seed``; returns the scale-factor
    directory. ``root`` must be the package's ``fixtures.FIXTURE_ROOT``."""
    import pyarrow.parquet as pq

    from opentelemetry_collector_spark import fixtures

    if fixtures.FIXTURE_ROOT.resolve() != root.resolve():
        raise RuntimeError(f"fixture root is {fixtures.FIXTURE_ROOT}, want {root}")
    sf_dir = root / f"sf{sizes.turns / fixtures.TURNS_PER_SF:g}"
    sf_dir.mkdir(parents=True, exist_ok=True)
    transcripts = fixtures.transcripts_path(str(sf_dir))
    if not transcripts.exists():
        tmp = transcripts.with_suffix(".tmp.parquet")
        pq.write_table(
            fixtures.generate_transcripts(sizes.turns, seed),
            tmp,
            row_group_size=fixtures.TRANSCRIPT_ROW_GROUP_ROWS,
        )
        os.replace(tmp, transcripts)
    corpus = Path(
        fixtures.ensure_scalegrowth(
            1, base_docs=sizes.docs, base_vecs=sizes.vecs, seed=seed
        )
    )
    for table in ("documents.parquet", "embeddings.parquet"):
        if not (sf_dir / table).exists():
            shutil.copyfile(corpus / table, sf_dir / f"{table}.tmp")
            os.replace(sf_dir / f"{table}.tmp", sf_dir / table)
    fixtures.ensure_profiles(seed=seed)
    fixtures.ensure_dims()
    return sf_dir


def duckdb_connection(sf_dir: Path):
    """DuckDB with the views the package's oracle SQL expects."""
    import duckdb

    con = duckdb.connect()
    for table in ("documents", "embeddings"):
        con.sql(
            f"CREATE VIEW {table} AS SELECT * FROM "
            f"read_parquet('{sf_dir / (table + '.parquet')}')"
        )
    return con
