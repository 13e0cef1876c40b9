"""End-to-end training-corpus pipeline: the composed LLM-data story.

One declarative DAG over the documents table:

    quality rules  →  contamination  →  mix sampling  →
    near-dup components (over survivors)  →  sequence packing

A document survives when ALL of:
- it passes the C4/Gopher quality rules (corpus.quality_rules);
- it is not the held-out benchmark set (doc_id % bench_mod == 0 —
  eval docs never train) and shares no word n-gram with it
  (corpus.contamination);
- the per-source mix sampler keeps it (corpus.mix_sample);
- among the docs satisfying all of the above, it is its near-dup
  component's representative (min doc_id over the MinHash pair graph
  OF THE SURVIVORS). Dedup runs LAST on the filtered set so a cluster
  whose min-id member was quality-filtered or sampled out still keeps
  its best remaining member — independent conjunction would drop the
  whole cluster (r4 review finding).

Survivors are packed into fixed-budget training chunks
(corpus.pack_sequences). Every stage is the SAME operator the
individual driver queries run; the composed oracle chains the same
SQL mirrors, so the full pipeline — not just its pieces — is value-
checked against DuckDB. Plan-wise the filters are one conjunction
over broadcast-joined keep-sets (components and contamination are
doc-id-keyed anti/semi joins; quality and sampling are row-local
predicates riding the scan), then the two-level packing offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import corpus, dedup


def prefilter_corpus(
    df: DataFrame,
    rates_ppm: dict[str, int],
    bench_mod: int = corpus.CONTAM_BENCH_MOD,
    default_ppm: int = 0,
) -> DataFrame:
    """The lazy pre-dedup survivor frame: quality + decontamination +
    mix sampling as one conjunction of doc-id-keyed semi/anti joins
    riding the documents scan."""
    quality_keep = corpus.quality_rules(df).filter("keep").select("doc_id")
    contaminated = corpus.contamination(df, bench_mod=bench_mod).select("doc_id")
    sampled = corpus.mix_sample(df, rates_ppm, default_ppm).select("doc_id")
    return (
        df.filter(F.col("doc_id") % bench_mod != 0)  # eval set never trains
        .join(quality_keep, "doc_id", "left_semi")
        .join(contaminated, "doc_id", "left_anti")
        .join(sampled, "doc_id", "left_semi")
    )


def component_labels(
    df: DataFrame,
    rates_ppm: dict[str, int],
    neardup_threshold: float = 0.5,
    bench_mod: int = corpus.CONTAM_BENCH_MOD,
    default_ppm: int = 0,
    persist_handle: list | None = None,
) -> DataFrame:
    """Near-dup component labels over the pre-filtered survivors —
    the expensive stage (per-round actions during construction),
    exposed so callers pay it ONCE and feed the result to
    clean_corpus/corpus_pipeline as a stage input (at 100 TB this is
    a persisted table, like the bucketed dedup store)."""
    pre = prefilter_corpus(df, rates_ppm, bench_mod, default_ppm).persist()
    if persist_handle is not None:
        persist_handle.append(pre)
    pairs = dedup.neardup_pairs_minhash(
        pre, threshold=neardup_threshold, persist_handle=persist_handle
    )
    return dedup.neardup_components(pre, pairs, persist_handle=persist_handle)


def clean_corpus(
    df: DataFrame,
    rates_ppm: dict[str, int],
    neardup_threshold: float = 0.5,
    bench_mod: int = corpus.CONTAM_BENCH_MOD,
    default_ppm: int = 0,
    persist_handle: list | None = None,
    labels: DataFrame | None = None,
) -> DataFrame:
    """Surviving documents (full rows): quality + decontamination +
    sampling first, then componentwise dedup AMONG the survivors.

    ``labels`` — precomputed ``component_labels`` output (doc_id,
    component_id over the SAME pre-filter parameters); when given, the
    call is fully lazy (no per-round component actions re-paid).
    ``persist_handle=[]`` receives every persisted intermediate so
    callers (bench, CLI) unpersist deterministically instead of
    leaving caches to the ContextCleaner (r4 advice)."""
    pre = prefilter_corpus(df, rates_ppm, bench_mod, default_ppm)
    if labels is None:
        pre = pre.persist()
        # persist is load-bearing: neardup_components runs per-round
        # ACTIONS during construction — without the cache every round
        # re-executes the whole pre-filter chain (incl. the
        # contamination gram join; measured ~2× pipeline wall time)
        if persist_handle is not None:
            persist_handle.append(pre)
        pairs = dedup.neardup_pairs_minhash(
            pre, threshold=neardup_threshold, persist_handle=persist_handle
        )
        labels = dedup.neardup_components(
            pre, pairs, persist_handle=persist_handle
        )
    reps = (
        labels
        .filter(F.col("doc_id") == F.col("component_id"))
        .select("doc_id")
    )
    return pre.join(reps, "doc_id", "left_semi")


def corpus_pipeline(
    df: DataFrame,
    rates_ppm: dict[str, int],
    budget_tokens: int = corpus.PACK_BUDGET_TOKENS,
    neardup_threshold: float = 0.5,
    default_ppm: int = 0,
    persist_handle: list | None = None,
    labels: DataFrame | None = None,
) -> DataFrame:
    """clean_corpus → pack_sequences: per-surviving-doc training-chunk
    placement."""
    return corpus.pack_sequences(
        clean_corpus(
            df,
            rates_ppm,
            neardup_threshold,
            default_ppm=default_ppm,
            persist_handle=persist_handle,
            labels=labels,
        ),
        budget_tokens,
    )


def oracle_corpus_pipeline(
    rates_ppm: dict[str, int],
    budget_tokens: int = corpus.PACK_BUDGET_TOKENS,
    neardup_threshold: float = 0.5,
    bench_mod: int = corpus.CONTAM_BENCH_MOD,
    table: str = "documents",
) -> str:
    """The composed DuckDB mirror: each stage's existing oracle as a
    CTE (nested WITHs are self-contained), staged exactly like
    clean_corpus — pre-filters first, components over the filtered
    set, then the standalone packing oracle REUSED over survivors."""
    quality = corpus.oracle_quality_rules(table)
    contam = corpus.oracle_contamination(bench_mod=bench_mod, table=table)
    sample = corpus.oracle_mix_sample(rates_ppm, table)
    comps = dedup.oracle_neardup_components(
        dedup.oracle_neardup_pairs_lsh(neardup_threshold, "pre"), "pre"
    )
    pack = corpus.oracle_pack_sequences(budget_tokens, "kept")
    return f"""
        WITH q AS ({quality}),
        contam AS ({contam}),
        sampled AS ({sample}),
        pre AS (
          SELECT d.doc_id, d.text FROM {table} d
          WHERE d.doc_id % {bench_mod} <> 0
            AND EXISTS (SELECT 1 FROM q WHERE q.doc_id = d.doc_id AND q.keep)
            AND NOT EXISTS (SELECT 1 FROM contam x WHERE x.doc_id = d.doc_id)
            AND EXISTS (SELECT 1 FROM sampled s WHERE s.doc_id = d.doc_id)),
        comps AS ({comps}),
        kept AS (
          SELECT pre.doc_id, pre.text FROM pre
          WHERE EXISTS (SELECT 1 FROM comps c
                        WHERE c.doc_id = pre.doc_id
                          AND c.component_id = pre.doc_id))
        SELECT * FROM ({pack})"""
