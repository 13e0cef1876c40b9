"""Driver contract for the spark-graft builder (PySpark target).

queries() entries map 1:1 to SURVEY.md §2 operators; each has a DuckDB
oracle in oracle_sql() unless genuinely non-SQL-expressible. Both
engines read the SAME transcript fixture parquet bytes
(/root/repo/fixtures/<sf>/transcripts.parquet), generated
deterministically by opentelemetry_collector_spark.fixtures (seed 42).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark import fixtures
from opentelemetry_collector_spark.functions import parse as parse_mod
from opentelemetry_collector_spark.operators import (
    aggregate as agg_mod,
    batch as batch_mod,
    enrich as enrich_mod,
    filter as filter_mod,
    order as order_mod,
    route as route_mod,
)
from opentelemetry_collector_spark.functions import signals as signals_mod
from opentelemetry_collector_spark.functions import profiles as profiles_oracle
from opentelemetry_collector_spark.functions import (
    profiles_otlp as profiles_otlp_oracle,
)
from opentelemetry_collector_spark.functions import text as text_oracle
from opentelemetry_collector_spark.operators import dedup as dedup_oracle
from opentelemetry_collector_spark.operators import corpus as corpus_oracle
from opentelemetry_collector_spark.operators import similarity as sim_oracle
from opentelemetry_collector_spark.plans import pipeline
from opentelemetry_collector_spark.sources import tables

# the driver runs correctness at sf0.01; the env override exists for
# the SECOND-scale local value check (r5 — several oracles bake
# scale-dependent literals: query vector, ann bits ladder, simhash q,
# IVF centroids — at a different sf the oracle must re-derive them)
ORACLE_SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")

ANN_THRESHOLD = 0.3


def _query_vec(sf_dir: str) -> list[float]:
    """Deterministic ANN query vector: embedding of vec_id 0."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    vid = t.column("vec_id").to_pylist()
    return t.column("embedding")[vid.index(0)].as_py()


def _ann_bits(sf_dir: str) -> int:
    """LSH bits scaled with corpus size: 2^bits ≈ n/16 buckets per band
    keeps EXPECTED random-pair candidates linear — two unrelated
    vectors collide in one band with prob 0.5^bits, so candidates ≈
    n_bands · (n²/2) · 16/n = 8·8·n = O(n) — while true near-dup
    clusters (cos ≳ 0.9, per-bit agreement ≳ 0.86) still reach the
    verifier through the OR over 8 bands (recall ≈ 1-(1-0.86^bits)^8).
    The r2 fixed bits=4 made verification quadratic-ish at sf0.1
    (measured ~250k candidate cosines for 2k vectors). Deterministic in
    n, so the Spark query and the oracle (built at ORACLE_SF_DIR)
    always agree. One definition, shared with the scale-growth bench:
    operators/similarity.ann_bits_for."""
    from opentelemetry_collector_spark.operators.similarity import ann_bits_for

    return ann_bits_for(sf_dir)


def _transcripts_cte() -> str:
    path = fixtures.ensure_transcripts(ORACLE_SF_DIR)
    return f"WITH transcripts AS (SELECT * FROM read_parquet('{path}'))"


def _parsed_cte() -> str:
    frag = parse_mod.oracle_parse_fragment("transcripts")
    path = fixtures.ensure_transcripts(ORACLE_SF_DIR)
    return (
        f"WITH transcripts AS (SELECT * FROM read_parquet('{path}')), "
        f"parsed AS (SELECT transcripts.*, {frag} FROM transcripts)"
    )


def _rich_spans_cte() -> str:
    """DuckDB mirror of signals.rich_spans_from_turns +
    span_content_signatures: the full Span content surface rebuilt
    from the parsed table with window functions + CASE (signature
    strings — nested list<struct> values don't hash portably across
    engines)."""
    from opentelemetry_collector_spark.functions.signals import (
        SLOW_EVENT_THRESHOLD_MS,
    )

    return f"""{_parsed_cte()}, spans0 AS (
        SELECT conv_id, turn_idx,
               md5(conv_id) AS trace_id,
               substr(md5(conv_id || ':' || turn_idx), 1, 16) AS span_id,
               coalesce(tool, '') || '/' || coalesce(svc, '') AS name,
               'SPAN_KIND_CLIENT' AS kind,
               CASE WHEN level = 'ERROR' THEN 'STATUS_CODE_ERROR'
                    ELSE 'STATUS_CODE_OK' END AS status,
               epoch_ns(ts) AS start_ns,
               epoch_ns(ts) + cast(coalesce(latency_ms, 0) AS BIGINT) * 1000000
                 AS end_ns,
               CASE WHEN turn_idx % 2 = 0
                    THEN 'ot=' || coalesce(svc, 'none') END AS trace_state,
               CASE WHEN svc IS NOT NULL AND tool IS NOT NULL
                         THEN 'svc=' || svc || ';tool=' || tool
                    WHEN svc IS NOT NULL THEN 'svc=' || svc
                    WHEN tool IS NOT NULL THEN 'tool=' || tool
                    ELSE '' END AS attrs_sig,
               level, latency_ms, coalesce(text, '') AS body
        FROM parsed WHERE role = 'tool'),
    spans1 AS (
        SELECT *,
               lag(span_id) OVER w AS parent_span_id,
               first_value(span_id) OVER w AS root_span_id
        FROM spans0 WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
    rich_spans AS (
        SELECT conv_id, turn_idx, trace_id, span_id, parent_span_id, name,
               kind, status, start_ns, end_ns, trace_state, attrs_sig,
               concat_ws('|',
                 CASE WHEN level = 'ERROR' THEN 'exception@' || end_ns ||
                      '{{exception.message=' || substr(body, 1, 32) || '}}' END,
                 CASE WHEN latency_ms > {SLOW_EVENT_THRESHOLD_MS}
                      THEN 'slow@' || end_ns ||
                      '{{latency_ms=' || latency_ms || '}}' END) AS events_sig,
               concat_ws('|',
                 CASE WHEN parent_span_id IS NOT NULL
                      THEN parent_span_id || '#' ||
                           '~' || CASE WHEN parent_span_id = root_span_id
                                       THEN {signals_mod.ROOT_SPAN_FLAGS}
                                       ELSE {signals_mod.CHILD_SPAN_FLAGS} END ||
                           '{{link.type=parent}}' END,
                 CASE WHEN root_span_id <> span_id
                      THEN root_span_id ||
                           '#~{signals_mod.ROOT_SPAN_FLAGS}{{link.type=root}}'
                      END)
                 AS links_sig,
               CASE WHEN level = 'ERROR' AND length(body) > 0
                    THEN substr(body, 1, 48) END AS status_message,
               cast(CASE WHEN parent_span_id IS NULL
                         THEN {signals_mod.ROOT_SPAN_FLAGS}
                         ELSE {signals_mod.CHILD_SPAN_FLAGS} END
                    AS INTEGER) AS flags
        FROM spans1)"""


def _routed_cte() -> str:
    sink = route_mod.oracle_sink_fragment()
    return f"{_parsed_cte()}, routed AS (SELECT parsed.*, {sink} AS sink FROM parsed)"


def _dims_cte() -> str:
    rp, tp = fixtures.ensure_dims()
    return (
        f"role_dim AS (SELECT * FROM read_parquet('{rp}')), "
        f"tool_dim AS (SELECT * FROM read_parquet('{tp}'))"
    )


# ---------------------------------------------------------------- queries

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: parse→enrich→route→aggregate at sf0.001."""
    return pipeline.flagship(spark, "/root/testdata/sf0.001")


def _q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.flagship(spark, sf_dir)


def _q_pipeline_e2e_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.flagship(
        spark, sf_dir, pipeline.PipelineConfig(salted=True)
    )


def _q_pipeline_e2e_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.flagship(
        spark, sf_dir, pipeline.PipelineConfig(parse_method="arrow")
    )


def _q_parse_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = tables.read_transcripts(spark, sf_dir)
    return parse_mod.with_parsed(df, "native").select(
        "conv_id", "turn_idx", "level", "svc", "latency_ms", "req_id", "msg", "valid"
    )


def _q_parse_turns_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = tables.read_transcripts(spark, sf_dir)
    return parse_mod.with_parsed(df, "arrow").select(
        "conv_id", "turn_idx", "level", "svc", "latency_ms", "req_id", "msg", "valid"
    )


def _q_ordered_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = tables.read_transcripts(spark, sf_dir)
    return order_mod.with_turn_order(df).select(
        "conv_id", "turn_idx", "turn_seq", "text"
    )


def _q_enrich_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = tables.read_transcripts(spark, sf_dir)
    out = enrich_mod.enrich_with_defaults(df, spark)
    return out.select(
        "conv_id", "turn_idx", "role", "tool",
        "role_kind", "is_human", "tool_family", "sink_hint",
    )


def _q_enrich_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (SCD-2) enrichment: each turn gets the tool-dim version in
    effect at its timestamp — a zero-shuffle literal-map lookup on the
    Spark side, a native ASOF LEFT JOIN in the DuckDB oracle."""
    df = tables.read_transcripts(spark, sf_dir)
    versions = enrich_mod.load_versioned_tool_dim()
    return enrich_mod.asof_enrich(
        df, versions, payload_fields=("tool_version", "cost_tier")
    ).select("conv_id", "turn_idx", "tool", "tool_version", "cost_tier")


def _q_routed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.routed_frame(spark, sf_dir).select("sink", "conv_id", "turn_idx")


def _q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg_mod.sink_counts(pipeline.routed_frame(spark, sf_dir))


def _q_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg_mod.latency_stats(pipeline.routed_frame(spark, sf_dir))


def _q_quarantine_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = pipeline.routed_frame(spark, sf_dir)
    return routed.filter(F.col("sink") == route_mod.QUARANTINE_SINK).select(
        "conv_id", "turn_idx", "text"
    )


def _q_filter_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = tables.read_transcripts(spark, sf_dir)
    fs = filter_mod.FilterSet(column="role", strict=("tool", "system"))
    return filter_mod.include(df, fs).select("conv_id", "turn_idx", "role")


def _q_filter_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = tables.read_transcripts(spark, sf_dir)
    fs = filter_mod.FilterSet(column="text", regexp=(r"^\[ERROR\]",))
    return filter_mod.include(df, fs).select("conv_id", "turn_idx")


def _q_batch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = tables.read_transcripts(spark, sf_dir)
    return batch_mod.batch_counts(df, send_batch_size=512)


def _q_batch_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-capped batching (Sizer=bytes MergeSplit analog): per-shard
    batches split at 64 KiB of payload bytes.

    The payload never enters the sequencer (r7, guide §2.3 "shuffle
    keys and metadata instead of payloads"): batch_id and bytes_sum
    depend only on octet_length(text), so the 8-byte size column rides
    the range shuffle + checkpoint instead of the text bytes
    (~150 B/row). Result-identical — same oracle."""
    df = tables.read_transcripts(spark, sf_dir)
    slim = df.select(
        "role", "tool", "conv_id", "turn_idx",
        F.octet_length("text").alias("_sz"),
    )
    out = batch_mod.assign_batches_by_bytes(
        slim, max_batch_bytes=64 * 1024, size=F.col("_sz").cast("long")
    )
    return out.groupBy("role", "tool", "batch_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_sz").alias("bytes_sum"),
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import dedup

    return dedup.exact_dedup_keepers(tables.read_table(spark, sf_dir, "documents"))


def _q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import dedup

    return dedup.normalized_dedup_keepers(tables.read_table(spark, sf_dir, "documents"))


def _q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import dedup

    docs = tables.read_table(spark, sf_dir, "documents")
    return dedup.with_minhash(docs).select(
        "doc_id", F.concat_ws("#", F.col("minhash")).alias("minhash_sig")
    )


def _q_neardup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import dedup

    docs = tables.read_table(spark, sf_dir, "documents")
    return dedup.neardup_pairs_minhash(docs, threshold=0.5)


def _simhash_q(sf_dir: str) -> int:
    """q-of-m simhash key tuple size scaled with corpus size (the
    simhash analog of _ann_bits — one rule, dedup.simhash_q_for,
    shared with the oracle and the scale-growth bench)."""
    import pyarrow.parquet as pq

    from opentelemetry_collector_spark.operators import dedup

    n = pq.read_metadata(f"{sf_dir}/documents.parquet").num_rows
    return dedup.simhash_q_for(n, max_hamming=8)


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import dedup

    docs = tables.read_table(spark, sf_dir, "documents")
    return dedup.simhash_neardup_pairs(docs, max_hamming=8, q=_simhash_q(sf_dir))


def _q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS rolling-hash document
    fingerprinting): per-doc count + order-insensitive set digest."""
    from opentelemetry_collector_spark.operators import dedup

    docs = tables.read_table(spark, sf_dir, "documents")
    fp = F.col("winnow_fp")
    return dedup.with_winnow(docs).select(
        "doc_id",
        F.size(fp).alias("n_fp"),
        F.md5(
            F.concat_ws(
                ",", F.transform(F.array_sort(fp), lambda x: x.cast("string"))
            )
        ).alias("fp_digest"),
    )


def _q_neardup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import dedup

    docs = tables.read_table(spark, sf_dir, "documents")
    return dedup.neardup_pairs_winnow(docs, min_shared=30)


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.functions import text as T

    docs = tables.read_table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        T.token_count(c).alias("n_tokens"),
        T.bpe_ish_token_count(c).alias("n_tokens_bpe"),
        T.lang_id(c).alias("lang_pred"),
        T.quality_score_ppm(c).alias("quality_ppm"),
        T.fingerprint(c).alias("fp"),
    )


def _q_ann_cosine_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import similarity

    emb = tables.read_table(spark, sf_dir, "embeddings")
    return similarity.cosine_threshold(emb, _query_vec(sf_dir), ANN_THRESHOLD)


def _q_ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import similarity

    emb = tables.read_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, _query_vec(sf_dir), k=10)


def _q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import similarity

    emb = tables.read_table(spark, sf_dir, "embeddings")
    q = _query_vec(sf_dir)
    bucketed = similarity.with_ann_bucket(emb, dim=len(q), bits=8)
    return similarity.ann_topk(bucketed, q, k=10, bits=8, n_probes=8)


def _ivf_centroids_for(sf_dir: str):
    """Deterministic IVF fit shared by the Spark query and the oracle:
    md5-Bernoulli sample at rate ivf_sample_target(n, k)/n (r5 — the
    r4 lowest-4096 head wasn't representative and didn't scale), numpy
    k-means (seeded) — both sides inline the identical centroid
    literals. (fit_ivf, the Spark fit path, is pinned equal to this in
    tests/test_similarity.py.)"""
    import numpy as np
    import pyarrow.parquet as pq

    from opentelemetry_collector_spark.operators import similarity

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    t = t.sort_by("vec_id")
    ids = t.column("vec_id").to_pylist()
    n = len(ids)
    target = similarity.ivf_sample_target(n, 16)
    if target < n:
        mask = [similarity.ivf_sample_keep(n, target, i) for i in ids]
        t = t.filter(mask)
    vecs = np.array(t.column("embedding").to_pylist(), dtype="float64")
    return similarity.ivf_centroids(vecs, k=16)


def _q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.operators import similarity

    emb = tables.read_table(spark, sf_dir, "embeddings")
    cent = _ivf_centroids_for(sf_dir)
    celled = similarity.with_ivf_cell(emb, cent)
    return similarity.ann_topk_ivf(celled, _query_vec(sf_dir), cent, k=10, n_probes=4)


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.read_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.window("ts", "1 hour").start.alias("window_start")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )


def _q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = tables.read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact microsecond integers in BOTH engines (second-level cast
    # truncates in Spark but ROUNDS in DuckDB epoch()::bigint — a gap in
    # (1800.0, 1801.0) would classify differently)
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = epoch_us - F.lag(epoch_us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn("_new", new_sess)
    return sess.groupBy("user_id").agg(
        F.sum("_new").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _q_lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_orders_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join chain: orders ⋈ customer ⋈ nation, grouped."""
    o = tables.read_table(spark, sf_dir, "orders")
    c = tables.read_table(spark, sf_dir, "customer")
    n = tables.read_table(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def _q_attrs_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pcommon.Map surface: build attrs map, upsert, rename, scrub,
    JSON round-trip — all Catalyst map expressions."""
    from opentelemetry_collector_spark.operators import transform as tr

    df = tables.read_transcripts(spark, sf_dir)
    df = parse_mod.with_parsed(df, "native").filter(F.col("valid"))
    df = tr.attrs_from_parsed(df)
    attrs = F.col("attrs")
    attrs = tr.put(attrs, "env", F.lit("prod"))
    attrs = tr.rename_key(attrs, "svc", "service")
    attrs = tr.remove(attrs, "msg")
    return df.select(
        "conv_id",
        "turn_idx",
        tr.get(attrs, "service").alias("service"),
        tr.get(attrs, "env").alias("env"),
        tr.get(attrs, "msg").alias("msg_gone"),
        F.sha2(F.col("req_id"), 256).alias("req_id_hash"),
        F.size(attrs).cast("int").alias("n_attrs"),
    )


def _q_attrs_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pcommon.Value typed union: build a typed attrs map, exercise the
    zero-value-on-mismatch getters and Put-replaces-type upsert
    (pdata/pcommon/value.go:200-277, map.go:107-160)."""
    from opentelemetry_collector_spark.functions import pvalue as V

    df = tables.read_transcripts(spark, sf_dir)
    df = parse_mod.with_parsed(df, "native").filter(F.col("valid"))
    attrs = V.typed_attrs(
        svc=V.v_str(F.col("svc")),
        latency_ms=V.v_int(F.col("latency_ms")),
        is_error=V.v_bool(F.col("level") == "ERROR"),
        score=V.v_double(F.col("latency_ms") / F.lit(1000.0)),
    )
    retyped = V.put(attrs, "svc", V.v_int(F.lit(7)))  # PutInt over a Str
    return df.select(
        "conv_id",
        "turn_idx",
        V.get_str(attrs, "svc").alias("svc_str"),
        V.get_int(attrs, "svc").alias("svc_as_int"),  # mismatch → 0
        V.get_int(attrs, "latency_ms").alias("lat_int"),
        V.get_type(attrs, "latency_ms").alias("lat_type"),
        V.get_bool(attrs, "is_error").alias("err_bool"),
        V.get_double(attrs, "score").alias("score_dbl"),
        V.get_str(attrs, "nope").alias("missing_str"),  # absent → ''
        V.get_int(retyped, "svc").alias("svc_retyped_int"),
    )


def _q_severity_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.functions import pdata

    df = tables.read_transcripts(spark, sf_dir)
    parsed = parse_mod.with_parsed(df, "native")
    return parsed.select(
        "conv_id",
        "turn_idx",
        F.coalesce(F.col("level"), F.lit("")).alias("severity_text"),
        pdata.severity_number(F.col("level")).alias("severity_number"),
    )


def _q_otlp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nest→flatten is lossless: output must equal the raw table's
    (conv_id, role, text) plus — r5 — the log↔trace correlation tail
    (flags/traceId/spanId on tool records, absent elsewhere) — the
    pdata proto↔JSON round-trip analog."""
    from opentelemetry_collector_spark.functions import pdata

    df = tables.read_transcripts(spark, sf_dir)
    parsed = parse_mod.with_parsed(df, "native")
    return pdata.flatten_from_otlp(pdata.nest_to_otlp(parsed)).select(
        "conv_id", "role", "text", "flags", "trace_id", "span_id"
    )


def _q_logs_scoped_otlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ScopeLogs surface of the logs envelope (r5;
    pdata/plog/generated_resourcelogs.go:61-68 SchemaUrl,
    pcommon/generated_instrumentationscope.go:44-90): schemaUrl at both
    document levels and InstrumentationScope{name, version, attributes,
    droppedAttributesCount} round-tripped through the OTLP/JSON
    document. The scope attributes carry the role-scope's distinct
    tool set (data-derived — the round trip proves the codec), with
    presence-faithful omission for tool-less scopes."""
    from opentelemetry_collector_spark.functions import pdata

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    return pdata.flatten_scopes_from_otlp(pdata.nest_to_otlp(parsed))


def _q_resource_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity signal over resources (r5;
    pdata/xpdata/entity/generated_entityref.go:46-100, entity_map.go):
    resources = distinct (conv_id, svc) attribute maps; EntityRefs
    declare 'service' identified by svc and 'conversation' identified
    by conv_id (svc descriptive). Per entity instance: resource count.
    NULL-svc resources emit no service entity (incomplete identity)
    but still emit their conversation entity — the completeness rule
    is the query's edge, not an accident."""
    from opentelemetry_collector_spark.functions import entities, pdata

    refs = (
        entities.EntityRef("service", pdata.SCHEMA_URL, ("svc",)),
        entities.EntityRef(
            "conversation", pdata.SCHEMA_URL, ("conv_id",), ("svc",)
        ),
    )
    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    resources = parsed.select("conv_id", "svc").distinct().select(
        F.map_filter(
            F.create_map(
                F.lit("conv_id"), F.col("conv_id"), F.lit("svc"), F.col("svc")
            ),
            lambda k, v: v.isNotNull(),
        ).alias("attributes")
    )
    em = entities.entity_map(resources, refs)
    return em.groupBy(
        "entity_type",
        F.coalesce(
            F.col("id_attrs")["svc"], F.col("id_attrs")["conv_id"]
        ).alias("id_value"),
    ).agg(F.count(F.lit(1)).alias("n_resources"))


def _q_resource_entities_writeback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity WRITE path (r6; xpdata/entity/entity_attribute_map.go
    PutStr/CanPut write-through semantics): the service entity claims a
    derived 'svc.tier' description attribute (insert-or-update into the
    SHARED resource map + key-list claim), then attempts a SAFE put on
    'conv_id' — which belongs to the conversation entity, so CanPut is
    false and every row keeps its original conv_id (a destructive put
    would corrupt the other entity's identity; the oracle would catch
    the hijack value). Output = entity view after writeback: the
    service entities carry the new tier in descr_attrs; conversation
    entities don't (not in their key list)."""
    from opentelemetry_collector_spark.functions import entities, pdata

    refs = (
        entities.EntityRef("service", pdata.SCHEMA_URL, ("svc",)),
        entities.EntityRef(
            "conversation", pdata.SCHEMA_URL, ("conv_id",), ("svc",)
        ),
    )
    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    resources = parsed.select("conv_id", "svc").distinct().select(
        F.map_filter(
            F.create_map(
                F.lit("conv_id"), F.col("conv_id"), F.lit("svc"), F.col("svc")
            ),
            lambda k, v: v.isNotNull(),
        ).alias("attributes")
    )
    tier = F.concat(
        F.lit("tier-"),
        (F.length(F.col("attributes")["svc"]) % 3).cast("string"),
    )
    resources, refs = entities.put_entity_attribute(
        resources, refs, "service", "svc.tier", tier, kind="description"
    )
    # conflicting claim: conv_id is the conversation entity's identity
    resources, refs = entities.put_entity_attribute(
        resources, refs, "service", "conv_id", F.lit("HIJACK"),
        kind="description", safe=True,
    )
    em = entities.entity_map(resources, refs, attrs_col="attributes")
    return em.groupBy(
        "entity_type",
        F.coalesce(
            F.col("id_attrs")["svc"], F.col("id_attrs")["conv_id"]
        ).alias("id_value"),
        F.col("descr_attrs")["svc.tier"].alias("tier"),
    ).agg(F.count(F.lit(1)).alias("n_resources"))


def _q_proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP/protobuf wire format (pdata/plog/encoding.go): parsed rows →
    LogRecord wire bytes → decoded fields. The oracle reads the same
    fields straight from the raw table, so a green row proves the
    binary encoding is lossless byte-level protobuf."""
    from opentelemetry_collector_spark.functions import pdata, protowire

    df = tables.read_transcripts(spark, sf_dir)
    parsed = parse_mod.with_parsed(df, "native").withColumn(
        "severity_number", pdata.severity_number(F.col("level"))
    )
    return protowire.decode_records(protowire.encode_records(parsed))


def _q_spans_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ptrace wire-format round-trip over the FULL Span content
    surface (r5; pdata/ptrace/generated_span.go:53-199): rich spans —
    TraceState, attributes, exception/slow events, parent/root links,
    Status.message — → Span protobuf wire bytes → decode → signature
    columns. The oracle rebuilds the same signatures straight from the
    parsed table, so a green row proves the codec is lossless for
    every field it claims to carry, incl. multi-event and multi-link
    spans."""
    from opentelemetry_collector_spark.functions import signals, signalwire

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    spans = signals.rich_spans_from_turns(parsed)
    decoded = signalwire.decode_spans(signalwire.encode_spans(spans))
    return signals.span_content_signatures(decoded)


def _q_spans_otlp_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ptrace OTLP/JSON ENVELOPE round-trip (pdata/ptrace/json.go's
    ResourceSpans → ScopeSpans → Span nesting, the full-document form
    — spans_roundtrip covers the per-span codec) over the FULL Span
    content surface: rich spans → nested JSON docs (traceState /
    attributes / events / links / status.message with proto3
    presence) → flattened back → signature columns; oracle rebuilds
    the same signatures from the parsed table."""
    from opentelemetry_collector_spark.functions import pdata, signals

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    spans = signals.rich_spans_from_turns(parsed)
    flat = pdata.flatten_spans_from_otlp(pdata.nest_spans_to_otlp(spans))
    return signals.span_content_signatures(flat)


def _q_metrics_otlp_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pmetric OTLP/JSON ENVELOPE round-trip (pdata/pmetric/json.go's
    ResourceMetrics → ScopeMetrics → Metric → Gauge nesting —
    metrics_roundtrip covers the per-datapoint codec): flat gauge
    points → documents per service → flattened back."""
    from opentelemetry_collector_spark.functions import pdata

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    points = parsed.select(
        "conv_id", "turn_idx", "svc",
        (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias("ts_ns"),
        F.col("latency_ms").cast("long").alias("value"),
    ).withColumn(
        "flags", F.when(F.col("value").isNull(), F.lit(1)).otherwise(F.lit(0))
    )
    return pdata.flatten_metrics_from_otlp(pdata.nest_metrics_to_otlp(points))


def _q_metrics_histogram_otlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram branch of the pmetric OTLP/JSON envelope: per-svc
    HistogramDataPoints (complete bucketCounts vector, svc-level
    count/sum/min/max, explicitBounds) → documents → flattened back to
    sparse per-bucket rows. The all-NULL-latency series (quarantined
    turns: svc NULL) survives as a noRecordedValue datapoint —
    DataPointFlags bit 0 (pmetric/number_data_point_flags.go)."""
    from opentelemetry_collector_spark.functions import pdata, signals

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    dps = signals.histogram_datapoints(parsed, include_gap_series=True)
    nested = pdata.nest_histogram_metrics_to_otlp(dps, signals.DEFAULT_BOUNDS)
    return pdata.flatten_histogram_metrics_from_otlp(nested)


def _q_metrics_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exemplars on histogram datapoints (r5;
    pdata/pmetric/generated_exemplar.go, pdata/pmetric/json.go Exemplar
    branch): each non-empty latency bucket carries the max-latency
    measurement that landed in it, with the recording span's
    traceId/spanId and a filtered conv_id attribute — the aligned
    bucket reservoir shape OTel SDKs use. Round trip through the
    OTLP/JSON document; the inverse re-derives each exemplar's bucket
    from explicitBounds (exemplars don't carry one — codec proof, not
    column smuggling)."""
    from opentelemetry_collector_spark.functions import pdata, signals

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    dps = signals.histogram_datapoints_with_exemplars(parsed)
    nested = pdata.nest_histogram_exemplars_to_otlp(dps, signals.DEFAULT_BOUNDS)
    return pdata.flatten_histogram_exemplars_from_otlp(nested)


def _q_metrics_sum_otlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sum branch of the pmetric OTLP/JSON envelope (r5 — the document
    form is uniform over all 5 metric types,
    pdata/pmetric/metric_type.go:10-16): per-svc CUMULATIVE running
    latency total (a genuine monotonic counter series) → documents
    carrying aggregationTemporality + isMonotonic on the metric →
    flattened back with both flags on every row."""
    from opentelemetry_collector_spark.functions import pdata

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    from pyspark.sql import Window

    # series = (svc, hour): cumulative-with-restart — the stream-start
    # reset OTLP cumulative semantics allow — so the running-sum window
    # partitions into svc × hour slices instead of 6 corpus-length
    # single-threaded partitions (measured 5.5 s → parallel; `div` not
    # `/`: ns epochs exceed double's 2^53 exact-integer range)
    w = (
        Window.partitionBy("svc", "_hr")
        .orderBy("ts_ns", "conv_id", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NULL-latency turns stay in the stream as GAP points: the running
    # sum over an all-NULL series is NULL → value oneof omitted and
    # flags = noRecordedValue (the staleness marker a cumulative
    # consumer needs to distinguish "no sample" from "zero")
    points = (
        parsed.select(
            "conv_id", "turn_idx", "svc",
            (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias("ts_ns"),
            F.col("latency_ms").cast("long").alias("_v"),
        )
        .withColumn("_hr", F.expr("ts_ns div 3600000000000"))
        .withColumn("value", F.sum("_v").over(w))
        .withColumn(
            "flags",
            F.when(F.col("_v").isNull(), F.lit(1)).otherwise(F.lit(0)),
        )
        .drop("_v", "_hr")
    )
    return pdata.flatten_sum_metrics_from_otlp(pdata.nest_sum_metrics_to_otlp(points))


def _q_metrics_exp_otlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExponentialHistogram branch of the envelope: scale-0 buckets →
    one document per svc (positive.offset + dense bucketCounts with
    zero slots, zeroCount, count) → flattened back to sparse rows.
    Gap series → noRecordedValue datapoint (flags bit 0)."""
    from opentelemetry_collector_spark.functions import pdata, signals

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    dps = signals.exp_histogram_datapoints(parsed, include_gap_series=True)
    return pdata.flatten_exp_histogram_metrics_from_otlp(
        pdata.nest_exp_histogram_metrics_to_otlp(dps)
    )


def _q_metrics_exp_signed_otlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATIVE bucket list of the ExponentialHistogramDataPoint (r6;
    generated_exponentialhistogramdatapoint.go:138-146
    Positive()/Negative(), plus the optional sum/min/max fields
    :93-110): per-svc turn-latency DELTA series (latency - lag within
    svc × hour slices — genuinely signed) → scale-0 buckets indexed
    over |v| in the sign's own list, zero deltas in zeroCount →
    document → flattened back to signed sparse rows."""
    from pyspark.sql import Window

    from opentelemetry_collector_spark.functions import pdata, signals

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    w = Window.partitionBy("svc", "_hr").orderBy("ts_ns", "conv_id", "turn_idx")
    deltas = (
        parsed.select(
            "conv_id", "turn_idx", "svc",
            (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias("ts_ns"),
            F.col("latency_ms").cast("long").alias("_v"),
        )
        .withColumn("_hr", F.expr("ts_ns div 3600000000000"))
        .withColumn("delta", F.col("_v") - F.lag("_v").over(w))
    )
    dps = signals.signed_exp_histogram_datapoints(deltas)
    return pdata.flatten_signed_exp_metrics_from_otlp(
        pdata.nest_signed_exp_metrics_to_otlp(dps)
    )


def _q_metrics_summary_otlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary branch of the envelope: per-svc count/sum +
    quantileValues (0.5/0.9/0.99) → documents → flattened back,
    quantiles matched by value not position. Gap series →
    noRecordedValue datapoint (count 0, sum/quantiles omitted)."""
    from opentelemetry_collector_spark.functions import pdata, signals

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    dps = signals.summary_datapoints(parsed, include_gap_series=True)
    return pdata.flatten_summary_metrics_from_otlp(
        pdata.nest_summary_metrics_to_otlp(dps)
    )


def _q_logs_anyvalue_otlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested pcommon.Value attributes through the envelope (r5;
    pdata/pcommon/value.go:18-29): every turn carries one attribute per
    AnyValue branch — string/int/double/bool/bytes plus a nested
    arrayValue and kvlistValue — in the protojson form
    ({"intValue":"123"}, {"bytesValue": base64}, {"arrayValue":
    {"values":[...]}}). Round trip → flat typed columns; the oracle
    rebuilds them from the parsed table directly, so a green row
    proves all 7 branches survive, incl. absent-vs-empty presence."""
    from opentelemetry_collector_spark.functions import pdata

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    return pdata.flatten_attrs_anyvalue_from_otlp(
        pdata.nest_attrs_anyvalue_to_otlp(parsed)
    )


def _q_profile_pprof_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pprof wire-format round trip for the profiles signal (r5;
    public pprof profile.proto, the format pdata/pprofile
    interoperates with): dictionary star → one Profile blob per
    profile_id (applyInPandas) → decode → hot-functions-by-name. The
    oracle computes the same hot list from the raw parquet, so a green
    row proves samples, stacks, locations, functions, values and the
    leaf-first frame order all survive the blob."""
    from opentelemetry_collector_spark.functions import profiles, profilewire

    t = profiles.read_profile_tables(spark)
    blobs = profilewire.encode_profiles(spark, t)
    return profilewire.hot_functions_from_frames(
        profilewire.decode_profiles(blobs), k=10
    )


def _q_metrics_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pmetric wire-format round-trip (pdata/pmetric/json.go:15 +
    encoding.go Sizer analog): per-turn latency gauge points →
    NumberDataPoint protobuf (as_int sfixed64, svc attribute) →
    decode → OTLP/JSON → fields. NULL latency omits the value oneof
    and NULL svc omits the attribute — presence must survive both
    codecs. The other four datapoint types (histogram / exponential
    histogram / summary / double gauge) are pinned by golden-bytes +
    round-trip tests in tests/test_signalwire.py."""
    from opentelemetry_collector_spark.functions import signalwire

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    points = parsed.select(
        "conv_id", "turn_idx", "svc",
        (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias("ts_ns"),
        F.col("latency_ms").cast("long").alias("value"),
    ).withColumn(
        # DataPointFlags.noRecordedValue (number_data_point_flags.go):
        # a point whose measurement is absent is a gap marker
        "flags", F.when(F.col("value").isNull(), F.lit(1)).otherwise(F.lit(0))
    )
    decoded = signalwire.decode_number_points(signalwire.encode_number_points(points))
    json_schema = "svc string, ts_ns long, value long, flags int"
    return (
        decoded.withColumn(
            "otlp_json", F.to_json(F.struct("svc", "ts_ns", "value", "flags"))
        )
        .select("conv_id", "turn_idx", F.from_json("otlp_json", json_schema).alias("m"))
        .select("conv_id", "turn_idx", "m.*")
    )


MIX_RATES_PPM = {f"src{i}": 250_000 * (i % 4 + 1) for i in range(20)}


def _q_docs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality rules per document (exact permille
    integers; edge docs keep the NULL/unicode/symbol branches hot)."""
    from opentelemetry_collector_spark.operators import corpus

    return corpus.quality_rules(_docs_with_edges(spark, sf_dir))


def _q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source training-mix sampling (hash-Bernoulli,
    zero shuffle); rates 25/50/75/100% cycling over the 20 sources."""
    from opentelemetry_collector_spark.operators import corpus

    docs = tables.read_table(spark, sf_dir, "documents")
    return corpus.mix_sample(docs, MIX_RATES_PPM).select("doc_id", "source")


def _q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing over the documents stream
    (256-token training chunks; two-level global offsets, no
    full-corpus window)."""
    from opentelemetry_collector_spark.operators import corpus

    docs = tables.read_table(spark, sf_dir, "documents")
    return corpus.pack_sequences(docs)


BPE_QUERY_MERGES = 16


import functools


@functools.lru_cache(maxsize=8)
def _bpe_merges_for(sf_dir: str) -> list[tuple[str, str]]:
    """Merge table for the segmentation query/oracle: computed driver-
    side by the PINNED pure-Python reference (functions/bpe.py —
    test-pinned equal to the Spark training path) over the sf_dir
    corpus, so the Spark query and the DuckDB oracle share identical
    merge literals. Deterministic in sf_dir."""
    import pyarrow.parquet as pq

    from opentelemetry_collector_spark.functions import bpe

    texts = (
        pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
        .column("text")
        .to_pylist()
    )
    return bpe.reference_bpe(texts, num_merges=BPE_QUERY_MERGES)


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING on Spark: k rounds of vocab-table pair
    counting + argmax (functions/bpe.bpe_train — one corpus pass, then
    vocab-sized iterations). Iterative argmax is not SQL-expressible,
    so the oracle is a literal VALUES table from the pinned pure-Python
    reference (_bpe_merges_oracle) — value-checked since r6."""
    from opentelemetry_collector_spark.functions import bpe

    docs = tables.read_table(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, num_merges=BPE_QUERY_MERGES)
    return spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        "rank int, left string, right string",
    )


def _q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus segmentation under the trained BPE merges — the
    tokenize-with-your-tokenizer pass, value-checked: the oracle runs
    the IDENTICAL replace chain in DuckDB."""
    from opentelemetry_collector_spark.functions import bpe

    docs = tables.read_table(spark, sf_dir, "documents")
    toks = bpe.segment_expr(F.col("text"), _bpe_merges_for(sf_dir))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.array_join(toks, " ").alias("tokens_str"),
    )


def _q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup graph — the
    componentwise representative production dedup wants (A~B, B~C
    collapse even without an (A,C) pair). Two-phase star algorithm
    (alternating large-star/small-star, Kiveris et al. SoCC'14),
    O(log n) rounds; recursive-CTE oracle."""
    from opentelemetry_collector_spark.operators import dedup

    docs = tables.read_table(spark, sf_dir, "documents")
    pairs = dedup.neardup_pairs_minhash(docs, threshold=0.5)
    return dedup.neardup_components(docs, pairs)


def _q_neardup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same query as `neardup_components`, kept under its own key
    so the registered query order and its oracle stay unchanged."""
    return _q_neardup_components(spark, sf_dir)


# component labels per (SparkContext, sf_dir): the components
# stage runs per-round ACTIONS at construction time — pay them once per
# session (the _bpe_merges_for convention), then every corpus_pipeline
# invocation is fully lazy. Production analog: labels persisted to a
# table, like the bucketed dedup store.
_CORPUS_LABELS: dict[tuple[int, str], DataFrame] = {}


def _corpus_labels_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.plans import corpus_pipeline as cpl

    key = (id(spark.sparkContext), sf_dir)
    labels = _CORPUS_LABELS.get(key)
    if labels is None:
        docs = tables.read_table(spark, sf_dir, "documents")
        labels = _CORPUS_LABELS[key] = cpl.component_labels(
            docs, MIX_RATES_PPM
        )
    return labels


def _q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-corpus pipeline: quality → componentwise
    dedup → decontamination → mix sampling → sequence packing, each
    stage the same operator its standalone query runs; the oracle
    chains the same SQL mirrors (plans/corpus_pipeline.py). Component
    labels are a precomputed stage input (r4 verdict #4) — recomputing
    them inline paid the per-round components actions on every
    invocation."""
    from opentelemetry_collector_spark.plans import corpus_pipeline as cpl

    docs = tables.read_table(spark, sf_dir, "documents")
    return cpl.corpus_pipeline(
        docs, MIX_RATES_PPM, labels=_corpus_labels_for(spark, sf_dir)
    )


def _q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing word 3-grams with the held-out benchmark
    subset (doc_id % 97 == 0) — eval-contamination flagging via a
    broadcast gram-set join."""
    from opentelemetry_collector_spark.operators import corpus

    return corpus.contamination(_docs_with_edges(spark, sf_dir))


def _q_pipeline_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-built two-pipeline DAG: logs (parse → route) exports into
    a count connector, which feeds a metrics pipeline — the
    exporter+receiver connector bridge as config, mirroring
    service/internal/graph/graph.go:144-201 topology semantics."""
    from opentelemetry_collector_spark.plans import config as cfg_mod

    raw = {
        "receivers": {"transcripts": {}},
        "processors": {"parse": {}, "route": {}},
        "connectors": {"count/sink": {"group_by": ["sink", "level"]}},
        "exporters": {"nop": {}, "debug": {}},
        "service": {
            "pipelines": {
                "logs": {
                    "receivers": ["transcripts"],
                    "processors": ["parse", "route"],
                    "exporters": ["count/sink", "nop"],
                },
                "metrics": {
                    "receivers": ["count/sink"],
                    "exporters": ["debug"],
                },
            }
        },
    }
    frames = cfg_mod.build_service_frames(
        spark, cfg_mod.load_service(raw), sf_dir,
        # only the metrics frame is materialized here: caching the logs
        # producer would cost cache population for zero reuse
        persist_connectors=False,
    )
    return frames["metrics"]


def _q_forward_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """forwardconnector fan-in: two pipelines' outputs unioned
    (connector/forwardconnector/forward.go:77-90 ≙ unionByName)."""
    routed = pipeline.routed_frame(spark, sf_dir)
    py = routed.filter(F.col("sink") == "sink_py")
    llm = routed.filter(F.col("sink") == "sink_llm")
    return py.unionByName(llm).select("sink", "conv_id", "turn_idx")


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.read_table(spark, sf_dir, "embeddings")
    return sim_oracle.embedding_neardup_pairs_exact(emb, threshold=0.5)


def _q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.read_table(spark, sf_dir, "embeddings")
    dim = len(_query_vec(sf_dir))
    return sim_oracle.embedding_neardup_pairs_lsh(
        emb, threshold=0.5, dim=dim, bits=_ann_bits(sf_dir), n_bands=8
    )


def _q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding corpus cleaning: LSH near-dup pairs → drop higher id →
    kept vec ids (the docs_clean drop rule on vectors)."""
    emb = tables.read_table(spark, sf_dir, "embeddings")
    dim = len(_query_vec(sf_dir))
    return sim_oracle.embedding_dedup_keepers(
        emb, threshold=0.5, dim=dim, bits=_ann_bits(sf_dir), n_bands=8
    )


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: media parquet → mapInPandas features. The
    sha256 column is recomputed from the raw payload bytes inside the
    Arrow-batched UDF; the oracle reads the generation-time digest from
    the same parquet, so parity proves the binary column round-trips
    Spark → Arrow → pandas byte-exactly."""
    from opentelemetry_collector_spark.operators import multimodal as mm

    media = spark.read.parquet(fixtures.ensure_media()).drop(
        "payload_sha256", "audio_sample_sum", "video_pixel_sum",
        "video_n_frames", "video_frame_sha256",
    )
    return mm.extract_features(media).select(
        "media_id", "media_type", "n_bytes", "sha256",
        "decoded_duration_ms", "sample_sum", "n_frames", "pixel_sum",
    )


from opentelemetry_collector_spark.operators.multimodal import AVI_FPS as _AVI_FPS

_AVI_FRAME_MS = 1000 // _AVI_FPS


def _q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling, oracle-gated (r5): real AVI decode →
    one row per 100 ms frame with the frame's RGB-byte digest. The
    oracle unnests the generation-time per-frame digests, so a green
    row proves the decoded frames are byte-identical to the source —
    per frame, not just in aggregate."""
    from opentelemetry_collector_spark.operators import multimodal as mm

    media = (
        spark.read.parquet(fixtures.ensure_media())
        .drop(
            "payload_sha256", "audio_sample_sum", "video_pixel_sum",
            "video_n_frames", "video_frame_sha256",
        )
        # the oracle's ground truth covers decodable AVI rows only —
        # scope the Spark side identically so a future compressed-video
        # fixture row (stub-degrade path) can't desync the gate
        .filter(F.col("media_type") == "video/avi")
    )
    frames = mm.sample_frames(media, every_ms=1000 // mm.AVI_FPS)
    return frames.select(
        "media_id", "frame_ms", F.sha2(F.col("frame"), 256).alias("frame_sha256")
    )


def _q_metrics_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.functions import signals

    ev = tables.read_table(spark, sf_dir, "events")
    out = signals.delta_to_cumulative(
        ev, series_keys=("event_type",), time_col="event_id", value_col="value"
    )
    return out.select(
        "event_type", "event_id", F.round("cumulative", 4).alias("cumulative")
    )


def _q_metrics_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.functions import signals

    ev = tables.read_table(spark, sf_dir, "events")
    out = signals.cumulative_to_delta(
        ev, series_keys=("event_type",), time_col="event_id", value_col="value"
    )
    return out.select("event_type", "event_id", F.round("delta", 4).alias("delta"))


def _q_metrics_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.functions import signals

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    return signals.histogram_datapoints(parsed)


def _q_metrics_exp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.functions import signals

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    return signals.exp_histogram_datapoints(parsed)


def _q_metrics_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.functions import signals

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    return signals.summary_datapoints(parsed)


def _q_trace_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_spark.functions import signals

    parsed = parse_mod.with_parsed(tables.read_transcripts(spark, sf_dir), "native")
    return signals.spans_from_turns(parsed).select(
        "conv_id", "turn_idx", "trace_id", "span_id", "parent_span_id",
        "name", "kind", "status", "start_ts", "end_ts",
    )


def _q_first_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key top-k (first 3 turns of each conversation)."""
    df = tables.read_transcripts(spark, sf_dir)
    return order_mod.first_turns(df, n=3).select(
        "conv_id", "turn_idx", "turn_seq", "role"
    )


def _q_turn_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation response-gap stats (ordered window over turns):
    the scrape-interval/latency-style derived metric."""
    from pyspark.sql import Window

    df = tables.read_transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    # microsecond integers: exact in both engines (see events_sessionize)
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = epoch_us - F.lag(epoch_us).over(w)
    gaps = df.withColumn("_gap", gap)
    return gaps.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("_gap").cast("long").alias("gap_sum_us"),
        F.max("_gap").cast("long").alias("gap_max_us"),
    )


def _q_docs_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-data cleaning: lang+quality filter → exact
    dedup → minhash-LSH near-dup removal → kept doc ids."""
    from opentelemetry_collector_spark.plans import docs_pipeline

    docs = tables.read_table(spark, sf_dir, "documents")
    return docs_pipeline.clean_documents(docs).select("doc_id")


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build: top-100 terms with occurrence + doc
    frequency (one exploded hash agg with map-side combine)."""
    docs = tables.read_table(spark, sf_dir, "documents")
    return text_oracle.vocab_topk(docs, k=100)


def _q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 TF-IDF terms (exact integer/single-double-division
    arithmetic — no float-log tie risk)."""
    docs = tables.read_table(spark, sf_dir, "documents")
    return text_oracle.tfidf_topterms(docs, k=3)


def _docs_with_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ the adversarial edge rows (fixtures.ensure_edge_docs)
    — the word-soup fixture alone leaves PII/NULL/unicode branches of
    the text operators untested by the oracle gate."""
    docs = tables.read_table(spark, sf_dir, "documents").select("doc_id", "text")
    edges = spark.read.parquet(fixtures.ensure_edge_docs())
    return docs.unionByName(edges)


def _edge_docs_cte() -> str:
    return (
        f"docs_all AS (SELECT doc_id, text FROM documents UNION ALL "
        f"SELECT doc_id, text FROM read_parquet('{fixtures.ensure_edge_docs()}'))"
    )


def _q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (top-2gram / duplicate
    3-gram fractions, exact integer ppm)."""
    return text_oracle.repetition_signals(_docs_with_edges(spark, sf_dir))


def _q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (email/idnum/phone masking + per-type counts,
    ordered patterns — see text.PII_PATTERNS)."""
    return text_oracle.redact_pii(_docs_with_edges(spark, sf_dir))


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production ingestion shape: dedup a 20% increment (doc_id%5==0)
    against the dedup STATE of the other 80% — exact fingerprint
    anti-join + band-key candidates + signature component-agreement
    verification. The store is built in memory per call (store_frames:
    one eager materialisation feeds every consumer); the increment
    never rescans corpus text."""
    from opentelemetry_collector_spark.operators import dedup

    docs = tables.read_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    newb = docs.filter(F.col("doc_id") % 5 == 0)
    store = dedup.store_frames(dedup.minhash_store(corpus))
    return dedup.incremental_dedup_keep_ids(newb, *store)


# bucketed dedup stores per (SparkContext, sf_dir): the store WRITE is
# the one-time corpus-ingest cost; every subsequent call (and every
# timed bench iteration) pays only the increment-sized dedup — the
# production posture (dedup_incremental above rebuilds its store in
# memory per run).
_DEDUP_STORES: dict[tuple[int, str], str] = {}


def _dedup_store_for(spark: SparkSession, sf_dir: str) -> str:
    from opentelemetry_collector_spark.operators import dedup

    key = (id(spark.sparkContext), sf_dir)
    name = _DEDUP_STORES.get(key)
    if name is None:
        name = "dedupstore_" + "".join(c if c.isalnum() else "_" for c in sf_dir)
        docs = tables.read_table(spark, sf_dir, "documents")
        dedup.write_minhash_store(
            spark, docs.filter(F.col("doc_id") % 5 != 0), name
        )
        _DEDUP_STORES[key] = name
    return name


def _q_dedup_incremental_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental's function against the DISK-BACKED bucketed
    store (write_minhash_store: _docs bucketed by id, _keys by band
    key, _counts occupancy) — the corpus is never held in executor
    memory and never reshuffled; candidate + signature joins land on
    the bucketed layout Exchange-free (tests/test_dedup_store.py).
    Only the store source differs, so it shares dedup_incremental's
    oracle."""
    from opentelemetry_collector_spark.operators import dedup

    docs = tables.read_table(spark, sf_dir, "documents")
    newb = docs.filter(F.col("doc_id") % 5 == 0)
    return dedup.incremental_dedup_keep_ids(
        newb, *dedup.read_minhash_store(spark, _dedup_store_for(spark, sf_dir))
    )


def _q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-informed LM-score proxy (mean corpus bigram frequency
    per doc, exact integer ppm)."""
    return text_oracle.lm_score(_docs_with_edges(spark, sf_dir))


def _q_profile_span_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-span CPU attribution via the pprofile LinkTable
    (generated_link.go:51-70; sample.go:24 LinkIndex-0 = unlinked):
    total ns + dominant leaf function per linked span."""
    from opentelemetry_collector_spark.functions import profiles

    t = profiles.read_profile_tables(spark)
    return profiles.span_hotspots(
        t["samples"], t["links"], t["stacks"], t["locations"], t["functions"]
    )


def _q_profile_attr_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KeyValueAndUnit rollup (generated_keyvalueandunit.go:53-71):
    per attribute (key, unit) — incidences, distinct values, summed
    int value in the declared unit."""
    from opentelemetry_collector_spark.functions import profiles

    t = profiles.read_profile_tables(spark)
    return profiles.attr_units(t["samples"], t["attributes"])


def _q_profile_hot_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiles signal (pdata/pprofile): top-10 functions by self time
    over the dictionary-encoded samples/stacks/locations/functions star
    — broadcast dims, explode + two hash aggregates."""
    from opentelemetry_collector_spark.functions import profiles

    t = profiles.read_profile_tables(spark)
    return profiles.hot_functions(
        t["samples"], t["stacks"], t["locations"], t["functions"], k=10
    )


def _q_profile_mapping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MappingTable rollup (r6; generated_mapping.go:53-100,
    generated_location.go MappingIndex): per-binary self/total CPU,
    with the reserved unknown-mapping row (id 0) aggregating
    unattributed frames."""
    from opentelemetry_collector_spark.functions import profiles

    t = profiles.read_profile_tables(spark)
    return profiles.mapping_rollup(
        t["samples"], t["stacks"], t["locations"], t["mappings"]
    )


def _q_profiles_otlp_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiles OTLP/JSON envelope (r6; pdata/pprofile/json.go +
    encoding.go): samples → one ResourceProfiles document per
    profile_id (Profile header + dictionary-encoded Sample slice with
    timestampsUnixNano / attributeIndices / linkIndex presence) →
    flattened back to per-occurrence rows. Closes the envelope matrix:
    all four signals now have the OTLP document form."""
    from opentelemetry_collector_spark.functions import profiles, profiles_otlp

    t = profiles.read_profile_tables(spark)
    return profiles_otlp.flatten_profiles_from_otlp(
        profiles_otlp.nest_profiles_to_otlp(t["samples"])
    )


def _q_profiles_dictionary_otlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProfilesDictionary OTLP/JSON document
    (generated_profilesdictionary.go:52-85: string/function/location/
    stack/link/attribute/mapping tables, reserved index-0 rows) →
    symbolized per-location inverse: function name/filename and mapping
    filename/memoryStart resolved back through the string table."""
    from opentelemetry_collector_spark.functions import profiles, profiles_otlp

    t = profiles.read_profile_tables(spark)
    return profiles_otlp.flatten_dictionary_locations(
        profiles_otlp.nest_dictionary_to_otlp(
            t["functions"], t["locations"], t["stacks"],
            t["links"], t["attributes"], t["mappings"],
        )
    )


def _q_stage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Obsreport counters derived from the routed frame
    (receiver/receiverhelper/obsreport.go:181-201 name scheme)."""
    from opentelemetry_collector_spark.state import metrics as metrics_mod

    routed = pipeline.routed_frame(spark, sf_dir)
    return metrics_mod.collect_pipeline_metrics(routed).to_df(spark)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registration ORDER is part of the external gate: the driver's
    # correctness check samples the FIRST 50 entries. r7 rotation
    # (VERDICT r6 #1): pipeline_e2e stays first for headline
    # continuity; positions 2-35 are the 34 queries that had never had
    # a driver-gate row across rounds 1-6 (the OTLP envelope family,
    # profiles, corpus-text, components, incremental dedup — computed
    # as queries() minus the union of CORRECTNESS_r01..r06 keys); the
    # 56 previously-gated keys follow in their prior relative order.
    return {
        "pipeline_e2e": _q_pipeline_e2e,
        # --- never-driver-gated before r7 ---
        "spans_roundtrip": _q_spans_roundtrip,
        "spans_otlp_json": _q_spans_otlp_json,
        "metrics_roundtrip": _q_metrics_roundtrip,
        "metrics_otlp_json": _q_metrics_otlp_json,
        "metrics_histogram_otlp": _q_metrics_histogram_otlp,
        "metrics_exemplars": _q_metrics_exemplars,
        "metrics_sum_otlp": _q_metrics_sum_otlp,
        "metrics_exp_otlp": _q_metrics_exp_otlp,
        "metrics_exp_signed_otlp": _q_metrics_exp_signed_otlp,
        "metrics_summary_otlp": _q_metrics_summary_otlp,
        "logs_anyvalue_otlp": _q_logs_anyvalue_otlp,
        "profile_pprof_roundtrip": _q_profile_pprof_roundtrip,
        "profile_hot_functions": _q_profile_hot_functions,
        "profile_span_hotspots": _q_profile_span_hotspots,
        "profile_attr_units": _q_profile_attr_units,
        "profile_mapping_rollup": _q_profile_mapping_rollup,
        "profiles_otlp_json": _q_profiles_otlp_json,
        "profiles_dictionary_otlp": _q_profiles_dictionary_otlp,
        "vocab_topk": _q_vocab_topk,
        "text_repetition": _q_text_repetition,
        "text_redact": _q_text_redact,
        "lm_score": _q_lm_score,
        "dedup_incremental": _q_dedup_incremental,
        "dedup_incremental_bucketed": _q_dedup_incremental_bucketed,
        "docs_quality": _q_docs_quality,
        "sample_mix": _q_sample_mix,
        "contamination_check": _q_contamination_check,
        "sequence_pack": _q_sequence_pack,
        "bpe_merges": _q_bpe_merges,
        "neardup_components": _q_neardup_components,
        "neardup_components_star": _q_neardup_components_star,
        "corpus_pipeline": _q_corpus_pipeline,
        "bpe_segment": _q_bpe_segment,
        "tfidf_topterms": _q_tfidf_topterms,
        # --- previously gated (r1-r6 driver artifacts) ---
        "pipeline_e2e_salted": _q_pipeline_e2e_salted,
        "pipeline_e2e_arrow": _q_pipeline_e2e_arrow,
        "parse_turns": _q_parse_turns,
        "parse_turns_arrow": _q_parse_turns_arrow,
        "ordered_turns": _q_ordered_turns,
        "enrich_lookup": _q_enrich_lookup,
        "enrich_asof": _q_enrich_asof,
        "routed_rows": _q_routed_rows,
        "route_counts": _q_route_counts,
        "latency_stats": _q_latency_stats,
        "quarantine_rows": _q_quarantine_rows,
        "filter_strict": _q_filter_strict,
        "filter_regexp": _q_filter_regexp,
        "batch_counts": _q_batch_counts,
        "batch_bytes": _q_batch_bytes,
        "dedup_exact": _q_dedup_exact,
        "dedup_normalized": _q_dedup_normalized,
        "minhash_signatures": _q_minhash_signatures,
        "neardup_minhash": _q_neardup_minhash,
        "simhash_pairs": _q_simhash_pairs,
        "text_stats": _q_text_stats,
        "text_winnow": _q_text_winnow,
        "neardup_winnow": _q_neardup_winnow,
        "ann_cosine_threshold": _q_ann_cosine_threshold,
        "ann_topk_bruteforce": _q_ann_topk_bruteforce,
        "ann_topk_lsh": _q_ann_topk_lsh,
        "ann_topk_ivf": _q_ann_topk_ivf,
        "events_hourly": _q_events_hourly,
        "events_sessionize": _q_events_sessionize,
        "lineitem_pricing_summary": _q_lineitem_pricing_summary,
        "orders_by_nation": _q_orders_by_nation,
        "attrs_transform": _q_attrs_transform,
        "attrs_typed": _q_attrs_typed,
        "severity_turns": _q_severity_turns,
        "otlp_roundtrip": _q_otlp_roundtrip,
        "logs_scoped_otlp": _q_logs_scoped_otlp,
        "resource_entities": _q_resource_entities,
        "resource_entities_writeback": _q_resource_entities_writeback,
        "proto_roundtrip": _q_proto_roundtrip,
        "forward_merge": _q_forward_merge,
        "pipeline_multi": _q_pipeline_multi,
        "embedding_neardup": _q_embedding_neardup,
        "embedding_neardup_lsh": _q_embedding_neardup_lsh,
        "embedding_dedup": _q_embedding_dedup,
        "media_features": _q_media_features,
        "media_frames": _q_media_frames,
        "stage_metrics": _q_stage_metrics,
        "metrics_cumulative": _q_metrics_cumulative,
        "metrics_delta": _q_metrics_delta,
        "metrics_histogram": _q_metrics_histogram,
        "metrics_exp_histogram": _q_metrics_exp_histogram,
        "metrics_summary": _q_metrics_summary,
        "trace_spans": _q_trace_spans,
        "docs_clean_pipeline": _q_docs_clean_pipeline,
        "turn_gaps": _q_turn_gaps,
        "first_turns": _q_first_turns,
    }


def _corpus_pipeline_oracle() -> str:
    from opentelemetry_collector_spark.plans import corpus_pipeline as cpl

    return cpl.oracle_corpus_pipeline(MIX_RATES_PPM)


def _bpe_segment_oracle() -> str:
    from opentelemetry_collector_spark.functions import bpe

    toks = bpe.oracle_segment(_bpe_merges_for(ORACLE_SF_DIR))
    return f"""
        SELECT doc_id, len({toks})::BIGINT AS n_bpe_tokens,
               array_to_string({toks}, ' ') AS tokens_str
        FROM documents"""


def _bpe_merges_oracle() -> str:
    """bpe_merges value-check (r6 — previously the gate's only
    rows-only row): the iterative argmax itself is not SQL-expressible,
    so the oracle is a literal VALUES table built at query-build time
    from the PINNED pure-Python reference (functions/bpe.reference_bpe,
    test-pinned equal to the Spark training path in tests/test_bpe.py).
    The gate then hash-checks Spark's distributed training against the
    reference's merges — same standard as every other query."""
    merges = _bpe_merges_for(ORACLE_SF_DIR)
    rows = ",\n               ".join(
        f"({i}, '{l.replace(chr(39), chr(39) * 2)}', "
        f"'{r.replace(chr(39), chr(39) * 2)}')"
        for i, (l, r) in enumerate(merges)
    )
    return f"""
        SELECT cast(rank AS int) AS rank, "left", "right"
        FROM (VALUES {rows}) AS t(rank, "left", "right")"""


def _parsedcte_sev() -> str:
    from opentelemetry_collector_spark.functions import pdata

    return f"""{_parsed_cte()}
        SELECT conv_id, turn_idx,
               coalesce(level, '') AS severity_text,
               {pdata.oracle_severity_number('level')} AS severity_number
        FROM parsed"""


def _docs_clean_oracle() -> str:
    from opentelemetry_collector_spark.plans import docs_pipeline

    return docs_pipeline.oracle_clean_documents()




# ---------------------------------------------------------------- oracles

def oracle_sql() -> dict[str, str]:
    parse_sel = (
        "SELECT conv_id, turn_idx, level, svc, latency_ms, req_id, msg, valid "
        "FROM parsed"
    )
    e2e = f"""{_routed_cte()}
    SELECT sink, conv_id, date_trunc('hour', ts) AS window_start,
           cast(count(*) AS bigint) AS n_turns
    FROM routed GROUP BY 1, 2, 3"""
    return {
        "pipeline_e2e": e2e,
        "pipeline_e2e_salted": e2e,
        "pipeline_e2e_arrow": e2e,
        "parse_turns": f"{_parsed_cte()} {parse_sel}",
        "parse_turns_arrow": f"{_parsed_cte()} {parse_sel}",
        "ordered_turns": f"""{_transcripts_cte()}
            SELECT conv_id, turn_idx,
                   cast(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
                        AS int) AS turn_seq,
                   text
            FROM transcripts""",
        "enrich_lookup": f"""{_transcripts_cte()}, {_dims_cte()}
            SELECT t.conv_id, t.turn_idx, t.role, t.tool,
                   r.role_kind, r.is_human, d.tool_family, d.sink_hint
            FROM transcripts t
            LEFT JOIN role_dim r USING (role)
            LEFT JOIN tool_dim d USING (tool)""",
        "enrich_asof": f"""{_transcripts_cte()},
            vdim AS (SELECT * FROM read_parquet(
                '{fixtures.ensure_versioned_tool_dim()}'))
            SELECT t.conv_id, t.turn_idx, t.tool,
                   vdim.tool_version, vdim.cost_tier
            FROM transcripts t
            ASOF LEFT JOIN vdim
              ON t.tool = vdim.tool AND t.ts >= vdim.valid_from""",
        "routed_rows": f"{_routed_cte()} SELECT sink, conv_id, turn_idx FROM routed",
        "route_counts": f"""{_routed_cte()}
            SELECT sink, cast(count(*) AS bigint) AS n_rows
            FROM routed GROUP BY 1""",
        "latency_stats": f"""{_routed_cte()}
            SELECT sink, svc, cast(count(*) AS bigint) AS n,
                   cast(sum(latency_ms) AS bigint) AS latency_sum,
                   min(latency_ms) AS latency_min,
                   max(latency_ms) AS latency_max
            FROM routed WHERE valid GROUP BY 1, 2""",
        "quarantine_rows": f"""{_routed_cte()}
            SELECT conv_id, turn_idx, text FROM routed
            WHERE sink = '{route_mod.QUARANTINE_SINK}'""",
        "filter_strict": f"""{_transcripts_cte()}
            SELECT conv_id, turn_idx, role FROM transcripts
            WHERE role IN ('tool', 'system')""",
        "filter_regexp": f"""{_transcripts_cte()}
            SELECT conv_id, turn_idx FROM transcripts
            WHERE regexp_matches(text, '^\\[ERROR\\]')""",
        "attrs_transform": f"""{_parsed_cte()}
            SELECT conv_id, turn_idx,
                   svc AS service, 'prod' AS env,
                   CAST(NULL AS varchar) AS msg_gone,
                   sha256(req_id) AS req_id_hash,
                   5 AS n_attrs
            FROM parsed WHERE valid""",
        "attrs_typed": f"""{_parsed_cte()}
            SELECT conv_id, turn_idx,
                   svc AS svc_str,
                   cast(0 AS bigint) AS svc_as_int,
                   latency_ms AS lat_int,
                   'int' AS lat_type,
                   (level = 'ERROR') AS err_bool,
                   latency_ms / 1000.0e0 AS score_dbl,
                   '' AS missing_str,
                   cast(7 AS bigint) AS svc_retyped_int
            FROM parsed WHERE valid""",
        "stage_metrics": f"""{_routed_cte()}, c AS (
              SELECT cast(count(*) AS bigint) AS total,
                     cast(sum(CASE WHEN sink = 'sink_quarantine' THEN 1 ELSE 0 END)
                          AS bigint) AS dropped
              FROM routed)
            SELECT 'receiver' AS stage, 'accepted_log_records' AS metric, total AS value FROM c
            UNION ALL SELECT 'receiver', 'refused_log_records', 0 FROM c
            UNION ALL SELECT 'processor_parse', 'incoming_items', total FROM c
            UNION ALL SELECT 'processor_parse', 'outgoing_items', total - dropped FROM c
            UNION ALL SELECT 'processor_parse', 'dropped_items', dropped FROM c
            UNION ALL SELECT 'processor_enrich', 'incoming_items', total FROM c
            UNION ALL SELECT 'processor_enrich', 'outgoing_items', total FROM c
            UNION ALL SELECT 'exporter_' || sink, 'sent_log_records',
                             cast(count(*) AS bigint)
                      FROM routed GROUP BY sink
            UNION ALL SELECT 'exporter_' || sink, 'send_failed_log_records', 0
                      FROM routed GROUP BY sink""",
        "first_turns": f"""{_transcripts_cte()}
            SELECT conv_id, turn_idx,
                   cast(row_number() OVER (PARTITION BY conv_id
                        ORDER BY turn_idx) AS int) AS turn_seq, role
            FROM transcripts QUALIFY turn_seq <= 3""",
        "turn_gaps": f"""{_transcripts_cte()}, g AS (
            SELECT conv_id,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY conv_id ORDER BY turn_idx) AS gap
            FROM transcripts)
            SELECT conv_id, cast(count(*) AS bigint) AS n_turns,
                   cast(sum(gap) AS bigint) AS gap_sum_us,
                   cast(max(gap) AS bigint) AS gap_max_us
            FROM g GROUP BY 1""",
        "metrics_cumulative": """
            SELECT event_type, event_id,
                   round(sum(value) OVER (PARTITION BY event_type
                         ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                   AS cumulative
            FROM events""",
        "metrics_delta": """
            SELECT event_type, event_id,
                   round(value - coalesce(lag(value) OVER (
                         PARTITION BY event_type ORDER BY event_id), 0), 4)
                   AS delta
            FROM events""",
        "metrics_histogram": f"""{_parsed_cte()}
            SELECT svc,
                   cast(CASE WHEN latency_ms <= 10 THEN 0
                             WHEN latency_ms <= 100 THEN 1
                             WHEN latency_ms <= 500 THEN 2
                             WHEN latency_ms <= 1000 THEN 3
                             WHEN latency_ms <= 5000 THEN 4
                             ELSE 5 END AS int) AS bucket_idx,
                   cast(count(*) AS bigint) AS bucket_count,
                   cast(sum(latency_ms) AS bigint) AS value_sum,
                   min(latency_ms) AS value_min,
                   max(latency_ms) AS value_max
            FROM parsed WHERE latency_ms IS NOT NULL GROUP BY 1, 2""",
        "metrics_exp_histogram": f"""{_parsed_cte()}
            SELECT svc,
                   cast(CASE WHEN latency_ms > 0
                        THEN ceil(log2(latency_ms)) - 1
                        END AS int) AS bucket_idx,
                   cast(count(*) AS bigint) AS bucket_count
            FROM parsed WHERE latency_ms IS NOT NULL GROUP BY 1, 2""",
        "metrics_summary": f"""{_parsed_cte()}
            SELECT svc, cast(count(*) AS bigint) AS n,
                   cast(sum(latency_ms) AS bigint) AS value_sum,
                   round(quantile_cont(latency_ms, 0.5), 4) AS q5,
                   round(quantile_cont(latency_ms, 0.9), 4) AS q9,
                   round(quantile_cont(latency_ms, 0.99), 4) AS q99
            FROM parsed WHERE latency_ms IS NOT NULL GROUP BY 1""",
        "trace_spans": f"""{_parsed_cte()}, spans AS (
            SELECT conv_id, turn_idx,
                   md5(conv_id) AS trace_id,
                   substr(md5(conv_id || ':' || turn_idx), 1, 16) AS span_id,
                   coalesce(tool, '') || '/' || coalesce(svc, '') AS name,
                   'SPAN_KIND_CLIENT' AS kind,
                   CASE WHEN level = 'ERROR' THEN 'STATUS_CODE_ERROR'
                        ELSE 'STATUS_CODE_OK' END AS status,
                   ts AS start_ts,
                   ts + to_microseconds(coalesce(latency_ms, 0) * 1000) AS end_ts
            FROM parsed WHERE role = 'tool')
            SELECT conv_id, turn_idx, trace_id, span_id,
                   lag(span_id) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                     AS parent_span_id,
                   name, kind, status, start_ts, end_ts
            FROM spans""",
        "spans_roundtrip": f"""{_rich_spans_cte()}
            SELECT conv_id, turn_idx, trace_id, span_id, parent_span_id,
                   name, kind, status, start_ns, end_ns, trace_state,
                   attrs_sig, events_sig, links_sig, status_message, flags
            FROM rich_spans""",
        "spans_otlp_json": f"""{_rich_spans_cte()}
            SELECT conv_id, trace_id, span_id, parent_span_id,
                   name, kind, status, start_ns, end_ns, trace_state,
                   attrs_sig, events_sig, links_sig, status_message, flags
            FROM rich_spans""",
        "metrics_roundtrip": f"""{_parsed_cte()}
            SELECT conv_id, turn_idx, svc, epoch_ns(ts) AS ts_ns,
                   cast(latency_ms AS bigint) AS value,
                   cast(CASE WHEN latency_ms IS NULL THEN 1 ELSE 0 END
                        AS INTEGER) AS flags
            FROM parsed""",
        "metrics_otlp_json": f"""{_parsed_cte()}
            SELECT conv_id, turn_idx, svc, epoch_ns(ts) AS ts_ns,
                   cast(latency_ms AS bigint) AS value,
                   cast(CASE WHEN latency_ms IS NULL THEN 1 ELSE 0 END
                        AS INTEGER) AS flags
            FROM parsed""",
        "metrics_histogram_otlp": f"""{_parsed_cte()},
            b AS (SELECT svc,
                   cast(CASE WHEN latency_ms <= 10 THEN 0
                             WHEN latency_ms <= 100 THEN 1
                             WHEN latency_ms <= 500 THEN 2
                             WHEN latency_ms <= 1000 THEN 3
                             WHEN latency_ms <= 5000 THEN 4
                             ELSE 5 END AS int) AS bucket_idx,
                   cast(count(*) AS bigint) AS bucket_count,
                   cast(sum(latency_ms) AS bigint) AS sum_b,
                   min(latency_ms) AS min_b, max(latency_ms) AS max_b
                  FROM parsed WHERE latency_ms IS NOT NULL GROUP BY 1, 2),
            s AS (SELECT svc, cast(sum(bucket_count) AS bigint) AS count,
                   cast(sum(sum_b) AS bigint) AS value_sum,
                   min(min_b) AS value_min, max(max_b) AS value_max
                  FROM b GROUP BY 1)
            SELECT b.svc, b.bucket_idx, b.bucket_count, s.count,
                   s.value_sum, s.value_min, s.value_max,
                   cast(0 AS int) AS flags
            FROM b JOIN s ON b.svc IS NOT DISTINCT FROM s.svc
            UNION ALL
            SELECT svc, cast(NULL AS int) AS bucket_idx,
                   cast(0 AS bigint) AS bucket_count,
                   cast(0 AS bigint) AS count,
                   cast(NULL AS bigint) AS value_sum,
                   cast(NULL AS bigint) AS value_min,
                   cast(NULL AS bigint) AS value_max,
                   cast(1 AS int) AS flags
            FROM parsed GROUP BY svc HAVING count(latency_ms) = 0""",
        "metrics_exemplars": f"""{_parsed_cte()},
            bucketed AS (SELECT svc,
                   cast(CASE WHEN latency_ms <= 10 THEN 0
                             WHEN latency_ms <= 100 THEN 1
                             WHEN latency_ms <= 500 THEN 2
                             WHEN latency_ms <= 1000 THEN 3
                             WHEN latency_ms <= 5000 THEN 4
                             ELSE 5 END AS int) AS bucket_idx,
                   cast(latency_ms AS bigint) AS value,
                   epoch_ns(ts) AS ts_ns,
                   md5(conv_id) AS trace_id,
                   substr(md5(conv_id || ':' || turn_idx), 1, 16) AS span_id,
                   conv_id
                  FROM parsed WHERE latency_ms IS NOT NULL),
            ranked AS (SELECT *,
                   row_number() OVER (PARTITION BY svc, bucket_idx
                       ORDER BY value DESC, ts_ns DESC, trace_id DESC,
                                span_id DESC, conv_id DESC) AS rn,
                   cast(count(*) OVER (PARTITION BY svc, bucket_idx)
                        AS bigint) AS bucket_count
                  FROM bucketed)
            SELECT svc, bucket_idx, bucket_count,
                   value AS ex_value, ts_ns AS ex_ts_ns,
                   trace_id AS ex_trace_id, span_id AS ex_span_id,
                   conv_id AS ex_conv
            FROM ranked WHERE rn = 1""",
        "metrics_sum_otlp": f"""{_parsed_cte()}
            SELECT conv_id, turn_idx, svc, epoch_ns(ts) AS ts_ns,
                   cast(sum(latency_ms) OVER (
                        PARTITION BY svc, epoch_ns(ts) // 3600000000000
                        ORDER BY ts, conv_id, turn_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS value,
                   'AGGREGATION_TEMPORALITY_CUMULATIVE' AS temporality,
                   true AS is_monotonic,
                   cast(CASE WHEN latency_ms IS NULL THEN 1 ELSE 0 END
                        AS INTEGER) AS flags
            FROM parsed""",
        "metrics_exp_otlp": f"""{_parsed_cte()}
            SELECT svc,
                   cast(CASE WHEN latency_ms > 0
                        THEN ceil(log2(latency_ms)) - 1
                        END AS int) AS bucket_idx,
                   cast(count(*) AS bigint) AS bucket_count,
                   cast(0 AS int) AS flags
            FROM parsed WHERE latency_ms IS NOT NULL GROUP BY 1, 2
            UNION ALL
            SELECT svc, cast(NULL AS int) AS bucket_idx,
                   cast(0 AS bigint) AS bucket_count,
                   cast(1 AS int) AS flags
            FROM parsed GROUP BY svc HAVING count(latency_ms) = 0""",
        "metrics_exp_signed_otlp": f"""{_parsed_cte()},
            d AS (SELECT svc,
                   latency_ms - lag(latency_ms) OVER (
                       PARTITION BY svc, epoch_ns(ts) // 3600000000000
                       ORDER BY ts, conv_id, turn_idx) AS delta
                  FROM parsed),
            b AS (SELECT svc,
                   cast(CASE WHEN delta > 0 THEN 1
                             WHEN delta < 0 THEN -1 ELSE 0 END AS int)
                     AS bucket_sign,
                   cast(CASE WHEN abs(delta) > 0
                        THEN ceil(log2(abs(delta))) - 1 END AS int)
                     AS bucket_idx,
                   cast(count(*) AS bigint) AS bucket_count,
                   cast(sum(delta) AS bigint) AS sum_b,
                   min(delta) AS min_b, max(delta) AS max_b
                  FROM d WHERE delta IS NOT NULL GROUP BY 1, 2, 3),
            s AS (SELECT svc, cast(sum(bucket_count) AS bigint) AS count,
                   cast(sum(sum_b) AS bigint) AS value_sum,
                   min(min_b) AS value_min, max(max_b) AS value_max
                  FROM b GROUP BY 1)
            SELECT b.svc, b.bucket_sign, b.bucket_idx, b.bucket_count,
                   s.count, s.value_sum, s.value_min, s.value_max
            FROM b JOIN s ON b.svc IS NOT DISTINCT FROM s.svc""",
        "metrics_summary_otlp": f"""{_parsed_cte()}
            SELECT svc, cast(count(*) AS bigint) AS n,
                   cast(sum(latency_ms) AS bigint) AS value_sum,
                   round(quantile_cont(latency_ms, 0.5), 4) AS q5,
                   round(quantile_cont(latency_ms, 0.9), 4) AS q9,
                   round(quantile_cont(latency_ms, 0.99), 4) AS q99,
                   cast(0 AS int) AS flags
            FROM parsed WHERE latency_ms IS NOT NULL GROUP BY 1
            UNION ALL
            SELECT svc, cast(0 AS bigint) AS n,
                   cast(NULL AS bigint) AS value_sum,
                   cast(NULL AS double) AS q5,
                   cast(NULL AS double) AS q9,
                   cast(NULL AS double) AS q99,
                   cast(1 AS int) AS flags
            FROM parsed GROUP BY svc HAVING count(latency_ms) = 0""",
        "logs_anyvalue_otlp": f"""{_parsed_cte()}
            SELECT conv_id, turn_idx, svc,
                   cast(latency_ms AS BIGINT) AS latency_ms,
                   cast(latency_ms AS DOUBLE) * cast(0.5 AS DOUBLE) AS score,
                   valid,
                   CASE WHEN req_id IS NOT NULL
                        THEN base64(encode(req_id)) END AS req_b64,
                   concat_ws(';', tool, role) AS tools_sig,
                   'conv=' || conv_id || ';turn=' || turn_idx AS ctx_sig
            FROM parsed""",
        "docs_quality": f"""WITH {_edge_docs_cte()},
            base AS ({corpus_oracle.oracle_quality_rules('docs_all')})
            SELECT * FROM base""",
        "sample_mix": corpus_oracle.oracle_mix_sample(MIX_RATES_PPM),
        "sequence_pack": corpus_oracle.oracle_pack_sequences(),
        "corpus_pipeline": _corpus_pipeline_oracle(),
        "bpe_segment": _bpe_segment_oracle(),
        "bpe_merges": _bpe_merges_oracle(),
        "neardup_components": dedup_oracle.oracle_neardup_components(
            dedup_oracle.oracle_neardup_pairs_lsh(0.5)
        ),
        "neardup_components_star": dedup_oracle.oracle_neardup_components(
            dedup_oracle.oracle_neardup_pairs_lsh(0.5)
        ),
        "contamination_check": f"""WITH {_edge_docs_cte()},
            base AS ({corpus_oracle.oracle_contamination()})
            SELECT * FROM base""",
        "severity_turns": f"""{_parsedcte_sev()}""",
        "otlp_roundtrip": f"""{_parsed_cte()}
            SELECT conv_id, role, text,
                   CASE WHEN role = 'tool' THEN 1 END AS flags,
                   CASE WHEN role = 'tool' THEN md5(conv_id) END AS trace_id,
                   CASE WHEN role = 'tool'
                        THEN substr(md5(conv_id || ':' || turn_idx), 1, 16)
                        END AS span_id
            FROM parsed""",
        "logs_scoped_otlp": f"""{_parsed_cte()}
            SELECT conv_id,
                   'https://opentelemetry.io/schemas/1.21.0'
                       AS resource_schema_url,
                   'https://opentelemetry.io/schemas/1.21.0'
                       AS scope_schema_url,
                   role,
                   '1.0.0' AS scope_version,
                   string_agg(DISTINCT tool, ',' ORDER BY tool)
                       AS scope_tools,
                   cast(0 AS int) AS dropped_attrs,
                   cast(count(*) AS int) AS n_records
            FROM parsed GROUP BY conv_id, role""",
        "resource_entities": f"""{_parsed_cte()},
            res AS (SELECT DISTINCT conv_id, svc FROM parsed)
            SELECT 'service' AS entity_type, svc AS id_value,
                   cast(count(*) AS bigint) AS n_resources
            FROM res WHERE svc IS NOT NULL GROUP BY svc
            UNION ALL
            SELECT 'conversation', conv_id, cast(count(*) AS bigint)
            FROM res GROUP BY conv_id""",
        "resource_entities_writeback": f"""{_parsed_cte()},
            res AS (SELECT DISTINCT conv_id, svc FROM parsed)
            SELECT 'service' AS entity_type, svc AS id_value,
                   'tier-' || cast(length(svc) % 3 AS varchar) AS tier,
                   cast(count(*) AS bigint) AS n_resources
            FROM res WHERE svc IS NOT NULL GROUP BY 1, 2, 3
            UNION ALL
            SELECT 'conversation', conv_id, cast(NULL AS varchar),
                   cast(count(*) AS bigint)
            FROM res GROUP BY 1, 2, 3""",
        "proto_roundtrip": f"""{_parsed_cte()}
            SELECT conv_id, turn_idx, text AS body,
                   coalesce(level, '') AS severity_text,
                   epoch_ns(ts) AS ts_ns, svc,
                   cast(CASE WHEN role = 'tool' THEN 1 ELSE 0 END AS int)
                     AS flags,
                   CASE WHEN role = 'tool' THEN md5(conv_id) END AS trace_id,
                   CASE WHEN role = 'tool'
                        THEN substr(md5(conv_id || ':' || turn_idx), 1, 16)
                        END AS span_id,
                   epoch_ns(ts) AS observed_ts_ns,
                   concat_ws(':', role, tool) AS event_name
            FROM parsed""",
        "forward_merge": f"""{_routed_cte()}
            SELECT sink, conv_id, turn_idx FROM routed
            WHERE sink IN ('sink_py', 'sink_llm')""",
        "pipeline_multi": f"""{_routed_cte()}
            SELECT sink, level, cast(count(*) AS bigint) AS n
            FROM routed GROUP BY 1, 2""",
        "embedding_neardup": sim_oracle.oracle_embedding_neardup(0.5),
        "neardup_minhash": dedup_oracle.oracle_neardup_pairs_lsh(0.5),
        "dedup_incremental": dedup_oracle.oracle_incremental_dedup(),
        # result-identical by contract (pinned in tests/test_dedup_store.py)
        "dedup_incremental_bucketed": dedup_oracle.oracle_incremental_dedup(),
        "simhash_pairs": dedup_oracle.oracle_simhash_pairs(
            8, q=_simhash_q(ORACLE_SF_DIR)
        ),
        "text_winnow": dedup_oracle.oracle_winnow_stats("documents"),
        "neardup_winnow": dedup_oracle.oracle_neardup_winnow(30),
        "media_features": f"""
            SELECT media_id, media_type,
                   cast(octet_length(payload) AS bigint) AS n_bytes,
                   payload_sha256 AS sha256,
                   cast(CASE WHEN media_type IN ('audio/wav', 'video/avi')
                        THEN meta.duration_ms END AS int)
                     AS decoded_duration_ms,
                   audio_sample_sum AS sample_sum,
                   video_n_frames AS n_frames,
                   video_pixel_sum AS pixel_sum
            FROM read_parquet('{fixtures.ensure_media()}')""",
        "media_frames": f"""
            WITH v AS (
                SELECT media_id,
                       unnest(list_transform(video_frame_sha256,
                              (x, i) -> {{'d': x, 'i': i}})) AS fr
                FROM read_parquet('{fixtures.ensure_media()}')
                WHERE media_type = 'video/avi')
            SELECT media_id,
                   cast((fr.i - 1) * {_AVI_FRAME_MS} AS int) AS frame_ms,
                   fr.d AS frame_sha256
            FROM v""",
        "docs_clean_pipeline": _docs_clean_oracle(),
        "profile_hot_functions": profiles_oracle.oracle_hot_functions(10),
        "profile_span_hotspots": profiles_oracle.oracle_span_hotspots(),
        "profile_attr_units": profiles_oracle.oracle_attr_units(),
        "profile_pprof_roundtrip": profiles_oracle.oracle_hot_functions_by_name(10),
        "profile_mapping_rollup": profiles_oracle.oracle_mapping_rollup(),
        "profiles_otlp_json": profiles_otlp_oracle.oracle_profiles_otlp(),
        "profiles_dictionary_otlp": (
            profiles_otlp_oracle.oracle_dictionary_locations()
        ),
        "dedup_exact": dedup_oracle.oracle_exact_dedup("documents"),
        "dedup_normalized": dedup_oracle.oracle_normalized_dedup("documents"),
        "minhash_signatures": f"""
            SELECT doc_id,
                   array_to_string({dedup_oracle.oracle_minhash(dedup_oracle.oracle_shingles('text'))}, '#')
                   AS minhash_sig
            FROM documents""",
        "vocab_topk": text_oracle.oracle_vocab_topk(100),
        "text_repetition": text_oracle.oracle_repetition_signals(
            "docs_all", extra_cte=_edge_docs_cte()
        ),
        "text_redact": f"WITH {_edge_docs_cte()} "
        + text_oracle.oracle_redact_pii("docs_all"),
        "lm_score": text_oracle.oracle_lm_score(
            "docs_all", extra_cte=_edge_docs_cte()
        ),
        "tfidf_topterms": text_oracle.oracle_tfidf_topterms(3),
        "text_stats": f"""
            SELECT doc_id,
                   {text_oracle.oracle_token_count('text')} AS n_tokens,
                   cast(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bigint)
                     AS n_tokens_bpe,
                   {text_oracle.oracle_lang_id('text')} AS lang_pred,
                   {text_oracle.oracle_quality_score_ppm('text')} AS quality_ppm,
                   {text_oracle.oracle_fingerprint('text')} AS fp
            FROM documents""",
        "ann_cosine_threshold": sim_oracle.oracle_cosine_threshold(
            _query_vec(ORACLE_SF_DIR), ANN_THRESHOLD
        ),
        "ann_topk_bruteforce": sim_oracle.oracle_cosine_topk(
            _query_vec(ORACLE_SF_DIR), 10
        ),
        "ann_topk_lsh": sim_oracle.oracle_ann_topk_lsh(
            _query_vec(ORACLE_SF_DIR), k=10, bits=8, n_probes=8
        ),
        "embedding_neardup_lsh": sim_oracle.oracle_embedding_neardup_lsh(
            0.5, dim=len(_query_vec(ORACLE_SF_DIR)),
            bits=_ann_bits(ORACLE_SF_DIR), n_bands=8
        ),
        "embedding_dedup": sim_oracle.oracle_embedding_dedup_keepers(
            0.5, dim=len(_query_vec(ORACLE_SF_DIR)),
            bits=_ann_bits(ORACLE_SF_DIR), n_bands=8
        ),
        "ann_topk_ivf": sim_oracle.oracle_ann_topk_ivf(
            _query_vec(ORACLE_SF_DIR),
            _ivf_centroids_for(ORACLE_SF_DIR),
            k=10,
            n_probes=4,
        ),
        "events_hourly": """
            SELECT event_type, date_trunc('hour', ts) AS window_start,
                   cast(count(*) AS bigint) AS n_events,
                   round(sum(value), 4) AS value_sum
            FROM events GROUP BY 1, 2""",
        "events_sessionize": """
            WITH g AS (
              SELECT user_id,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id)
                          > 1800 * 1000000
                          OR lag(ts) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS new_sess
              FROM events)
            SELECT user_id, cast(sum(new_sess) AS bigint) AS n_sessions,
                   cast(count(*) AS bigint) AS n_events
            FROM g GROUP BY 1""",
        "lineitem_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   cast(sum(l_quantity) AS double) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   cast(count(*) AS bigint) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY 1, 2""",
        "orders_by_nation": """
            SELECT n_name, cast(count(*) AS bigint) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1""",
        "batch_counts": f"""{_transcripts_cte()}, seqd AS (
            SELECT role, tool,
                   cast(floor((row_number() OVER (
                       PARTITION BY role, tool
                       ORDER BY conv_id, turn_idx) - 1) / 512) AS bigint)
                   AS batch_id
            FROM transcripts)
            SELECT role, tool, batch_id, cast(count(*) AS bigint) AS n_rows
            FROM seqd GROUP BY 1, 2, 3""",
        "batch_bytes": f"""{_transcripts_cte()}, sized AS (
            SELECT role, tool, strlen(text) AS sz,
                   sum(strlen(text)) OVER (
                       PARTITION BY role, tool ORDER BY conv_id, turn_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
            FROM transcripts)
            SELECT role, tool,
                   cast(floor((cum - sz) / {64 * 1024}.0e0) AS bigint) AS batch_id,
                   cast(count(*) AS bigint) AS n_rows,
                   cast(sum(sz) AS bigint) AS bytes_sum
            FROM sized GROUP BY 1, 2, 3""",
    }
