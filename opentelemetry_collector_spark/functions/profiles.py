"""Profiles signal (pdata/pprofile) — the fourth reference signal.

The reference stores profiles dictionary-encoded
(generated_profilesdictionary.go:44-83: FunctionTable / LocationTable /
StackTable; generated_sample.go:51 Sample.StackIndex;
generated_stack.go:51 Stack.LocationIndices, leaf first;
profiles.go:19-31 SampleCount). The Spark-first shape is the classic
fact + broadcast-dims star:

    samples (fact, huge)  ⋈B  stacks → locations → functions (tiny dims)

`hot_functions` computes the pprof-style hot list: per function,
  - self_ns:  Σ sample.value where the function owns the LEAF frame
  - total_ns: Σ sample.value where the function appears ANYWHERE in the
    stack (counted once per sample — recursion doesn't double-count)
  - n_samples: samples containing the function
Top-k by self time, bigint-deterministic tie-break on function_id.

Scale: samples is the only large table; every join is an explicit
F.broadcast of a dictionary dim, the stack explode fans out by mean
stack depth (≤ 8 here) and collapses again in the first hash
aggregate — no shuffle ever carries the fact table keyed by anything
but function_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark import fixtures


def read_profile_tables(spark: SparkSession) -> dict[str, DataFrame]:
    paths = fixtures.ensure_profiles()
    return {
        name: spark.read.schema(fixtures.PROFILE_DDL[name]).parquet(p)
        for name, p in paths.items()
    }


def hot_functions(
    samples: DataFrame,
    stacks: DataFrame,
    locations: DataFrame,
    functions: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Top-k functions by self time (see module docstring)."""
    frames = (
        samples.join(F.broadcast(stacks), "stack_id")
        .select(
            "sample_id",
            "value",
            F.posexplode("location_ids").alias("pos", "location_id"),
        )
        .join(F.broadcast(locations.select("location_id", "function_id")), "location_id")
    )
    # one row per (sample, function): value counted once even when the
    # function appears in several frames (recursion); leaf flag survives
    per_sf = frames.groupBy("sample_id", "function_id").agg(
        F.first("value").alias("value"),
        F.max((F.col("pos") == 0).cast("int")).alias("is_leaf"),
    )
    agg = per_sf.groupBy("function_id").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(F.col("value") * F.col("is_leaf")).alias("self_ns"),
        F.sum("value").alias("total_ns"),
    )
    return (
        agg.join(F.broadcast(functions.select("function_id", "name")), "function_id")
        .orderBy(F.col("self_ns").desc(), "function_id")
        .limit(k)
        .select("function_id", "name", "n_samples", "self_ns", "total_ns")
    )


def _oracle_frames_cte() -> str:
    """THE shared samples→frames WITH prefix for both profile oracles
    (incl. the subtle 1-based-DuckDB-lambda 'pos - 1' correction) —
    one definition so the two gates cannot silently disagree (r5
    review finding)."""
    p = fixtures.ensure_profiles()
    return f"""        WITH samples AS (SELECT * FROM read_parquet('{p["samples"]}')),
        stacks AS (SELECT * FROM read_parquet('{p["stacks"]}')),
        locations AS (SELECT * FROM read_parquet('{p["locations"]}')),
        functions AS (SELECT * FROM read_parquet('{p["functions"]}')),
        frames0 AS (
            SELECT s.sample_id, s.value,
                   unnest(list_transform(st.location_ids,
                          (x, i) -> {{'loc': x, 'pos': i}})) AS fr
            FROM samples s JOIN stacks st USING (stack_id)),
        frames AS (
            SELECT sample_id, value, fr.pos - 1 AS pos,
                   fr.loc AS location_id
            FROM frames0)"""


def oracle_hot_functions(k: int = 10) -> str:
    """DuckDB mirror over the same parquet bytes: frame position via an
    indexed-lambda struct unnest (lateral range(len(col)) is not
    supported), identical once-per-sample total and leaf-only self
    sums. DuckDB lambda index is 1-based — pos 1 is the leaf."""
    return f"""{_oracle_frames_cte()},
        per_sf AS (
            SELECT f.sample_id, l.function_id,
                   any_value(f.value) AS value,
                   max(CASE WHEN f.pos = 0 THEN 1 ELSE 0 END) AS is_leaf
            FROM frames f JOIN locations l USING (location_id)
            GROUP BY 1, 2),
        agg AS (
            SELECT function_id,
                   cast(count(*) AS bigint) AS n_samples,
                   cast(sum(value * is_leaf) AS bigint) AS self_ns,
                   cast(sum(value) AS bigint) AS total_ns
            FROM per_sf GROUP BY 1)
        SELECT a.function_id, fn.name, a.n_samples, a.self_ns, a.total_ns
        FROM agg a JOIN functions fn USING (function_id)
        ORDER BY a.self_ns DESC, a.function_id LIMIT {k}"""


def span_hotspots(
    samples: DataFrame,
    links: DataFrame,
    stacks: DataFrame,
    locations: DataFrame,
    functions: DataFrame,
) -> DataFrame:
    """Per-span CPU attribution through the pprofile LinkTable
    (generated_link.go:51-70: Link.TraceID/SpanID;
    generated_sample.go:67 Sample.LinkIndex; sample.go:24: index 0 =
    unlinked): for every linked span, total sampled ns, sample count,
    and the dominant LEAF function (the pprof "self" owner) with its
    self time.

    Scale: samples is the only large input and is scanned ONCE — the
    leaf resolution uses left joins against the broadcast dims with a
    loud guard on dangling references (an inner join would silently
    drop the sample from the totals), the one shuffle is the
    (trace_id, span_id, name) aggregate, and the span totals are
    derived from that aggregate rather than re-scanning samples;
    the window runs only over the per-(span, function) rows
    (span-count-sized, not sample-sized)."""
    from pyspark.sql import Window

    # same loud-guard policy as the leaf dims below: a link_id absent
    # from the LinkTable must not silently drop the sample from the
    # span totals. BOTH id columns get the guard, and every guard
    # input is made non-NULL first (hit marker coalesced to false, id
    # coalesced to a sentinel): guarding a NULL directly is unsound —
    # the final inner join infers isnotnull(trace_id)/isnotnull(span_id)
    # constraints that Catalyst pushes below the guard projection,
    # filtering the dangling row before it can raise (verified: the
    # NULL-guard variant silently drops). The hit marker distinguishes
    # a MISSING LinkTable row from a present row with a NULL id, so
    # the error names the actual defect.
    hit = F.coalesce(F.col("_link_hit"), F.lit(False))

    def _guarded_id(col_name: str):
        filled = F.coalesce(F.col(col_name), F.lit("\x00missing"))
        return (
            F.when(
                ~hit,
                F.raise_error(
                    F.concat(
                        F.lit("link_id missing from LinkTable: "),
                        F.col("link_id").cast("string"),
                    )
                ),
            )
            .when(
                filled == "\x00missing",
                F.raise_error(
                    F.concat(
                        F.lit(f"LinkTable row has NULL {col_name}: link_id "),
                        F.col("link_id").cast("string"),
                    )
                ),
            )
            .otherwise(filled)
        )

    linked = (
        samples.filter(F.col("link_id") > 0)
        .join(
            F.broadcast(
                links.filter(F.col("link_id") > 0).withColumn(
                    "_link_hit", F.lit(True)
                )
            ),
            "link_id",
            "left",
        )
        .withColumn("trace_id", _guarded_id("trace_id"))
        .withColumn("span_id", _guarded_id("span_id"))
        .drop("_link_hit")
    )
    leaf = (
        linked.join(F.broadcast(stacks), "stack_id", "left")
        .select(
            "trace_id",
            "span_id",
            "value",
            "stack_id",
            F.element_at("location_ids", 1).alias("location_id"),
        )
        .join(
            F.broadcast(locations.select("location_id", "function_id")),
            "location_id",
            "left",
        )
        .join(
            F.broadcast(functions.select("function_id", "name")),
            "function_id",
            "left",
        )
    )
    # a sample whose stack/location/function id misses the dictionary
    # must fail loud: dropping it would desynchronize total_ns from the
    # leaf attribution below it
    guarded_name = F.when(
        F.col("name").isNotNull(), F.col("name")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("unresolvable leaf function for sample stack_id="),
                F.col("stack_id").cast("string"),
            )
        )
    )
    per_fn = leaf.groupBy(
        "trace_id", "span_id", guarded_name.alias("name")
    ).agg(
        F.sum("value").alias("fn_self_ns"),
        F.count(F.lit(1)).alias("_fn_n"),
    )
    per_span = per_fn.groupBy("trace_id", "span_id").agg(
        F.sum("_fn_n").alias("n_samples"),
        F.sum("fn_self_ns").alias("total_ns"),
    )
    w = Window.partitionBy("trace_id", "span_id").orderBy(
        F.col("fn_self_ns").desc(), "name"
    )
    top = (
        per_fn.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "trace_id",
            "span_id",
            F.col("name").alias("top_leaf_fn"),
            F.col("fn_self_ns").alias("top_leaf_self_ns"),
        )
    )
    return per_span.join(top, ["trace_id", "span_id"]).select(
        "trace_id", "span_id", "n_samples", "total_ns",
        "top_leaf_fn", "top_leaf_self_ns",
    )


def attr_units(samples: DataFrame, attributes: DataFrame) -> DataFrame:
    """Attribute incidence rollup through the pprofile AttributeTable
    (generated_keyvalueandunit.go:53-71: KeyValueAndUnit — key, typed
    value, UnitStrindex; generated_sample.go:62 Sample.AttributeIndices).
    Per (key, unit): incidences, distinct values, and the summed int
    value in the declared unit (NULL for string-valued keys).

    Scale: explode fans out by attrs-per-sample (≤3), attribute
    dictionary is broadcast, one shuffle on (key, unit)."""
    inc = samples.select(
        "sample_id", F.explode("attribute_ids").alias("attr_id")
    ).join(F.broadcast(attributes), "attr_id")
    return inc.groupBy("key", "unit").agg(
        F.count(F.lit(1)).alias("n_incidences"),
        F.countDistinct(
            F.coalesce(F.col("str_value"), F.col("int_value").cast("string"))
        ).alias("n_values"),
        F.sum("int_value").alias("total_int"),
    )


def oracle_span_hotspots() -> str:
    """DuckDB mirror over the same parquet bytes; list index [1] is the
    leaf (leaf-first lists, 1-based in both engines)."""
    p = fixtures.ensure_profiles()
    return f"""        WITH samples AS (SELECT * FROM read_parquet('{p["samples"]}')),
        links AS (SELECT * FROM read_parquet('{p["links"]}')),
        stacks AS (SELECT * FROM read_parquet('{p["stacks"]}')),
        locations AS (SELECT * FROM read_parquet('{p["locations"]}')),
        functions AS (SELECT * FROM read_parquet('{p["functions"]}')),
        linked AS (
            SELECT s.*, l.trace_id, l.span_id
            FROM samples s JOIN links l USING (link_id)
            WHERE s.link_id > 0),
        per_span AS (
            SELECT trace_id, span_id,
                   cast(count(*) AS bigint) AS n_samples,
                   cast(sum(value) AS bigint) AS total_ns
            FROM linked GROUP BY 1, 2),
        leaf AS (
            SELECT li.trace_id, li.span_id, li.value, fn.name
            FROM linked li
            JOIN stacks st USING (stack_id)
            JOIN locations lo ON lo.location_id = st.location_ids[1]
            JOIN functions fn USING (function_id)),
        per_fn AS (
            SELECT trace_id, span_id, name,
                   cast(sum(value) AS bigint) AS fn_self_ns
            FROM leaf GROUP BY 1, 2, 3),
        top AS (
            SELECT trace_id, span_id, name, fn_self_ns FROM per_fn
            QUALIFY row_number() OVER (
                PARTITION BY trace_id, span_id
                ORDER BY fn_self_ns DESC, name) = 1)
        SELECT p.trace_id, p.span_id, p.n_samples, p.total_ns,
               t.name AS top_leaf_fn, t.fn_self_ns AS top_leaf_self_ns
        FROM per_span p JOIN top t USING (trace_id, span_id)"""


def oracle_attr_units() -> str:
    p = fixtures.ensure_profiles()
    return f"""        WITH samples AS (SELECT * FROM read_parquet('{p["samples"]}')),
        attributes AS (SELECT * FROM read_parquet('{p["attributes"]}')),
        inc AS (
            SELECT s.sample_id, unnest(s.attribute_ids) AS attr_id
            FROM samples s),
        joined AS (SELECT i.*, a.key, a.str_value, a.int_value, a.unit
                   FROM inc i JOIN attributes a USING (attr_id))
        SELECT key, unit,
               cast(count(*) AS bigint) AS n_incidences,
               cast(count(DISTINCT coalesce(str_value,
                    cast(int_value AS varchar))) AS bigint) AS n_values,
               cast(sum(int_value) AS bigint) AS total_int
        FROM joined GROUP BY 1, 2"""


def oracle_hot_functions_by_name(k: int = 10) -> str:
    """oracle_hot_functions keyed by function NAME — the identity the
    pprof round trip preserves (per-blob ids are local; names are the
    dictionary's cross-blob identity). Value-checks
    profilewire.encode→decode→hot_functions_from_frames."""
    return f"""{_oracle_frames_cte()},
        per_sf AS (
            SELECT f.sample_id, fn.name,
                   any_value(f.value) AS value,
                   max(CASE WHEN f.pos = 0 THEN 1 ELSE 0 END) AS is_leaf
            FROM frames f JOIN locations l USING (location_id)
                          JOIN functions fn USING (function_id)
            GROUP BY 1, 2)
        SELECT name,
               cast(count(*) AS bigint) AS n_samples,
               cast(sum(value * is_leaf) AS bigint) AS self_ns,
               cast(sum(value) AS bigint) AS total_ns
        FROM per_sf GROUP BY 1
        ORDER BY self_ns DESC, name LIMIT {k}"""


def mapping_rollup(
    samples: DataFrame,
    stacks: DataFrame,
    locations: DataFrame,
    mappings: DataFrame,
) -> DataFrame:
    """Per-binary hotspot attribution through the pprofile MappingTable
    (generated_mapping.go:53-100 — memory range + filename;
    generated_location.go MappingIndex): per mapping,
      - self_ns:  Σ sample.value where the mapping owns the LEAF frame
      - total_ns: Σ sample.value where the mapping appears anywhere in
        the stack (once per sample)
      - n_samples: samples touching the mapping
    mapping_id 0 is the reserved "unknown mapping" row — it aggregates
    the unattributed frames rather than vanishing (the symbolization-
    coverage number a profiling consumer reads first).

    Scale: same star shape as hot_functions — samples is the only big
    table, dims broadcast, one shuffle keyed by mapping_id."""
    frames = (
        samples.join(F.broadcast(stacks), "stack_id")
        .select(
            "sample_id",
            "value",
            F.posexplode("location_ids").alias("pos", "location_id"),
        )
        .join(
            F.broadcast(locations.select("location_id", "mapping_id")),
            "location_id",
        )
    )
    per_sm = frames.groupBy("sample_id", "mapping_id").agg(
        F.first("value").alias("value"),
        F.max((F.col("pos") == 0).cast("int")).alias("is_leaf"),
    )
    agg = per_sm.groupBy("mapping_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        F.sum(F.col("value") * F.col("is_leaf")).cast("long").alias("self_ns"),
        F.sum("value").cast("long").alias("total_ns"),
    )
    return agg.join(
        F.broadcast(mappings.select("mapping_id", "filename", "memory_start")),
        "mapping_id",
    ).select(
        "mapping_id", "filename", "memory_start",
        "n_samples", "self_ns", "total_ns",
    )


def oracle_mapping_rollup() -> str:
    p = fixtures.ensure_profiles()
    return f"""{_oracle_frames_cte()},
        mappings AS (SELECT * FROM read_parquet('{p["mappings"]}')),
        per_sm AS (
            SELECT f.sample_id, l.mapping_id,
                   any_value(f.value) AS value,
                   max(CASE WHEN f.pos = 0 THEN 1 ELSE 0 END) AS is_leaf
            FROM frames f JOIN locations l USING (location_id)
            GROUP BY 1, 2),
        agg AS (
            SELECT mapping_id,
                   cast(count(*) AS bigint) AS n_samples,
                   cast(sum(value * is_leaf) AS bigint) AS self_ns,
                   cast(sum(value) AS bigint) AS total_ns
            FROM per_sm GROUP BY 1)
        SELECT a.mapping_id, m.filename, m.memory_start,
               a.n_samples, a.self_ns, a.total_ns
        FROM agg a JOIN mappings m USING (mapping_id)"""
