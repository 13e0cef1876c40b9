"""The benchmark's workloads.

Each workload drives the package only through its public entry points
and checks every pass against values computed once per seed in DuckDB
from the package's own oracle SQL. A workload supplies:

- ``sizes`` and ``rows`` (input rows one pass consumes);
- ``expected(sf_dir)``: the DuckDB reference, JSON-serialisable;
- ``setup(spark, i)``: one-time builds the passes need (timed as set-up);
- ``run_pass(spark, tag)``: one timed pass; ``verify`` checks its output
  and returns facts about it;
- ``instrument(tracer)``: wraps the package functions traced runs time;
- ``layers(spark, tracer, traced, facts)``: the per-layer metrics it
  measures, from the traced passes' spans and facts and from noop-sink
  prefix probes.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from perfbench.fingerprint import duckdb_fingerprint, spark_fingerprint
from perfbench.inputs import Sizes, duckdb_connection
from perfbench.trace import (
    by_name,
    coverage,
    duration,
    inclusive,
    median_over,
    sql_sum,
    sql_values,
)


def _span_total(spans: list[dict], name: str) -> float:
    return sum(duration(s) for s in by_name(spans, name))


def _jobs_total(spans: list[dict], name: str) -> float:
    return sum(inclusive(spans, s, "jobs") for s in by_name(spans, name))


class Workload:
    name: str
    sizes: Sizes
    # spans that contain a whole pass's DAG, left out of trace.coverage
    containers: tuple[str, ...] = ()

    def __init__(self, sf_dir: Path, rundir: Path, expected: dict, tracer):
        self.tracer = tracer
        self.sf = str(sf_dir)
        self.rundir = rundir
        self.want = expected

    def setup(self, spark, i: int) -> None:
        pass

    def instrument(self, tracer) -> None:
        pass


# ----------------------------------------------------------- service_export

class ServiceExport(Workload):
    """plans.runner.run_pipeline in per-sink mode, into a fresh output
    directory per pass; the written sink, metrics and aggregate tables
    are read back and checked against the oracle's per-sink counts."""

    name = "service_export"
    containers = ("plans.runner.run_pipeline",)
    sizes = Sizes(turns=65_536, docs=300)

    @property
    def rows(self) -> int:
        return self.sizes.turns

    @staticmethod
    def expected(sf_dir: Path) -> dict:
        from opentelemetry_collector_spark.functions import parse
        from opentelemetry_collector_spark.operators import route

        con = duckdb_connection(sf_dir)
        sql = f"""
            WITH transcripts AS (SELECT * FROM
                   read_parquet('{sf_dir / 'transcripts.parquet'}')),
                 parsed AS (SELECT transcripts.*,
                   {parse.oracle_parse_fragment('transcripts')} FROM transcripts)
            SELECT {route.oracle_sink_fragment()} AS sink, count(*) AS n
            FROM parsed GROUP BY 1"""
        return {"sink_counts": {s: int(n) for s, n in con.sql(sql).fetchall()}}

    def run_pass(self, spark, tag: str):
        from opentelemetry_collector_spark.plans import runner

        out = self.rundir / "out" / tag
        paths = runner.run_pipeline(spark, self.sf, str(out))
        return out, paths

    def verify(self, spark, result) -> dict:
        from pyspark.sql import functions as F

        out, paths = result
        run = out / "run_id=run0"
        sinks = spark.read.option("basePath", str(out)).parquet(*paths.values())
        got = {
            r["sink"]: r["n"]
            for r in sinks.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        metrics = {
            (r["stage"], r["metric"]): r["value"]
            for r in spark.read.parquet(str(run / "metrics")).collect()
        }
        agg = {
            r["sink"]: r["n"]
            for r in spark.read.parquet(str(run / "agg"))
            .groupBy("sink").agg(F.sum("n_turns").alias("n")).collect()
        }
        want = self.want["sink_counts"]
        sent = {
            s: metrics.get((f"exporter_{s}", "sent_log_records")) for s in want
        }
        ok = (
            got == want
            and agg == want
            and sent == want
            and metrics.get(("receiver", "accepted_log_records")) == sum(want.values())
        )
        files = [p for p in out.rglob("part-*") if "sink=" in str(p)]
        facts = {
            "ok": ok,
            "sink_counts": got,
            "files_written": len(files),
            "bytes_written": sum(p.stat().st_size for p in files),
        }
        shutil.rmtree(out, ignore_errors=True)
        return facts

    def instrument(self, tracer) -> None:
        from opentelemetry_collector_spark.plans import runner
        from opentelemetry_collector_spark.sinks import writers
        from opentelemetry_collector_spark.state import checkpoint, metrics, status

        tracer.wrap(runner, "run_pipeline", "plans.runner.run_pipeline")
        tracer.wrap(writers, "write_sink", "sinks.writers.write_sink")
        tracer.wrap(checkpoint, "run_with_resume", "state.checkpoint.run_with_resume")
        tracer.wrap(checkpoint.LineageManifest, "mark", "state.checkpoint.LineageManifest.mark")
        tracer.wrap(metrics, "collect_pipeline_metrics", "state.metrics.collect_pipeline_metrics")
        tracer.wrap(status, "stop_all", "state.status.stop_all")
        flush = checkpoint.LineageManifest._flush

        def counted_flush(manifest):
            tracer.bump("state.checkpoint.flushes")
            return flush(manifest)

        tracer.replace(checkpoint.LineageManifest, "_flush", counted_flush)
        original = writers.retry_commit

        def retry_commit(fn, *args, **kwargs):
            def attempt():
                tracer.bump("sinks.writers.commit_attempts")
                return fn()

            return original(attempt, *args, **kwargs)

        tracer.replace(writers, "retry_commit", retry_commit)

    def layers(self, spark, tracer, traced, facts) -> dict:
        from pyspark.sql import functions as F

        from opentelemetry_collector_spark.functions import parse
        from opentelemetry_collector_spark.operators import enrich, route
        from opentelemetry_collector_spark.operators.route import QUARANTINE_SINK
        from opentelemetry_collector_spark.plans import pipeline
        from opentelemetry_collector_spark.sources import tables

        n = self.rows
        # lazy layers: noop-sink prefixes of pipeline.routed_frame
        base = tables.read_transcripts(spark, self.sf)
        parsed = parse.with_parsed(base, "native")
        enriched = enrich.enrich_with_defaults(parsed, spark)
        routed = route.with_sink(enriched, list(route.DEFAULT_ROUTES))
        p = tracer.probe_all(
            {
                "sources.tables.read_transcripts": base,
                "functions.parse.with_parsed": parsed,
                "functions.parse.with_parsed_arrow": parse.with_parsed(base, "arrow"),
                "operators.enrich.enrich_with_defaults": enriched,
                "operators.route.with_sink": routed,
                "operators.aggregate.input": routed.select("sink", "conv_id", "ts"),
                "operators.aggregate.sink_window_counts": pipeline.aggregate_frame(routed),
            }
        )
        scan = p["sources.tables.read_transcripts"]
        p_parse = p["functions.parse.with_parsed"]
        p_arrow = p["functions.parse.with_parsed_arrow"]
        p_enrich = p["operators.enrich.enrich_with_defaults"]
        p_route = p["operators.route.with_sink"]
        p_agg_in = p["operators.aggregate.input"]
        p_agg = p["operators.aggregate.sink_window_counts"]
        valid = parsed.agg(F.avg(F.col("valid").cast("double"))).collect()[0][0]
        aggs = sql_values(p_agg, "HashAggregate", "number of output rows")
        sink_totals: dict[str, int] = {}
        for f in facts:
            for s, c in f["sink_counts"].items():
                sink_totals[s] = sink_totals.get(s, 0) + c

        def per_pass(fn):
            return median_over(traced, fn)

        def root(spans):
            return by_name(spans, "plans.runner.run_pipeline")[0]

        def agg_write_gap(spans):
            resume = by_name(spans, "state.checkpoint.run_with_resume")[-1]
            collect = by_name(spans, "state.metrics.collect_pipeline_metrics")[0]
            return collect["start"] - resume["end"]

        def counts(spans, key):
            return sum(s.get("counts", {}).get(key, 0) for s in spans)

        writes = [f for f in facts if "files_written" in f]
        return {
            "sources.tables.scan_s": duration(scan),
            "sources.tables.scan_tasks": scan["stages"]["tasks"],
            "sources.tables.bytes_read": sql_sum(scan, "Scan parquet", "size of files read"),
            "functions.parse.self_s": duration(p_parse) - duration(scan),
            "functions.parse.arrow_self_s": duration(p_arrow) - duration(scan),
            "functions.parse.valid_ratio": float(valid),
            "functions.parse.python_bytes": sql_sum(p_arrow, None, "data sent to Python")
            + sql_sum(p_arrow, None, "data returned from Python"),
            "operators.enrich.self_s": duration(p_enrich) - duration(p_parse),
            "operators.enrich.broadcast_joins": p_enrich["sql"]["nodes"].count(
                "BroadcastHashJoin"
            ),
            "operators.route.self_s": duration(p_route) - duration(p_enrich),
            "operators.route.quarantine_ratio": sink_totals.get(QUARANTINE_SINK, 0)
            / max(1, sum(sink_totals.values())),
            "operators.aggregate.self_s": duration(p_agg) - duration(p_agg_in),
            "operators.aggregate.shuffle_bytes": p_agg["stages"]["shuffle_write_bytes"],
            "operators.aggregate.partial_ratio": (max(aggs) / n) if aggs else 0.0,
            "operators.aggregate.output_rows": min(aggs) if aggs else 0.0,
            "sinks.writers.write_s": per_pass(
                lambda s: _span_total(s, "sinks.writers.write_sink")
            ),
            "sinks.writers.first_sink_s": per_pass(
                lambda s: duration(by_name(s, "sinks.writers.write_sink")[0])
            ),
            "sinks.writers.bytes_written": _median([f["bytes_written"] for f in writes]),
            "sinks.writers.files_written": _median([f["files_written"] for f in writes]),
            "sinks.writers.commit_attempts": per_pass(
                lambda s: counts(s, "sinks.writers.commit_attempts")
            ),
            "state.metrics.collect_s": per_pass(
                lambda s: _span_total(s, "state.metrics.collect_pipeline_metrics")
            ),
            "state.metrics.spark_jobs": per_pass(
                lambda s: _jobs_total(s, "state.metrics.collect_pipeline_metrics")
            ),
            "state.checkpoint.s": per_pass(
                lambda s: _span_total(s, "state.checkpoint.LineageManifest.mark")
            ),
            "state.checkpoint.flushes": per_pass(
                lambda s: counts(s, "state.checkpoint.flushes")
            ),
            "state.status.s": per_pass(
                lambda s: _span_total(s, "state.status.stop_all")
            ),
            "plans.runner.spark_jobs": per_pass(lambda s: inclusive(s, root(s), "jobs")),
            "plans.runner.agg_write_s": per_pass(agg_write_gap),
        }


# ----------------------------------------------------------- wire_roundtrip

CODECS = (
    ("spans_roundtrip", "functions.signalwire"),
    ("metrics_roundtrip", "functions.signalwire"),
    ("proto_roundtrip", "functions.protowire"),
    ("profile_pprof_roundtrip", "functions.profilewire"),
)


class WireRoundtrip(Workload):
    """The four oracle-gated codec round trips from
    ``__spark_entry__.queries()``, each materialised in full."""

    name = "wire_roundtrip"
    sizes = Sizes(turns=8_192, docs=300)

    @property
    def rows(self) -> int:
        return 3 * self.sizes.turns + self.want["profile_samples"]

    @staticmethod
    def expected(sf_dir: Path) -> dict:
        import pyarrow.parquet as pq

        import __spark_entry__ as entry
        from opentelemetry_collector_spark import fixtures

        con = duckdb_connection(sf_dir)
        oracles = entry.oracle_sql()
        samples = pq.read_metadata(fixtures.ensure_profiles()["samples"]).num_rows
        return {
            "fingerprints": {k: duckdb_fingerprint(con, oracles[k]) for k, _ in CODECS},
            "profile_samples": samples,
        }

    def run_pass(self, spark, tag: str):
        import __spark_entry__ as entry

        queries = entry.queries()
        out = {}
        for key, module in CODECS:
            with self.tracer.span(f"{module}.{key}"):
                out[key] = spark_fingerprint(queries[key](spark, self.sf))
        return out

    def verify(self, spark, result) -> dict:
        return {"ok": result == self.want["fingerprints"]}

    def layers(self, spark, tracer, traced, facts) -> dict:
        from pyspark.sql import functions as F

        from opentelemetry_collector_spark.functions import (
            parse,
            pdata,
            profiles,
            profilewire,
            protowire,
            signals,
            signalwire,
        )
        from opentelemetry_collector_spark.sources import tables

        parsed = parse.with_parsed(tables.read_transcripts(spark, self.sf), "native")
        spans = signals.rich_spans_from_turns(parsed)
        encoded = signalwire.encode_spans(spans)
        logs = parsed.withColumn("severity_number", pdata.severity_number(F.col("level")))
        records = protowire.encode_records(logs)
        p = tracer.probe_all(
            {
                "functions.parse.with_parsed": parsed,
                "functions.signals.rich_spans_from_turns": spans,
                "functions.signalwire.encode_spans": encoded,
                "functions.signalwire.decode_spans": signalwire.decode_spans(encoded),
                "functions.pdata.severity_number": logs,
                "functions.protowire.roundtrip": protowire.decode_records(records),
                "functions.profilewire.roundtrip": profilewire.decode_profiles(
                    profilewire.encode_profiles(spark, profiles.read_profile_tables(spark))
                ),
            }
        )
        p_parsed = p["functions.parse.with_parsed"]
        p_spans = p["functions.signals.rich_spans_from_turns"]
        p_enc = p["functions.signalwire.encode_spans"]
        p_dec = p["functions.signalwire.decode_spans"]
        p_logs = p["functions.pdata.severity_number"]
        p_proto = p["functions.protowire.roundtrip"]
        p_prof = p["functions.profilewire.roundtrip"]

        def avg_bytes(df) -> float:
            return float(df.agg(F.avg("proto_bytes")).collect()[0][0])

        return {
            "functions.signals.build_s": duration(p_spans) - duration(p_parsed),
            "functions.signalwire.encode_s": duration(p_enc) - duration(p_spans),
            "functions.signalwire.decode_s": duration(p_dec) - duration(p_enc),
            "functions.signalwire.bytes_per_row": avg_bytes(encoded),
            "functions.signalwire.python_bytes": sql_sum(p_dec, None, "data sent to Python")
            + sql_sum(p_dec, None, "data returned from Python"),
            "functions.protowire.roundtrip_s": duration(p_proto) - duration(p_logs),
            "functions.protowire.bytes_per_row": avg_bytes(records),
            "functions.profilewire.roundtrip_s": duration(p_prof),
        }


def _median(values: list[float]) -> float:
    import statistics

    return float(statistics.median(values)) if values else 0.0


WORKLOADS = {w.name: w for w in (ServiceExport, WireRoundtrip)}


def common_layers(workload: Workload, traced: list[list[dict]]) -> dict:
    """Spark-wide counters and trace health over the traced passes."""

    def root(spans: list[dict]) -> dict:
        return by_name(spans, "pass")[0]

    return {
        "spark.shuffle_bytes": median_over(
            traced, lambda s: sum(x["stages"]["shuffle_write_bytes"] for x in s)
        ),
        "spark.spill_bytes": median_over(
            traced, lambda s: sum(x["stages"]["spill_bytes"] for x in s)
        ),
        "spark.jobs": median_over(traced, lambda s: sum(x["jobs"] for x in s)),
        "trace.coverage": median_over(
            traced, lambda s: coverage(s, root(s), workload.containers)
        ),
    }
