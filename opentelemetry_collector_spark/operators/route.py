"""Routing connector: fan one stream out to a selected subset of sinks.

Semantics from the reference's connector router
(connector/logs_router.go:19-70: Consumer(pipelineIDs...) → fanout of
that subset) + fanoutconsumer (internal/fanoutconsumer/logs.go:21-78).

Spark-first shape: routing is a single CASE expression producing a
``sink`` column — a pure function of row columns only (never of time,
partition id, or randomness), so replays under retry are deterministic
(SURVEY.md §7). Fan-out evaluates the routed frame ONCE (persist) and
then writes every sink in one partitioned job (plans/runner) or hands
out per-sink filtered slices (fan_out); DataFrame immutability
replaces the reference's clone-on-mutate logic.

First-match-wins rule order mirrors the router's ordered pipeline
selection. Invalid (unparseable) rows short-circuit to the quarantine
sink — the permanent-error drop path (retry_sender.go:100-102,
consumer/consumererror/permanent.go).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Route:
    """One routing rule: SQL predicate over row columns → sink name."""

    route_id: str
    predicate: str  # ANSI-SQL boolean expression (engine-portable subset)
    sink: str


QUARANTINE_SINK = "sink_quarantine"
DEFAULT_SINK = "sink_default"

# Fixture routing spec (FIXTURES.md §3). First match wins.
DEFAULT_ROUTES: list[Route] = [
    Route("r_tool_py", "role = 'tool' AND tool = 'python'", "sink_py"),
    Route("r_assistant", "role = 'assistant'", "sink_llm"),
    Route("r_error", "level = 'ERROR'", "sink_err"),
]


def sink_expr(
    routes: list[Route] | None = None,
    default_sink: str = DEFAULT_SINK,
    quarantine: bool = True,
) -> Column:
    routes = DEFAULT_ROUTES if routes is None else routes
    expr: Column | None = None
    if quarantine:
        expr = F.when(~F.col("valid"), F.lit(QUARANTINE_SINK))
    for r in routes:
        expr = (expr.when if expr is not None else F.when)(
            F.expr(r.predicate), F.lit(r.sink)
        )
    if expr is None:
        # legal collector config: no routes, no quarantine →
        # everything to the default sink
        return F.lit(default_sink)
    return expr.otherwise(F.lit(default_sink))


def with_sink(
    df: DataFrame, routes: list[Route] | None = None, quarantine: bool = True
) -> DataFrame:
    return df.withColumn("sink", sink_expr(routes, quarantine=quarantine))


def oracle_sink_fragment(
    routes: list[Route] | None = None,
    default_sink: str = DEFAULT_SINK,
    quarantine: bool = True,
) -> str:
    """The same CASE expression as ANSI SQL for the DuckDB oracle."""
    routes = DEFAULT_ROUTES if routes is None else routes
    whens = []
    if quarantine:
        whens.append(f"WHEN NOT valid THEN '{QUARANTINE_SINK}'")
    for r in routes:
        whens.append(f"WHEN {r.predicate} THEN '{r.sink}'")
    if not whens:  # CASE with no WHEN is a SQL parse error
        return f"'{default_sink}'"
    return "CASE " + " ".join(whens) + f" ELSE '{default_sink}' END"


def all_sinks(routes: list[Route] | None = None) -> list[str]:
    routes = DEFAULT_ROUTES if routes is None else routes
    return sorted({r.sink for r in routes} | {DEFAULT_SINK, QUARANTINE_SINK})


def fan_out(
    df: DataFrame, routes: list[Route] | None = None
) -> dict[str, DataFrame]:
    """Route and split into per-sink frames over ONE persisted evaluation.

    The caller owns the returned frames' lifetime; unpersist via
    ``frames["__routed__"].unpersist()`` when done. Mirrors
    fanoutconsumer's evaluate-once obligation (SURVEY.md §2.3).
    """
    routed = with_sink(df, routes).persist()
    out: dict[str, DataFrame] = {"__routed__": routed}
    for s in all_sinks(routes):
        out[s] = routed.filter(F.col("sink") == s)
    return out
