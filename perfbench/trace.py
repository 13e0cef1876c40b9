"""Spans and Spark counters for the traced run.

Spans are opened from the benchmark's own code around calls into each
layer: either explicitly (``Tracer.span``) or by wrapping a public
function of the package for the duration of the run (``Tracer.wrap``).
Each span tags the Spark jobs it starts with its own job group, so
after the span closes the jobs, stages and stage counters it caused are
read back from Spark's status store. Spans live in memory until
``Tracer.write`` dumps them at the end of the run.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

_STAGE_FIELDS = {
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes": "diskBytesSpilled",
    "tasks": "numTasks",
}

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_sql_metric(text: str, kind: str) -> float:
    """Value of one SQL metric as the SQL status store renders it:
    ``'120,000'`` (sum), ``'4.0 MiB'`` or ``'total (min, med, max ...)\n
    7.0 MiB (...)'`` (size, timing): the first number of the last line,
    scaled by its unit to bytes or seconds."""
    m = re.search(r"([0-9][0-9.,]*)\s*([A-Za-z]*)", text.split("\n")[-1])
    if m is None:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if kind == "size":
        return value * _SIZE.get(unit, 1)
    if kind in ("timing", "nsTiming"):
        return value * _TIME.get(unit, 1e-3)
    return value


class Tracer:
    """Collects spans for one benchmark run.

    ``enabled`` switches recording on and off between passes; wrapped
    functions call straight through while it is off.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.pass_id: str | None = None
        self._stack: list[dict] = []
        self._next_id = 0
        self._wrapped: list[tuple[object, str, object]] = []
        self._sc = None
        self._spark = None
        self._jvm = None

    def bind(self, spark) -> None:
        """Point the tracer at a (new) SparkSession."""
        self._sc = spark.sparkContext
        self._spark = spark
        self._jvm = spark.sparkContext._jvm

    # -------------------------------------------------------------- spans

    def _group(self, rec: dict) -> str:
        return f"perfbench-span-{rec['id']}"

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "parent": parent["id"] if parent else None,
            "pass": self.pass_id,
            "name": name,
            **attrs,
        }
        self._next_id += 1
        sql_before = self._sql_store().executionsCount() if attrs.get("sql") else 0
        self._sc.setJobGroup(self._group(rec), name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(self._group(parent), parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._read_counters(rec, sql_before)
            self.spans.append(rec)

    def bump(self, key: str, n: int = 1) -> None:
        """Add to a count on the innermost open span."""
        if self.enabled and self._stack:
            counts = self._stack[-1].setdefault("counts", {})
            counts[key] = counts.get(key, 0) + n

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until ``unwrap_all``."""
        self._wrapped.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Run every call of ``owner.attr`` inside a span named ``name``."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self.replace(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._wrapped):
            setattr(owner, attr, original)
        self._wrapped.clear()

    # ------------------------------------------------------ spark counters

    def _sql_store(self):
        return self._spark._jsparkSession.sharedState().statusStore()

    def _read_counters(self, rec: dict, sql_before: int) -> None:
        """Jobs, stage counters and SQL plan metrics of the jobs that ran
        under this span's own job group (children have their own)."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(self._group(rec))
        stages = {s for j in jobs for s in (tracker.getJobInfo(j).stageIds or ())}
        totals = dict.fromkeys(_STAGE_FIELDS, 0)
        for stage in stages:
            data = store.lastStageAttempt(stage)
            if str(data.status()) == "SKIPPED":
                continue
            for key, getter in _STAGE_FIELDS.items():
                totals[key] += int(getattr(data, getter)())
        rec["jobs"] = len(jobs)
        rec["stages"] = totals
        if rec.get("sql"):
            rec["sql"] = self._sql_metrics_since(sql_before)

    def _sql_metrics_since(self, before: int) -> dict:
        """Plan node names and [node, metric, value] triples of every SQL
        execution started since ``before`` executions existed; the
        status store holds the final adaptive plan once it has run."""
        store = self._sql_store()
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        count = store.executionsCount()
        nodes: list[str] = []
        metrics: list[list] = []
        for ex in conv.asJava(store.executionsList(before, count - before)):
            eid = ex.executionId()
            values = conv.asJava(store.executionMetrics(eid))
            for node in conv.asJava(store.planGraph(eid).allNodes()):
                name = node.name().strip()
                nodes.append(name)
                for m in conv.asJava(node.metrics()):
                    text = values.get(m.accumulatorId())
                    if text is not None:
                        metrics.append(
                            [name, m.name(), parse_sql_metric(text, m.metricType())]
                        )
        return {"nodes": nodes, "metrics": metrics}

    # ------------------------------------------------------------- probes

    def probe(self, name: str, df) -> dict:
        """Materialise every column of ``df`` with the noop sink inside a
        span that also records the executed plan's SQL metrics."""
        with self.span(name, sql=True) as rec:
            df.write.format("noop").mode("overwrite").save()
        return rec

    def probe_all(self, frames: dict, reps: int = 3) -> dict[str, dict]:
        """Probe every frame ``reps`` times, round-robin, and keep per
        name the record with the median duration."""
        recs: dict[str, list[dict]] = {name: [] for name in frames}
        for _ in range(reps):
            for name, df in frames.items():
                recs[name].append(self.probe(name, df))
        return {
            name: sorted(rs, key=duration)[len(rs) // 2] for name, rs in recs.items()
        }

    # ------------------------------------------------------------- output

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")


# ------------------------------------------------------------ span algebra

def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def inclusive(spans: list[dict], rec: dict, key: str) -> float:
    """``key`` (``'jobs'`` or a stage counter) of ``rec`` plus all its
    descendants."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def total(r: dict) -> float:
        own = r["jobs"] if key == "jobs" else r["stages"][key]
        return own + sum(total(c) for c in kids.get(r["id"], ()))

    return total(rec)


def coverage(spans: list[dict], root: dict, skip: tuple[str, ...] = ()) -> float:
    """Share of ``root``'s wall time covered by the other spans of its
    pass, leaving out container spans named in ``skip``."""
    ivs = sorted(
        (s["start"], s["end"])
        for s in spans
        if s is not root and s["name"] not in skip
    )
    covered, cur_start, cur_end = 0.0, None, None
    for a, b in ivs:
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return covered / duration(root)


def sql_sum(rec: dict, node: str | None = None, metric: str | None = None) -> float:
    """Sum of SQL metric values on nodes whose name starts with ``node``
    and whose metric name starts with ``metric``."""
    return sum(
        v for n, m, v in rec["sql"]["metrics"]
        if (node is None or n.startswith(node))
        and (metric is None or m.startswith(metric))
    )


def sql_values(rec: dict, node: str, metric: str) -> list[float]:
    return [
        v for n, m, v in rec["sql"]["metrics"]
        if n.startswith(node) and m.startswith(metric)
    ]


def median_over(passes: list[list[dict]], fn) -> float:
    """Median over traced passes of ``fn(spans_of_pass)``."""
    vals = [fn(p) for p in passes]
    return float(statistics.median(vals)) if vals else 0.0


def by_name(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]
