"""Component status reporting: the componentstatus lifecycle surface.

The reference reports per-component lifecycle events while starting,
running, and stopping the graph (service/internal/graph/graph.go:
442-450 StartAll reports StatusStarting before Start and StatusOK
after; :488 StopAll reports StatusStopping/StatusStopped;
component/componentstatus/status.go defines the event kinds and the
legal transition machine, statuswatcher aggregation rules).

Spark-first: a ``StatusReporter`` records the same event stream around
each unit of driver-side work (source scan kickoff, per-sink commit,
teardown). Events carry a monotonically increasing sequence number
instead of wall-clock timestamps so replays are deterministic; the
event table is written next to the metrics table and queryable like
any other frame.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from opentelemetry_collector_spark.state.metrics import driver_rows_frame

STARTING = "StatusStarting"
OK = "StatusOK"
RECOVERABLE_ERROR = "StatusRecoverableError"
PERMANENT_ERROR = "StatusPermanentError"
FATAL_ERROR = "StatusFatalError"
STOPPING = "StatusStopping"
STOPPED = "StatusStopped"

# Legal transitions (componentstatus/status.go fsm): None → Starting;
# Starting → OK/RecoverableError/PermanentError/FatalError/Stopping;
# OK ⇄ RecoverableError; error states may recover to OK or stop;
# Stopping → Stopped; Stopped and FatalError are terminal.
_TRANSITIONS: dict[str | None, tuple[str, ...]] = {
    None: (STARTING,),
    STARTING: (OK, RECOVERABLE_ERROR, PERMANENT_ERROR, FATAL_ERROR, STOPPING),
    OK: (OK, RECOVERABLE_ERROR, PERMANENT_ERROR, FATAL_ERROR, STOPPING),
    # STARTING re-entry: a recoverable unit is replayed from the top in
    # this engine (unit-of-work restart), unlike the reference's
    # in-process retry which stays within the exporter
    RECOVERABLE_ERROR: (
        STARTING, OK, RECOVERABLE_ERROR, PERMANENT_ERROR, FATAL_ERROR, STOPPING,
    ),
    PERMANENT_ERROR: (STOPPING,),
    FATAL_ERROR: (),
    STOPPING: (STOPPED,),
    STOPPED: (),
}

STATUS_SCHEMA = "seq long, component string, status string, error string"


class StatusTransitionError(ValueError):
    """componentstatus fsm invalid-transition analog."""


@dataclass
class StatusReporter:
    events: list[tuple[int, str, str, str | None]] = field(default_factory=list)
    current: dict[str, str] = field(default_factory=dict)
    _seq: int = 0

    def report(self, component: str, status: str, error: str | None = None) -> None:
        prev = self.current.get(component)
        if status not in _TRANSITIONS.get(prev, ()):
            raise StatusTransitionError(
                f"invalid status transition for {component!r}: "
                f"{prev} → {status}"
            )
        self._seq += 1
        self.events.append((self._seq, component, status, error))
        self.current[component] = status

    def aggregate(self) -> str:
        """Collector-level effective status (statuswatcher aggregation:
        the most severe current component status wins)."""
        order = [
            FATAL_ERROR, PERMANENT_ERROR, RECOVERABLE_ERROR,
            STARTING, STOPPING, STOPPED, OK,
        ]
        for s in order:
            if s in self.current.values():
                return s
        return OK

    def to_df(self, spark: SparkSession) -> DataFrame:
        return driver_rows_frame(spark, self.events, STATUS_SCHEMA)


def run_reported(reporter: StatusReporter, component: str | list[str], fn):
    """Run one unit of work for one component, or for several at once
    (one fan-out job serving many exporters), under lifecycle
    reporting: Starting → fn() → OK; PermanentError/other exceptions are
    reported and re-raised (graph.go:442-450 semantics — a component
    that reports its own status during Start is not overwritten; here
    fn owns the work and the reporter owns the envelope)."""
    from opentelemetry_collector_spark.sinks.writers import PermanentError

    components = [component] if isinstance(component, str) else component

    def report_all(status: str, error: str | None = None) -> None:
        for c in components:
            reporter.report(c, status, error)

    report_all(STARTING)
    try:
        out = fn()
    except PermanentError as e:
        report_all(PERMANENT_ERROR, str(e))
        raise
    except Exception as e:  # noqa: BLE001 — retryable/unknown
        report_all(RECOVERABLE_ERROR, str(e))
        raise
    report_all(OK)
    return out


def stop_all(reporter: StatusReporter) -> None:
    """StopAll analog: every non-terminal component → Stopping → Stopped."""
    for comp, cur in sorted(reporter.current.items()):
        if cur in (STOPPED, FATAL_ERROR):
            continue
        reporter.report(comp, STOPPING)
        reporter.report(comp, STOPPED)
