"""Measurement plumbing shared by the workloads: operation accounting,
percentiles, host-noise and memory readings, spans, the streaming
progress listener and the Spark event-log reader.

Nothing here imports pyspark at module load, so the pure helpers
(percentiles, accounting, spans, event-log parsing) are usable and
testable without a JVM.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import time
from dataclasses import dataclass, field

TAIL_BEYOND = 10


class StreamTimeout(RuntimeError):
    """A streaming query did not finish in its time limit; it has been
    stopped."""


# -- statistics --------------------------------------------------------


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values, beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``. With ``n`` sorted samples the
    value is the ``beyond + 1``-th largest, which has exactly ``beyond``
    samples beyond it; its percentile is ``100 * (n - beyond) / n``.
    With ``n <= beyond`` no such percentile exists and the maximum is
    returned with percentile 100, so a short run still reports its
    worst case.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return float(s[-1]), 100.0, n
    return float(s[n - beyond - 1]), 100.0 * (n - beyond) / n, n


# -- operation accounting ------------------------------------------------


@dataclass
class Ops:
    """Attempted and failed operations of a run: micro-batches, lookups,
    catalog entries and correctness checks. Failures are kept by name so
    the run can say what failed."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str, n: int = 1) -> None:
        self.attempted += n
        self.failed += n
        self.failures.append(what)

    def check(self, what: str, passed: bool) -> bool:
        if passed:
            self.ok()
        else:
            self.fail(f"check failed: {what}")
        return passed

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# -- host context ----------------------------------------------------------


def cpu_times() -> dict[str, int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()[1:]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {k: int(v) for k, v in zip(names, parts)}


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


class HostNoise:
    """Steal and iowait over the run, load before and after: recorded as
    context for reading the numbers, never used as a gate."""

    def __init__(self) -> None:
        self.t0 = cpu_times()
        self.load0 = loadavg()

    def report(self) -> dict:
        t1 = cpu_times()
        d = {k: t1[k] - self.t0[k] for k in t1}
        total = sum(d.values()) or 1
        return {
            "steal_pct": round(100.0 * d.get("steal", 0) / total, 3),
            "iowait_pct": round(100.0 * d.get("iowait", 0) / total, 3),
            "loadavg_before": self.load0,
            "loadavg_after": loadavg(),
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        }


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        try:
            with open(f"/proc/{jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    once at exit. With ``enabled=False`` every call is a no-op, so the
    untraced run pays nothing for it; ``set_group`` is the hook that tags
    Spark jobs with the current span."""

    def __init__(self, run_id: str, enabled: bool, set_group=None) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.set_group = set_group
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def _open(self, name: str, attrs: dict) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.set_group is not None:
            self.set_group(f"span-{s.id}", name)
        return s

    def _close(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.time()
        self._stack.pop()
        if self.set_group is not None:
            top = self._stack[-1] if self._stack else None
            self.set_group(f"span-{top.id}" if top else None, top.name if top else "")

    def innermost(self, ts: float) -> Span | None:
        """The deepest span whose interval holds the wall time ``ts``."""
        best = None
        for s in self.spans:
            if s.start <= ts <= (s.end or ts):
                if best is None or s.start >= best.start:
                    best = s
        return best

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, last = 0.0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s.id] = max(0.0, (s.end - s.start) - covered)
        return out

    def to_json(self) -> list[dict]:
        selfs = self.self_times()
        return [
            {
                "run_id": self.run_id,
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": round(selfs[s.id], 6),
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        self.span = self.tracer._open(self.name, self.attrs)
        return self.span

    def __exit__(self, *exc):
        self.tracer._close(self.span)
        return False


# -- streaming progress ------------------------------------------------------


def progress_rows(progress: list[dict]) -> list[dict]:
    """Flatten micro-batch progress dicts (``StreamingQuery.recentProgress``
    or listener events) into one record per batch that read input."""
    rows = []
    for p in progress:
        d = p.get("durationMs", {})
        if not p.get("numInputRows"):
            continue
        rows.append(
            {
                "batch_id": p["batchId"],
                "start": _iso_epoch(p["timestamp"]),
                "rows": int(p["numInputRows"]),
                "trigger_ms": d.get("triggerExecution", 0),
                "latest_offset_ms": d.get("latestOffset", 0),
                "get_batch_ms": d.get("getBatch", 0),
                "query_planning_ms": d.get("queryPlanning", 0),
                "add_batch_ms": d.get("addBatch", 0),
                "wal_commit_ms": d.get("walCommit", 0),
                "commit_offsets_ms": d.get("commitOffsets", 0),
            }
        )
    return rows


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return (
        datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def make_progress_listener(sink: list):
    """A session StreamingQueryListener appending every progress update
    (as a dict) to ``sink``; ``recentProgress`` keeps only the last 100."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def await_stream(query, timeout_s: float, name: str) -> None:
    """Wait for an AvailableNow query; on timeout stop it and raise
    :class:`StreamTimeout` naming it. Never relies on ``assert``, so the
    behaviour is the same under ``python -O``."""
    try:
        finished = query.awaitTermination(timeout_s)
    finally:
        if query.isActive:
            query.stop()
    if not finished:
        raise StreamTimeout(f"stream {name!r} did not finish in {timeout_s:.0f}s")


# -- Spark event log ---------------------------------------------------------

# SQL metrics of the plan nodes that run Python workers (MapInPandas,
# ArrowEvalPython, ...), keyed by metric name.
PY_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "number of output rows": "python_rows",
    "time to run Python workers": "python_run_ms",
}
PY_NODE_MARKERS = ("Python", "Pandas", "InArrow")


@dataclass
class JobRecord:
    job_id: int
    submitted: float
    group: str | None
    stages: list[int]


@dataclass
class StageTotals:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    python: dict = field(default_factory=dict)

    def add(self, other: "StageTotals") -> None:
        for k in (
            "tasks", "run_s", "cpu_s", "gc_s", "input_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "output_bytes",
        ):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for k, v in other.python.items():
            self.python[k] = self.python.get(k, 0) + v


SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_PLAN = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_AQE_METRICS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveSQLMetricUpdates"
)
SQL_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


class EventLog:
    """Jobs, per-stage task totals and driver-side SQL metrics (files
    read and written) read from one Spark JSON event log."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, JobRecord] = {}
        self.stages: dict[int, StageTotals] = {}
        self.exec_start: dict[int, float] = {}
        self.acc_names: dict[int, str] = {}
        self.py_accs: dict[int, tuple[str, float]] = {}
        self.driver_updates: list[tuple[int, int, int]] = []
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _plan(self, node: dict) -> None:
        is_py = any(k in node.get("nodeName", "") for k in PY_NODE_MARKERS)
        for mt in node.get("metrics", []):
            self.acc_names[mt["accumulatorId"]] = mt["name"]
            if is_py and mt["name"] in PY_METRICS:
                scale = 1e-6 if mt.get("metricType") == "nsTiming" else 1.0
                self.py_accs[mt["accumulatorId"]] = (PY_METRICS[mt["name"]], scale)
        for child in node.get("children", []):
            self._plan(child)

    def driver_metric(self, name: str, t0: float, t1: float) -> int:
        """Sum of a driver-side SQL metric over executions started in
        ``[t0, t1]`` (e.g. ``number of files read``)."""
        return sum(
            v for ex, acc, v in self.driver_updates
            if self.acc_names.get(acc) == name
            and t0 <= self.exec_start.get(ex, -1.0) <= t1
        )

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == SQL_START:
            self.exec_start[ev["executionId"]] = ev["time"] / 1000.0
            self._plan(ev.get("sparkPlanInfo") or {})
        elif kind == SQL_AQE_PLAN:
            self._plan(ev.get("sparkPlanInfo") or {})
        elif kind == SQL_AQE_METRICS:
            for mt in ev.get("sqlPlanMetrics", []):
                self.acc_names[mt["accumulatorId"]] = mt["name"]
        elif kind == SQL_DRIVER_ACCUMS:
            for acc, v in ev.get("accumUpdates", []):
                self.driver_updates.append((ev["executionId"], acc, int(v)))
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = JobRecord(
                ev["Job ID"],
                ev["Submission Time"] / 1000.0,
                props.get("spark.jobGroup.id"),
                list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(ev["Stage ID"], StageTotals())
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.run_s += m.get("Executor Run Time", 0) / 1000.0
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            srm = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += srm.get("Remote Bytes Read", 0) + srm.get(
                "Local Bytes Read", 0
            )
            swm = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += swm.get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            om = m.get("Output Metrics") or {}
            st.output_bytes += om.get("Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                py = self.py_accs.get(acc.get("ID"))
                if py is not None:
                    key, scale = py
                    st.python[key] = st.python.get(key, 0) + scale * float(
                        acc.get("Update") or 0
                    )

    def totals(self, jobs) -> StageTotals:
        out = StageTotals()
        for j in jobs:
            for sid in j.stages:
                if sid in self.stages:
                    out.add(self.stages[sid])
        return out

    def stage_count(self, jobs) -> int:
        return sum(1 for j in jobs for sid in j.stages if sid in self.stages)

    def jobs_between(self, t0: float, t1: float) -> list[JobRecord]:
        return [j for j in self.jobs.values() if t0 <= j.submitted <= t1]


def latest_event_log(directory: str) -> str | None:
    files = [
        os.path.join(directory, f)
        for f in os.listdir(directory)
        if not f.endswith(".inprogress") and not f.startswith(".")
    ]
    return max(files, key=os.path.getmtime) if files else None
