"""Span recording, span self time, and readers for Spark's own run records.

Spans are kept in memory and written out once, at the end of a run.  Each
span carries the trace id of the operation it belongs to, so every Spark job
a layer call starts can be charged to it: the recorder sets the Spark job
group to ``<trace_id>/<span_id>`` around each span, and the local event log
(``spark.eventLog.enabled``) names that group on every job it records.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    trace_id: str
    name: str
    start: float
    end: float

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent_id is not None:
            children[s.parent_id].append((s.start, s.end))
    return {
        s.span_id: s.duration - _covered(children[s.span_id], s.start, s.end)
        for s in spans
    }


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Summed self time per span name."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += st[s.span_id]
    return dict(out)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing.

    ``on_enter(group)`` is called with the job-group id of the innermost open
    span (or ``None`` when the outermost one closes), so the caller can label
    the Spark jobs that span starts.
    """

    def __init__(self, enabled: bool, on_enter=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[tuple[int, str]] = []
        self._next_id = 0
        self._next_trace = 0
        self._on_enter = on_enter or (lambda group: None)

    @staticmethod
    def group_of(trace_id: str, span_id: int) -> str:
        return f"{trace_id}/{span_id}"

    @contextmanager
    def span(self, name: str, new_trace: bool = False):
        """Record one span; ``new_trace`` starts a new operation's trace id."""
        if not self.enabled:
            yield
            return
        if new_trace or not self._stack:
            self._next_trace += 1
            trace_id = f"t{self._next_trace}"
        else:
            trace_id = self._stack[-1][1]
        span_id = self._next_id
        self._next_id += 1
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((span_id, trace_id))
        self._on_enter(self.group_of(trace_id, span_id))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(span_id, parent, trace_id, name, start, end))
            self._on_enter(
                self.group_of(self._stack[-1][1], self._stack[-1][0])
                if self._stack
                else None
            )

    @contextmanager
    def paused(self):
        """Record nothing inside this block (untraced ops of a traced run)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({**asdict(s), "self_s": st[s.span_id]}) + "\n")


# --- Spark event log ---------------------------------------------------------

_PY_METRICS = {
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_boot_ms",
}


def read_event_log(path: Path) -> dict[str, dict[str, float]]:
    """Job group -> summed stage and task metrics from a local event log.

    Task metrics come from task-end events; the Python-worker SQL metrics
    (bytes sent and returned, run and start time) from the accumulables of
    completed stages.  Times are in ms (cpu in ns) as Spark writes them.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                out[group]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                g = out[stage_group.get(e["Stage ID"], "")]
                g["tasks"] += 1
                if e.get("Task End Reason", {}).get("Reason") != "Success":
                    g["failed_tasks"] += 1
                m = e.get("Task Metrics") or {}
                g["executor_run_ms"] += m.get("Executor Run Time", 0)
                g["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
                g["gc_ms"] += m.get("JVM GC Time", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                g = out[stage_group.get(info["Stage ID"], "")]
                for acc in info.get("Accumulables", []):
                    key = _PY_METRICS.get(acc.get("Name"))
                    if key is not None:
                        g[key] += float(acc.get("Value") or 0)
    return {k: dict(v) for k, v in out.items()}


def metrics_for_groups(
    by_group: dict[str, dict[str, float]], groups: set[str]
) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for g in groups:
        for k, v in by_group.get(g, {}).items():
            out[k] += v
    return dict(out)


def planning_seconds(df) -> float:
    """Analysis + optimization + planning time of ``df``'s query, in s.

    Read from the query-planning tracker after the action ran.
    """
    phases = df._jdf.queryExecution().tracker().phases()
    jvm = df.sparkSession.sparkContext._jvm
    jmap = jvm.scala.jdk.javaapi.CollectionConverters.asJava(phases)
    return sum(jmap.get(k).durationMs() for k in jmap.keySet()) / 1000.0
