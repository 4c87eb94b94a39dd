"""Spans recorded around calls into the package, and the Spark event
log of the traced run aggregated per span.

A span is ``(id, name, parent, start, end)`` in wall-clock seconds.
Spans are kept in memory; the run writes them out when it ends. While a
span is open the tracer tags Spark jobs with ``setJobGroup("span-<id>")``
so the event log can attribute every job, stage and task to the span
that launched it.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; a disabled tracer records nothing and
    touches no Spark state, so untraced runs pay no tracing cost."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(parent)

    def _tag(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{s.id}", s.name)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {
        s.id: s.duration - covered(kids[s.id], s.start, s.end) for s in spans
    }


def descendants(spans: list[Span], root: int) -> list[Span]:
    """``root`` and every span below it."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out, todo = [], [s for s in spans if s.id == root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids[s.id])
    return out


# -- event log ---------------------------------------------------------------

#: stage accumulables of the Python exec nodes, by the name Spark gives them
PY_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


@dataclass
class GroupStats:
    """Everything the event log says about the jobs of one span."""

    jobs: list[tuple[float, float]] = field(default_factory=list)
    stages: int = 0
    stages_retried: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))


def _task_counters(ev: dict, out: dict[str, float]) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    run = m.get("Executor Run Time", 0)
    deser = m.get("Executor Deserialize Time", 0)
    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    out["task_run_ms"] += run
    out["task_deserialize_ms"] += deser
    out["task_cpu_ns"] += m.get("Executor CPU Time", 0)
    out["gc_ms"] += m.get("JVM GC Time", 0)
    # the Spark UI's scheduler delay: task wall time not spent running,
    # deserializing, serializing the result or fetching it
    out["scheduler_wait_ms"] += max(
        0, dur - run - deser - m.get("Result Serialization Time", 0)
        - info.get("Getting Result Time", 0))
    out["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    out["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    im = m.get("Input Metrics") or {}
    out["input_bytes"] += im.get("Bytes Read", 0)
    out["input_rows"] += im.get("Records Read", 0)


def _group_of(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def aggregate_event_log(lines) -> dict[str, GroupStats]:
    """Per job group: job intervals (seconds), stage and task counts,
    task metrics summed, Python-worker accumulables and cache block
    stores. Block updates carry no group, so each is charged to the
    group of the most recently started job."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_start: dict[int, tuple[str, float]] = {}
    stage_group: dict[int, str] = {}
    current = None
    seen_blocks: set[str] = set()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group_of(ev.get("Properties"))
            current = g
            if g is not None:
                job_start[ev["Job ID"]] = (g, ev["Submission Time"] / 1000)
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            started = job_start.pop(ev["Job ID"], None)
            if started is not None:
                g, t0 = started
                groups[g].jobs.append((t0, ev["Completion Time"] / 1000))
        elif kind == "SparkListenerStageSubmitted":
            g = _group_of(ev.get("Properties"))
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g is None:
                continue
            st = groups[g]
            st.stages += 1
            st.stages_retried += info.get("Stage Attempt ID", 0) > 0
            for acc in info.get("Accumulables", []):
                key = PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    st.counters[key] += float(acc.get("Value") or 0)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            if g is None:
                continue
            st = groups[g]
            st.tasks += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            st.tasks_failed += reason != "Success"
            _task_counters(ev, st.counters)
        elif kind == "SparkListenerBlockUpdated":
            info = ev.get("Block Updated Info", {})
            bid = str(info.get("Block ID", ""))
            size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
            if current is not None and bid.startswith("rdd_") and size > 0:
                st = groups[current]
                st.counters["cache_bytes"] += size
                if bid not in seen_blocks:
                    seen_blocks.add(bid)
                    st.counters["cache_blocks"] += 1
    return groups
