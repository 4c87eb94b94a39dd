"""Per-layer metrics of a traced run.

Every value is a mean per op over the traced window, except the
``session.*`` set-up times (once per run), ``failed_ratio``,
``peak_rss_mb``, ``call_tail_s`` and ``trace.*``. Layers that a
workload does not cross report 0.
"""

from __future__ import annotations

import glob
import os
import statistics
from collections import defaultdict

from spans import aggregate_event_log, covered, descendants, self_times
from stats import TooFewSamples, hd_median, percentile

#: span name → per-layer metric of its self time
SPAN_METRICS = {
    "sources.parse": "sources.parse_s",
    "engine.build": "engine.build_s",
    "queries.build": "queries.build_s",
    "catalyst.plan": "catalyst.plan_s",
    "sink.write": "sink.write_s",
}
BUILD_SPANS = ("engine.build", "queries.build")
#: event-log counter → (metric, scale to the metric's unit)
COUNTERS = {
    "task_run_ms": ("exec.task_run_s", 1e-3),
    "task_deserialize_ms": ("exec.task_deserialize_s", 1e-3),
    "task_cpu_ns": ("exec.task_cpu_s", 1e-9),
    "gc_ms": ("exec.gc_s", 1e-3),
    "scheduler_wait_ms": ("exec.scheduler_wait_s", 1e-3),
    "shuffle_write_bytes": ("shuffle.write_bytes", 1),
    "shuffle_read_bytes": ("shuffle.read_bytes", 1),
    "fetch_wait_ms": ("shuffle.fetch_wait_s", 1e-3),
    "input_bytes": ("scan.input_bytes", 1),
    "input_rows": ("scan.input_rows", 1),
    "spill_bytes": ("spill.bytes", 1),
    "python.run_ms": ("python.run_s", 1e-3),
    "python.boot_ms": ("python.boot_s", 1e-3),
    "python.bytes_sent": ("python.bytes_sent", 1),
    "python.bytes_received": ("python.bytes_received", 1),
    "cache_bytes": ("cache.bytes_stored", 1),
    "cache_blocks": ("cache.blocks", 1),
}


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("ratio"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("nproc"):
        return "cpus"
    return "count"


def sink_stats(paths: list[str]) -> tuple[int, int]:
    """(files, bytes) of the data files under the given sink dirs."""
    n = size = 0
    for p in paths:
        for f in glob.glob(os.path.join(p, "part-*")):
            n += 1
            size += os.path.getsize(f)
    return n, size


def op_accounts(spans, groups) -> list[dict]:
    """Per op of the traced window: wall time, self time per layer, and
    how much of the wall time had a Spark job running."""
    selfs = self_times(spans)
    out = []
    for op in (s for s in spans if s.name.startswith("op:")):
        tree = descendants(spans, op.id)
        layer = defaultdict(float)
        jobs, action_jobs, eager = [], [], 0
        stats = defaultdict(float)
        for s in tree:
            layer["op.self_s" if s is op else s.name] += selfs[s.id]
            g = groups.get(f"span-{s.id}")
            if g is None:
                continue
            jobs += g.jobs
            if s.name == "sink.write":
                action_jobs += g.jobs
            if s.name in BUILD_SPANS:
                eager += len(g.jobs)
            stats["exec.jobs"] += len(g.jobs)
            stats["exec.stages"] += g.stages
            stats["exec.tasks"] += g.tasks
            stats["exec.tasks_failed"] += g.tasks_failed
            stats["exec.stages_retried"] += g.stages_retried
            for key, value in g.counters.items():
                metric, scale = COUNTERS[key]
                stats[metric] += value * scale
        busy = covered(jobs, op.start, op.end)
        stats["exec.action_s"] = covered(action_jobs, op.start, op.end)
        stats["exec.driver_idle_s"] = op.duration - busy
        stats["build.eager_jobs"] = eager
        out.append({"op": op.name[3:], "span": op.id, "wall_s": op.duration,
                    "self_s": dict(layer), "jobs_busy_s": busy, **stats})
    return out


def per_layer(wl, tracer, win, event_log, written, *,
              get_spark_s: float, warmup_s: float, failed_ratio: float,
              rss_mb: float, nproc: int) -> tuple[dict, list[dict]]:
    """The per-layer metrics, and the per-op accounts they average."""
    groups = aggregate_event_log(event_log)
    accounts = op_accounts(tracer.spans, groups)
    n = max(len(accounts), 1)
    m: dict[str, float] = defaultdict(float)
    for metric in SPAN_METRICS.values():
        m[metric] = 0.0
    for metric, _ in COUNTERS.values():
        m[metric] = 0.0
    for a in accounts:
        for span, s in a["self_s"].items():
            m[SPAN_METRICS.get(span, span)] += s / n
        for key in ("exec.jobs", "exec.stages", "exec.tasks", "exec.tasks_failed",
                    "exec.stages_retried", "exec.action_s", "exec.driver_idle_s",
                    "build.eager_jobs", *(c for c, _ in COUNTERS.values())):
            m[key] += a.get(key, 0.0) / n
    files, size = sink_stats([w.path for w in written])
    m["sink.files"] = files / n
    m["sink.output_bytes"] = size / n
    m["sources.payload_bytes"] = statistics.fmean(
        [wl.payload_bytes(op) for op in win.ops]) if win.ops else 0.0
    m["session.get_spark_s"] = get_spark_s
    m["session.nproc"] = nproc
    m["session.warmup_s"] = warmup_s
    m["failed_ratio"] = failed_ratio
    m["peak_rss_mb"] = rss_mb
    m["trace.call_p50_s"] = hd_median(win.latency) if win.latency else 0.0
    try:
        m["call_tail_s"] = tail(win.latency)
    except TooFewSamples:
        m["call_tail_s"] = 0.0
    return {k: (v, unit(k)) for k, v in sorted(m.items())}, accounts


def tail(latency: list[float]) -> float:
    """Latency at the highest whole percentile that keeps ten samples
    beyond it."""
    for q in range(99, 49, -1):
        try:
            return percentile(latency, q)
        except TooFewSamples:
            continue
    raise TooFewSamples(f"{len(latency)} samples cannot give a tail beyond the median")
