"""Aggregation of a small recorded Spark 4.1 event log: three job
groups (a pandas_udf aggregate, a persisted frame's count, a shuffle)."""

import os

import pytest

from layers import op_accounts
from spans import Span, aggregate_event_log

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def groups():
    with open(LOG) as fh:
        return aggregate_event_log(fh)


def test_jobs_stages_tasks_per_group(groups):
    assert sorted(groups) == ["span-1", "span-2", "span-3"]
    assert [(len(g.jobs), g.stages, g.tasks) for g in groups.values()] == [
        (2, 2, 3), (3, 3, 5), (2, 2, 3)]
    assert all(g.tasks_failed == 0 and g.stages_retried == 0 for g in groups.values())


def test_python_worker_accumulables(groups):
    c = groups["span-1"].counters
    assert c["python.bytes_sent"] == 16544
    assert c["python.bytes_received"] == 16288
    assert c["python.run_ms"] == 4164
    assert "python.run_ms" not in groups["span-3"].counters


def test_cache_blocks_and_task_counters(groups):
    c = groups["span-2"].counters
    assert (c["cache_blocks"], c["cache_bytes"]) == (2, 10792)
    assert groups["span-1"].counters["input_rows"] == 2000
    assert groups["span-3"].counters["shuffle_write_bytes"] == 354


def test_op_accounts_attribute_jobs_to_spans(groups):
    t0 = min(j[0] for g in groups.values() for j in g.jobs) - 1
    t1 = max(j[1] for g in groups.values() for j in g.jobs) + 1
    spans = [Span(0, "op:all", None, t0, t1), Span(1, "engine.build", 0, t0, t0 + 0.5),
             Span(2, "sink.write", 0, t0 + 0.5, t1), Span(3, "x", 2, t0 + 0.6, t1 - 0.1)]
    (acct,) = op_accounts(spans, groups)
    assert acct["exec.jobs"] == 7 and acct["build.eager_jobs"] == 2
    assert acct["exec.driver_idle_s"] + acct["jobs_busy_s"] == pytest.approx(t1 - t0)
    assert sum(acct["self_s"].values()) == pytest.approx(t1 - t0)
