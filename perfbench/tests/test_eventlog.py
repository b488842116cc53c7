"""The event-log reader on a small captured log: a local[2] session that
ran a 4-partition groupBy under job group "1", a filter+collect under
group "2" and one job with no group (fields trimmed to the ones read)."""

import os

import pytest

from layers import query_metrics, stage_metrics
from tracing import EventLog, Span, union_ms

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    with open(LOG) as fh:
        return EventLog(fh)


def test_jobs_and_stages_attributed_to_groups(log):
    groups = set(log.job_group.values())
    assert {"1", "2", None} <= groups
    assert log.jobs_of("1") >= 1 and log.jobs_of("2") >= 1
    assert log.stages_of("1") and log.stages_of("2")
    s1 = {s.id for s in log.stages_of("1")}
    s2 = {s.id for s in log.stages_of("2")}
    assert not s1 & s2
    for s in log.stages_of("1") + log.stages_of("2"):
        if s.complete_ms:
            assert s.complete_ms >= s.submit_ms > 0


def test_task_metrics(log):
    t1, t2 = log.tasks_of("1"), log.tasks_of("2")
    assert len(t1) >= 4  # the map stage alone has 4 partitions
    assert sum(t.shuffle_write for t in t1) > 0
    assert sum(t.shuffle_read for t in t1) == sum(t.shuffle_write for t in t1)
    assert sum(t.shuffle_write for t in t2) == 0
    for t in t1 + t2:
        assert t.finish_ms >= t.launch_ms and t.run_ms >= 0 and t.cpu_ns >= 0
    assert len(log.tasks) > len(t1) + len(t2)  # the ungrouped job's tasks


def test_union_ms():
    assert union_ms([]) == 0
    assert union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert union_ms([(3, 4), (0, 10)]) == 10


def test_span_metrics(log):
    st = log.stages_of("1")
    t0 = min(s.submit_ms for s in st) / 1e3
    t1 = max(s.complete_ms for s in st) / 1e3
    span = Span(1, "build_from_corpus", "b", None, t0 - 0.5, t1)
    m = stage_metrics(log, [span], cores=2)
    assert m["build.shuffle_write_bytes"] > 0
    assert m["build.task_skew"] >= 1.0
    assert m["build.idle_core_s"] >= 0.0
    q = query_metrics(log, [Span(2, "search", "q", None, t0, t0 + 100.0)])
    assert q["bm25.jobs_per_query"] == log.jobs_of("2")
    assert q["bm25.tasks_per_query"] == len(log.tasks_of("2"))
    assert 0 < q["bm25.driver_ms_per_query"] <= 100_000
