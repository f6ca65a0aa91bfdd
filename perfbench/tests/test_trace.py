"""The event-log parser on a small recorded log: one delivery job's parse
``count()`` (five Spark jobs, seven tasks, a MapInArrow decrypt kernel)
from a 20-file fixture, run by Spark 4.1 at local[4]."""

import os

import pytest

from perfbench import trace as tr

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def log():
    return tr.parse_event_log(tr.event_files(DATA))


def _window(log):
    return (min(j.submit_ms for j in log.jobs.values()),
            max(j.end_ms for j in log.jobs.values()))


def test_jobs_tasks_and_executor_metrics(log):
    m = tr.window_metrics(log, *_window(log), cpus=4)
    assert m["spark_jobs"] == 5
    assert m["exec.tasks"] == 7
    assert m["exec.executor_run_s"] == pytest.approx(0.859)
    assert m["exec.executor_cpu_s"] == pytest.approx(0.257351271)
    assert m["exec.input_bytes"] == 14233
    assert m["exec.shuffle_bytes"] == 236
    assert m["spark_job_ms"] == 430.0  # union of the five job intervals


def test_python_boundary_and_operator_metrics(log):
    m = tr.window_metrics(log, *_window(log), cpus=4)
    assert m["pyboundary.bytes_sent"] == 4 * 3832
    assert m["pyboundary.bytes_received"] == 139320
    assert m["pyboundary.run_s"] == pytest.approx((77 + 84 + 85 + 90) / 1000)
    assert m["pyboundary.boot_s"] == 0  # every worker was already running
    assert m["plan.HashAggregate.time_ms"] == 264.0
    assert m["plan.Exchange.time_ms"] == pytest.approx(27.029771)  # nsTiming -> ms


def test_jobs_attributed_by_window_and_plan(log):
    start, end = _window(log)
    assert tr.jobs_with_node_s(log, "MapInArrow", start, end) == pytest.approx(0.43)
    assert tr.jobs_with_node_s(log, "Sort", start, end) == 0.0
    assert tr.window_metrics(log, end + 1, end + 1000, cpus=4)["exec.tasks"] == 0


def test_span_union_does_not_double_count_nesting():
    spans = [tr.Span("a", 0, 0.0, 1000.0, 0), tr.Span("a", 0, 200.0, 500.0, 0),
             tr.Span("a", 0, 2000.0, 2500.0, 0)]
    assert tr.union_s(spans) == 1.5


def test_python_metrics_absent_without_a_python_plan(log):
    # a window before the first job holds no plan, so nothing was measured
    start = min(j.submit_ms for j in log.jobs.values()) - 10_000
    m = tr.window_metrics(log, start, start + 1, cpus=4)
    assert not any(k.startswith("pyboundary.") for k in m)
    assert "decrypt_rows" not in m
