"""The traced run: spans and counts recorded from the benchmark's side of each
layer boundary, joined with the Spark event log.

* Spans: the benchmark temporarily replaces module-level public functions
  (``delivery.build_decrypted``, ``status.upsert_status`` …) with timing
  wrappers, and passes a counting ``key_lookup`` to the job. Nothing in the
  product changes; the originals are restored when the run ends.
* py4j: every command the driver sends to the JVM is counted by wrapping
  ``GatewayClient.send_command``, the counting ``tools/count_py4j.py`` uses.
  (That tool also wraps ``JavaClient``, which inherits the same method, so
  it counts each trip twice; the counts here do not.)
* Spark: the event log (``spark.eventLog.compress=false``; Spark 4.1 writes
  a rolling ``eventlog_v2_*`` directory of ``events_*`` files) gives jobs,
  tasks with executor metrics, and SQL metrics per physical node. A job
  belongs to the operation (and span) during which it was submitted; within
  an operation, a job is told apart by the operators of its SQL plan, since
  PySpark gives ``count()`` no Python call site.

``LAYER_TARGETS`` records, for each per-layer metric, the end-to-end metric
and workload it is expected to move.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from dataclasses import dataclass, field

# metric -> [(end-to-end metric, workload)] it should move
LAYER_TARGETS: dict[str, list[tuple[str, str]]] = {
    "session.start_s": [("setup_s", "all")],
    "listing.build_s": [("op_p50_s", "delivery_many_small")],
    "listing.scan_s": [("op_p50_s", "delivery_many_small")],
    "listing.bytes_read_per_input_byte": [("records_per_s", "delivery_*")],
    "delivery.build_s": [("op_p50_s", "delivery_many_small"), ("cold_s", "delivery_many_small")],
    "delivery.build_py4j_calls": [("op_p50_s", "delivery_many_small"),
                                  ("cold_s", "delivery_many_small")],
    "delivery.sink_s": [("op_p50_s", "delivery_*")],
    "delivery.parse_s": [("records_per_s", "delivery_few_large")],
    "delivery.spark_jobs_per_op": [("op_p50_s", "delivery_many_small")],
    "delivery.tasks_per_op": [("op_p50_s", "delivery_many_small")],
    "delivery.decrypt_rows_per_file": [("records_per_s", "delivery_few_large")],
    "keys.lookup_calls": [("op_p50_s", "delivery_many_small")],
    "keys.pairs_per_op": [("op_p50_s", "delivery_many_small")],
    "keys.lookup_s": [("op_p50_s", "delivery_many_small")],
    "status.s": [("op_p50_s", "delivery_many_small")],
    "job.driver_self_s": [("op_p50_s", "delivery_many_small")],
    "pyboundary.boot_s": [("cold_s", "all"), ("op_p50_s", "delivery_many_small")],
    "pyboundary.init_s": [("cold_s", "all"), ("op_p50_s", "delivery_many_small")],
    "pyboundary.run_s": [("records_per_s", "delivery_few_large")],
    "pyboundary.bytes_sent": [("records_per_s", "delivery_few_large"),
                              ("peak_rss_mb", "delivery_few_large")],
    "pyboundary.bytes_received": [("records_per_s", "delivery_few_large"),
                                  ("peak_rss_mb", "delivery_few_large")],
    "queries.build_s": [("op_p50_s", "analytics_headline"), ("cold_s", "analytics_headline")],
    "queries.py4j_calls": [("op_p50_s", "analytics_headline"), ("cold_s", "analytics_headline")],
    "queries.build_spark_jobs": [("op_p50_s", "analytics_headline"),
                                 ("cold_s", "analytics_headline")],
    "catalyst.analysis_ms": [("op_p50_s", "analytics_headline"), ("cold_s", "analytics_headline")],
    "catalyst.optimization_ms": [("op_p50_s", "analytics_headline"),
                                 ("cold_s", "analytics_headline")],
    "catalyst.planning_ms": [("op_p50_s", "analytics_headline"), ("cold_s", "analytics_headline")],
    "exec.executor_run_s": [("op_p50_s", "analytics_headline")],
    "exec.executor_cpu_s": [("op_p50_s", "analytics_headline")],
    "exec.gc_s": [("op_p50_s", "analytics_headline")],
    "exec.tasks": [("op_p50_s", "analytics_headline")],
    "exec.shuffle_bytes": [("op_p50_s", "analytics_headline"),
                           ("peak_rss_mb", "analytics_headline")],
    "exec.spill_bytes": [("op_p50_s", "analytics_headline"), ("peak_rss_mb", "analytics_headline")],
    "exec.cpu_util": [("op_p50_s", "all")],
    "exec.task_skew": [("op_p90_s", "analytics_headline")],
    "plan.<NodeName>.time_ms": [("op_p50_s", "analytics_headline")],
    "trace.op_p50_s": [("op_p50_s", "all")],
}

PY_METRICS = {
    "time to start Python workers": "pyboundary.boot_s",
    "time to initialize Python workers": "pyboundary.init_s",
    "time to run Python workers": "pyboundary.run_s",
    "data sent to Python workers": "pyboundary.bytes_sent",
    "data returned from Python workers": "pyboundary.bytes_received",
}


# rows out of the aes_ctr_decrypt pandas UDF; the parse kernel's own decrypt
# (MapInArrow) emits lines, not files, and is not counted
_DECRYPT_ROWS = ("ArrowEvalPython", "number of output rows")

# ------------------------------------------------------------ event log


@dataclass
class Job:
    submit_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)
    execution: int | None = None  # SQL execution id


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    input_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    accums: list[tuple[int, int]]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    # accumulator id -> (physical node name, metric name, metric type)
    accum_meta: dict[int, tuple[str, str, str]] = field(default_factory=dict)
    sql_start_ms: dict[int, int] = field(default_factory=dict)
    sql_nodes: dict[int, set[str]] = field(default_factory=dict)  # execution -> node names
    # execution -> (node name, metric name) of every SQL metric its plans declare
    sql_metrics: dict[int, set[tuple[str, str]]] = field(default_factory=dict)
    driver_accums: list[tuple[int, int, int]] = field(default_factory=list)  # exec, id, value


def _node_name(raw: str) -> str:
    """``WholeStageCodegen (3)`` -> ``WholeStageCodegen``; ``Scan parquet `` ->
    ``Scan_parquet``."""
    return re.sub(r"[^A-Za-z0-9]+", "_", re.sub(r"\s*\(\d+\)\s*$", "", raw).strip())


def _walk_plan(info: dict, log: EventLog, execution: int) -> None:
    name = _node_name(info.get("nodeName", ""))
    log.sql_nodes.setdefault(execution, set()).add(name)
    for m in info.get("metrics", []):
        log.accum_meta[int(m["accumulatorId"])] = (name, m["name"], m["metricType"])
        log.sql_metrics.setdefault(execution, set()).add((name, m["name"]))
    for child in info.get("children", []):
        _walk_plan(child, log, execution)


def _as_int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse_event_log(paths: list[str]) -> EventLog:
    """Read the JSON-lines event files of one application, in order."""
    log = EventLog()
    for path in paths:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    execution = props.get("spark.sql.execution.id")
                    log.jobs[e["Job ID"]] = Job(
                        e["Submission Time"], stages=list(e.get("Stage IDs", [])),
                        execution=int(execution) if execution is not None else None)
                elif kind == "SparkListenerJobEnd":
                    job = log.jobs.get(e["Job ID"])
                    if job is not None:
                        job.end_ms = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    info, tm = e["Task Info"], e.get("Task Metrics") or {}
                    log.tasks.append(Task(
                        stage=e["Stage ID"],
                        launch_ms=info["Launch Time"],
                        finish_ms=info["Finish Time"],
                        run_ms=tm.get("Executor Run Time", 0),
                        cpu_ns=tm.get("Executor CPU Time", 0),
                        gc_ms=tm.get("JVM GC Time", 0),
                        input_bytes=(tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                        shuffle_write_bytes=(tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        spill_bytes=tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                        accums=[(a["ID"], _as_int(a.get("Update")))
                                for a in info.get("Accumulables", [])],
                    ))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    log.sql_start_ms[e["executionId"]] = e["time"]
                    _walk_plan(e["sparkPlanInfo"], log, e["executionId"])
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _walk_plan(e["sparkPlanInfo"], log, e["executionId"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    log.driver_accums.extend(
                        (e["executionId"], int(i), int(v)) for i, v in e["accumUpdates"])
    return log


def event_files(log_dir: str) -> list[str]:
    """``events_<n>_<app>`` files of the one application under ``log_dir``,
    by index."""
    files = glob.glob(os.path.join(log_dir, "*", "events_*"))
    return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def window_metrics(log: EventLog, start_ms: float, end_ms: float, cpus: int) -> dict:
    """Execution-side metrics of everything Spark did for jobs submitted in
    ``[start_ms, end_ms]`` (one operation)."""
    jobs = [j for j in log.jobs.values() if start_ms <= j.submit_ms <= end_ms]
    stages = {s for j in jobs for s in j.stages}
    tasks = [t for t in log.tasks if t.stage in stages]
    wall_s = max(end_ms - start_ms, 1.0) / 1000.0
    cpu_s = sum(t.cpu_ns for t in tasks) / 1e9
    m = {
        "spark_jobs": len(jobs),
        "exec.tasks": len(tasks),
        "exec.executor_run_s": sum(t.run_ms for t in tasks) / 1000.0,
        "exec.executor_cpu_s": cpu_s,
        "exec.gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "exec.shuffle_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "exec.spill_bytes": sum(t.spill_bytes for t in tasks),
        "exec.input_bytes": sum(t.input_bytes for t in tasks),
        "exec.cpu_util": cpu_s / (wall_s * cpus),
        "exec.task_skew": _task_skew(tasks),
        "spark_job_ms": _union_ms([(j.submit_ms, j.end_ms or j.submit_ms) for j in jobs]),
    }
    execs = {x for x, t0 in log.sql_start_ms.items() if start_ms <= t0 <= end_ms}
    plans = execs | {j.execution for j in jobs}
    # Spark leaves a metric that stayed 0 out of its updates: one a plan in the
    # window declares is 0 until an update says more; one no plan declares is
    # not measured at all and stays absent
    for node, metric in set().union(*(log.sql_metrics.get(x, ()) for x in plans)):
        if metric in PY_METRICS:
            m[PY_METRICS[metric]] = 0
        if (node, metric) == _DECRYPT_ROWS:
            m["decrypt_rows"] = 0
    sql: dict[tuple[str, str, str], int] = {}
    for t in tasks:
        for acc_id, upd in t.accums:
            key = log.accum_meta.get(acc_id)
            if key is not None:
                sql[key] = sql.get(key, 0) + upd
    for exec_id, acc_id, value in log.driver_accums:
        key = log.accum_meta.get(acc_id)
        if exec_id in execs and key is not None:
            sql[key] = sql.get(key, 0) + value
    for (node, metric, mtype), value in sql.items():
        if metric in PY_METRICS:
            name = PY_METRICS[metric]
            m[name] += value / 1000.0 if name.endswith("_s") else value
        if mtype in ("timing", "nsTiming"):
            ms = value / 1e6 if mtype == "nsTiming" else value
            m[f"plan.{node}.time_ms"] = m.get(f"plan.{node}.time_ms", 0.0) + ms
        if (node, metric) == _DECRYPT_ROWS:
            m["decrypt_rows"] += value
    return m


def _task_skew(tasks: list[Task]) -> float:
    """max ÷ median task duration in the stage with the most task time."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.finish_ms - t.launch_ms)
    if not by_stage:
        return 0.0
    durations = max(by_stage.values(), key=sum)
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


def jobs_with_node_s(log: EventLog, node: str, start_ms: float, end_ms: float) -> float:
    """Wall seconds of the jobs submitted in the window whose SQL execution
    plan holds a ``node`` operator. The delivery parse job (``records.count()``
    in ``plans/job.py``, call site ``count at NativeMethodAccessorImpl.java:0``
    like every other count) is the one that runs the ``MapInArrow``
    decrypt/explode kernel."""
    return _union_ms([
        (j.submit_ms, j.end_ms or j.submit_ms) for j in log.jobs.values()
        if start_ms <= j.submit_ms <= end_ms and node in log.sql_nodes.get(j.execution, ())
    ]) / 1000.0


def jobs_in(log: EventLog, spans: list["Span"]) -> int:
    return sum(
        1 for j in log.jobs.values()
        if any(s.start_ms <= j.submit_ms <= s.end_ms for s in spans)
    )


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    op: int
    start_ms: float
    end_ms: float
    py4j: int
    extra: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """Records spans and py4j trips while installed (``with Tracer() as t``).
    ``op`` is the index of the operation in progress, set by the caller."""

    def __init__(self):
        self.spans: list[Span] = []
        self.py4j = 0
        self.op = -1
        self._undo: list[tuple[object, str, object]] = []

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def __enter__(self) -> "Tracer":
        import py4j.java_gateway as jg

        # one patch on the defining class: the pinned-thread JavaClient that
        # PySpark uses inherits it (patching both would count every trip twice)
        orig = jg.GatewayClient.send_command

        def counted(client, *a, **kw):
            self.py4j += 1
            return orig(client, *a, **kw)

        self._patch(jg.GatewayClient, "send_command", counted)
        return self

    def __exit__(self, *exc) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def span(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` and record it as span ``name``."""
        p0, t0 = self.py4j, time.time() * 1000.0
        try:
            return fn(*args, **kwargs)
        finally:
            self.spans.append(Span(name, self.op, t0, time.time() * 1000.0, self.py4j - p0))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned version until ``__exit__``."""
        orig = getattr(owner, attr)

        def spanned(*args, **kwargs):
            return self.span(name, orig, *args, **kwargs)

        self._patch(owner, attr, spanned)

    def key_lookup(self, inner):
        """A ``key_lookup`` for the job that records calls and pairs."""

        def lookup(pairs):
            try:
                return self.span("keys.lookup", inner, pairs)
            finally:
                self.spans[-1].extra["pairs"] = len(pairs)

        return lookup

    def of(self, op: int, name: str) -> list[Span]:
        return [s for s in self.spans if s.op == op and s.name == name]


def install_delivery_spans(tracer: Tracer) -> None:
    """Wrap the delivery layers' public functions."""
    from snapshot_sender_spark.plans import delivery as dlv
    from snapshot_sender_spark.plans import status as st

    for attr in ("read_encryption_meta", "read_encrypted_files", "read_finished_markers"):
        tracer.wrap(dlv, attr, "listing")  # delivery.py calls them by these names
    tracer.wrap(dlv, "build_decrypted", "delivery.build")
    tracer.wrap(dlv, "deliver", "delivery.sink")
    for attr in ("upsert_status", "load_status", "completion_status"):
        tracer.wrap(st, attr, "status")


def union_s(spans: list[Span]) -> float:
    return _union_ms([(s.start_ms, s.end_ms) for s in spans]) / 1000.0


def catalyst_phases(df) -> dict[str, float]:
    """QueryPlanningTracker phase times (ms) of ``df``'s query execution,
    after planning it (the noop write plans a separate command execution,
    so the DataFrame's own plan is forced here, outside the timed op)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
