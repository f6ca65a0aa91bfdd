"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Load is a closed loop with one client: the next delivery job or headline
query starts only after the previous one finished. Spark runs on
``local[<cores this process may use>]``. A run

1. prepares its inputs from ``--seed`` (cached; never timed),
2. starts a SparkSession and stages the first operation (``setup_s``),
3. runs the first operation of the fresh session (``cold_s``; for the
   analytics workload the first lap, which runs every query once),
4. for the analytics workload, compares every query's result with its
   oracle, untimed; this lap also warms the queries up,
5. runs warm operations until their summed latency reaches ``--seconds``
   (at least ``MIN_WARM_OPS`` of them, and whole laps of the query mix),
   checking each delivery job's output as it ends,
6. stops Spark and waits for the JVM and its Python workers to exit.

An operation with a wrong output counts as failed.

It prints one detail line (``perfbench-detail {...}``: host provenance,
per-operation steal, secondary metrics and, when traced, every per-layer
metric with the end-to-end metric it should move) and, last, the result line
the metrics in BENCHMARK.json describe: the end-to-end metrics untraced, the
per-layer metrics with ``--trace 1``. Each result is also kept under
``.perfbench_work/results/`` for ``perfbench/compare.py``.

End-to-end metrics: ``setup_s`` (session start, view registration and the
median staging of one job's inputs), ``cold_s`` (the first operation; for the
analytics workload the mean first execution of each query), ``op_p50_s`` (the
Harrell-Davis median of the warm latencies, see ``host.hd_median``),
``ops_per_s`` (warm operations per second of warm latency) and
``peak_rss_mb`` (driver, JVM and Python workers together, from session start
until Spark stops; the JVM heap starts at ``JVM_INITIAL_HEAP``).
The detail line adds ``records_per_s`` or ``queries_per_s``, ``fail_ratio``,
and ``op_p90_s`` when at least ten samples lie beyond it.

Workloads (why each exists is in BENCHMARK.json):

* ``delivery_many_small``: ``plans.job.run_delivery_job`` over 500 files x 50
  records, restarting after a run that finished a seeded 25% of the files
  (``reprocess_files=False``). Per-file and per-task overhead dominates.
* ``analytics_headline``: the 18 ``bench.HEADLINE`` queries over the sf0.1
  testdata tables (a copy in ``perfbench/data/sf0.1``), each forced with the
  noop sink, in a seeded order per lap.
* ``delivery_few_large``: the same job over 16 files x 100,000 records
  (~0.7 GB of JSON), ``reprocess_files=True``; the decrypt/parse kernel
  dominates. Runnable, but not declared in BENCHMARK.json: a full round of
  benchmark runs (22 per declared workload) must stay under an hour at 4
  cores, which it cannot with this workload added, and its peak RSS
  (~9.7 GB) is too much for a shared 16 GB machine.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

if __package__ in (None, ""):
    sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench import trace as tr  # noqa: E402

DELIVERY_SHAPES = {
    "delivery_many_small": {"n_files": 500, "records": 50, "restart_share": 0.25},
    "delivery_few_large": {"n_files": 16, "records": 100_000, "restart_share": 0.0},
}
WORKLOADS = [*DELIVERY_SHAPES, "analytics_headline"]
ANALYTICS_DATA = os.path.join(HERE, "data", "sf0.1")
# Layers a workload never enters, by metric-name prefix: their declared
# per-layer counts are 0 by construction. Any other declared metric a run
# did not measure fails the run, so a lost measurement never reads as 0.
IDLE_LAYERS = {
    "delivery_many_small": ("queries.",),
    "delivery_few_large": ("queries.",),
    "analytics_headline": ("listing.", "delivery.", "keys."),
}
# Initial JVM heap. Both declared workloads keep their heap within it at
# 4 cores (the heap after a young GC stays under 0.9 GB), so G1 never grows
# it; the maximum stays the product's spark.driver.memory.
JVM_INITIAL_HEAP = "2g"
# Measured ops per run at least, so a median never rests on one ~6 s job.
MIN_WARM_OPS = 2


@dataclass
class Op:
    index: int  # position in the run, the key of its trace spans
    name: str
    seconds: float
    start_ms: float
    end_ms: float
    steal_pct: float
    records: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)


def timed(tracer, index: int, name: str, fn) -> tuple[Op, object]:
    """Run ``fn()`` as operation ``index``; an exception is a failed op."""
    if tracer is not None:
        tracer.op = index
    value, problems = None, []
    with host.OpClock() as clock:
        try:
            value = fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            problems = [f"{type(exc).__name__}: {exc}"[:300]]
            traceback.print_exc(file=sys.stderr)
    op = Op(index, name, clock.seconds, clock.start_wall * 1000.0, clock.end_wall * 1000.0,
            clock.steal, problems=problems)
    return op, value


# --------------------------------------------------------------- delivery


class Delivery:
    """``run_delivery_job`` on a fresh input prefix per job."""

    def __init__(self, workload: str, seed: int, tracer):
        from perfbench import inputs

        shape = DELIVERY_SHAPES[workload]
        self.seed, self.tracer = seed, tracer
        self.fixture = inputs.delivery_fixture(
            os.path.join(WORK, "cache"), seed, shape["n_files"], shape["records"])
        self.finished = inputs.restart_markers(
            self.fixture.files, seed, shape["restart_share"])
        self.reprocess = not self.finished
        self.staging_s: list[float] = []
        if tracer:
            tr.install_delivery_spans(tracer)

    lap = 1  # every job is the same operation

    def setup(self, spark) -> float:
        return 0.0  # staging is per job, measured in run_op

    def cold(self, spark) -> list[Op]:
        return [self.run_op(spark, 0)]

    def run_op(self, spark, index: int) -> Op:
        from perfbench import checks, inputs
        from snapshot_sender_spark.plans import delivery as dlv
        from snapshot_sender_spark.plans import job

        t0 = time.perf_counter()
        dirs = inputs.stage_delivery_op(
            self.fixture, os.path.join(WORK, "ops", str(index)), self.finished)
        self.staging_s.append(time.perf_counter() - t0)
        cid = f"perfbench-{self.seed}-{index}"
        cfg = dlv.RunConfig(correlation_id=cid, topic_name=inputs.TOPIC,
                            reprocess_files=self.reprocess)
        lookup = self.tracer.key_lookup(dlv.key_lookup_local) if self.tracer else \
            dlv.key_lookup_local
        op, report = timed(self.tracer, index, "job", lambda: job.run_delivery_job(
            spark, dirs.input_dir, dirs.status_dir, dirs.output_dir, dirs.status_table,
            cfg, key_lookup=lookup))
        if report is not None:
            op.records = report.records_parsed
            op.problems += checks.check_delivery(self.fixture, dirs, self.finished, report, cid)
            op.layers["files_delivered"] = report.files_delivered
            op.layers["marker_bytes"] = sum(
                os.path.getsize(os.path.join(dirs.status_dir, f + ".finished"))
                for f in self.finished)
        shutil.rmtree(dirs.root, ignore_errors=True)
        return op

    def check(self, spark) -> dict[str, list[str]]:
        return {}  # every job is checked right after it runs

    def layers(self, op: Op, log, m: dict) -> dict:
        t, index = self.tracer, op.index
        keys = t.of(index, "keys.lookup")
        build = t.of(index, "delivery.build")
        files = max(op.layers.get("files_delivered", 0), 1)
        on_disk = self.fixture.input_bytes + op.layers.get("marker_bytes", 0)
        return {
            "listing.build_s": tr.union_s(t.of(index, "listing")),
            # binaryFile is a row scan: Spark 4.1 gives it "metadata time"
            # (file listing) but no "scan time"
            "listing.scan_s": m["plan.Scan_binaryFile.time_ms"] / 1000.0,
            "listing.bytes_read_per_input_byte": m["exec.input_bytes"] / on_disk,
            "delivery.build_s": tr.union_s(build),
            "delivery.build_py4j_calls": sum(s.py4j for s in build),
            "delivery.sink_s": tr.union_s(t.of(index, "delivery.sink")),
            "delivery.parse_s": tr.jobs_with_node_s(log, "MapInArrow", op.start_ms, op.end_ms),
            "delivery.spark_jobs_per_op": m["spark_jobs"],
            "delivery.tasks_per_op": m["exec.tasks"],
            "delivery.decrypt_rows_per_file": m["decrypt_rows"] / files,
            "keys.lookup_calls": len(keys),
            "keys.pairs_per_op": sum(s.extra["pairs"] for s in keys),
            "keys.lookup_s": sum(s.seconds for s in keys),
            "status.s": tr.union_s(t.of(index, "status")),
            "job.driver_self_s": op.seconds - m["spark_job_ms"] / 1000.0,
        }


# -------------------------------------------------------------- analytics


class Analytics:
    """The headline queries, one query per operation, noop sink."""

    def __init__(self, workload: str, seed: int, tracer):
        from bench import HEADLINE
        from perfbench import checks
        from snapshot_sender_spark.queries import all_queries

        self.tracer = tracer
        self.rng = random.Random(seed)  # query order, lap by lap
        self.data_dir = ANALYTICS_DATA
        self.oracle = checks.OracleCheck(ROOT, self.data_dir, os.path.join(WORK, "cache"),
                                         list(HEADLINE))
        self.names = list(HEADLINE)
        self.lap = len(self.names)  # one lap runs every query once
        self.registry = all_queries()
        self.order: list[str] = []
        self.staging_s: list[float] = []

    def setup(self, spark) -> float:
        from snapshot_sender_spark import tables

        t0 = time.perf_counter()
        tables.register_views(spark, self.data_dir)
        return time.perf_counter() - t0

    def cold(self, spark) -> list[Op]:
        """Each query's first execution in the session, in seeded order."""
        return [self.run_op(spark, i) for i in range(len(self.names))]

    def run_op(self, spark, index: int) -> Op:
        if not self.order:
            self.order = self.rng.sample(self.names, len(self.names))
        name = self.order.pop()
        fn, t = self.registry[name].fn, self.tracer
        holder = {}

        def op_body():
            df = t.span("queries.build", fn, spark, self.data_dir) if t else \
                fn(spark, self.data_dir)
            holder["df"] = df
            df.write.format("noop").mode("overwrite").save()

        op, _ = timed(t, index, name, op_body)
        if t is not None and "df" in holder and not op.problems:
            op.layers.update(tr.catalyst_phases(holder["df"]))
        return op

    def check(self, spark) -> dict[str, list[str]]:
        """Every query's result against its oracle, untimed, as ``{query:
        problems}`` for the wrong ones. Run right after the cold lap, it is
        also the warm-up lap: the first warm lap after the cold one was up to
        20% slower than the next and spread op_p50_s over 21% between runs."""
        wrong = {}
        for name in self.names:
            try:
                pdf = self.registry[name].fn(spark, self.data_dir).toPandas()
                problems = self.oracle.problems(name, pdf)
            except Exception as exc:  # noqa: BLE001 - reported as a wrong output
                problems = [f"{name}: {type(exc).__name__}: {exc}"[:300]]
            if problems:
                wrong[name] = problems
        return wrong

    def layers(self, op: Op, log, m: dict) -> dict:
        build = self.tracer.of(op.index, "queries.build")
        out = {
            "queries.build_s": tr.union_s(build),
            "queries.py4j_calls": sum(s.py4j for s in build),
            "queries.build_spark_jobs": tr.jobs_in(log, build),
        }
        out.update({k: v for k, v in op.layers.items() if k.startswith("catalyst.")})
        return out


# ----------------------------------------------------------------- session


def start_session(trace_dir: str | None):
    from snapshot_sender_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp.
        # -Xms: the heap starts at JVM_INITIAL_HEAP, so G1 does not grow it at
        # moments set by GC pause times (and so by CPU steal); grown that way,
        # peak RSS moved by up to 1 GB between runs of the same code.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
            f" -Xms{JVM_INITIAL_HEAP}",
    }
    if trace_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": trace_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{host.cpus()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and wait
    for it; its Python workers end with it."""
    import subprocess

    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ report


def unit_of(name: str) -> str:
    """Unit of a detail-line metric, from its naming convention."""
    if name.endswith(("_ratio", "_util", "_skew", "_per_file", "_per_input_byte")):
        return "ratio"
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                         ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    return "bytes" if "bytes" in name else "count"


def declared(kind: str) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares under ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def complete(values: dict, units: dict[str, str], workload: str) -> None:
    """Set the declared metrics of the layers ``workload`` never enters to
    0; raise if any other declared metric was not measured."""
    for name in units:
        if name.startswith(IDLE_LAYERS[workload]):
            values.setdefault(name, 0)
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")


def end_to_end(runner, cold: list[Op], warm: list[Op], session_s: float, setup_extra_s: float,
               peak_rss: int) -> dict:
    lat = [o.seconds for o in warm]
    warm_s = sum(lat)
    out = {
        "setup_s": session_s + setup_extra_s
        + (statistics.median(runner.staging_s) if runner.staging_s else 0.0),
        "cold_s": statistics.fmean(o.seconds for o in cold),
        "op_p50_s": host.hd_median(lat),
        "ops_per_s": len(lat) / warm_s,
        "peak_rss_mb": peak_rss / 2**20,
    }
    p90 = host.p90_if_supported(lat)
    if p90 is not None:
        out["op_p90_s"] = p90
    if isinstance(runner, Delivery):
        out["records_per_s"] = sum(o.records for o in warm) / warm_s
    else:
        out["queries_per_s"] = out["ops_per_s"]
    return out


def per_layer(runner, cold: list[Op], warm: list[Op], session_s: float,
              log_dir: str) -> tuple[dict, dict]:
    """(mean per warm op, mean per cold op) of every per-layer metric."""
    log = tr.parse_event_log(tr.event_files(log_dir))

    def rows(ops):
        out = []
        for op in ops:
            m = tr.window_metrics(log, op.start_ms, op.end_ms, host.cpus())
            m.update(runner.layers(op, log, m))
            out.append(m)
        return out

    warm_rows, cold_rows = rows(warm), rows(cold)
    keys = sorted({k for r in warm_rows + cold_rows for k in r})
    warm_mean = {k: statistics.fmean(r.get(k, 0) for r in warm_rows) for k in keys}
    cold_mean = {k: statistics.fmean(r.get(k, 0) for r in cold_rows) for k in keys}
    warm_mean["session.start_s"] = session_s
    warm_mean["trace.op_p50_s"] = host.hd_median([o.seconds for o in warm])
    return warm_mean, cold_mean


def untraced_p50(workload: str, cpus: int) -> float | None:
    """Median ``op_p50_s`` of the untraced results kept in this checkout for
    ``workload`` at ``cpus``: the base of the tracing overhead."""
    vals = []
    for path in sorted(os.listdir(os.path.join(WORK, "results"))):
        with open(os.path.join(WORK, "results", path)) as fh:
            r = json.load(fh)
        if (r["workload"], r["trace"], r["host"]["cpus"]) == (workload, 0, cpus):
            vals.append(r["all_metrics"]["op_p50_s"])
    return statistics.median(vals) if vals else None


def run(args) -> int:
    for d in ("tmp", "spark-local", "ops", "eventlog"):  # scratch of earlier runs
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    for d in ("tmp", "spark-local", "ops", "eventlog", "results", "cache"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # everything Spark, the JVM and tempfile write stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(host.cpus())
    import tempfile

    tempfile.tempdir = None

    log_dir = None
    if args.trace:
        log_dir = os.path.join(WORK, "eventlog", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
    tracer = tr.Tracer() if args.trace else None
    prov = host.provenance()
    with tracer or contextlib.nullcontext():
        kind = Delivery if args.workload in DELIVERY_SHAPES else Analytics
        runner = kind(args.workload, args.seed, tracer)  # inputs ready, untimed
        with host.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(log_dir)
            session_s = time.perf_counter() - t0
            try:
                setup_extra_s = runner.setup(spark)
                cold = runner.cold(spark)
                wrong = runner.check(spark)
                first = len(cold)
                warm: list[Op] = []
                # whole laps only, so every run measures the same query mix
                while (len(warm) < MIN_WARM_OPS or len(warm) % runner.lap
                       or sum(o.seconds for o in warm) < args.seconds):
                    warm.append(runner.run_op(spark, first + len(warm)))
            finally:
                stop_session(spark)
        ops = cold + warm
        for op in ops:  # a wrong result fails every operation of that query
            op.problems += wrong.get(op.name, [])
        if args.trace:
            layers, cold_layers = per_layer(runner, cold, warm, session_s, log_dir)
            shutil.rmtree(log_dir, ignore_errors=True)
    failed = sum(1 for o in ops if o.problems)
    e2e = end_to_end(runner, cold, warm, session_s, setup_extra_s, rss.peak_bytes)
    e2e["fail_ratio"] = failed / len(ops)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {**prov, "loadavg_end": host.loadavg(),
                 "steal_pct_per_op": [round(o.steal_pct, 2) for o in ops]},
        "ops": {"cold": len(cold), "warm": len(warm)},
        "warm_latency_s": [round(o.seconds, 4) for o in warm],
        "problems": [p for o in ops for p in o.problems][:20],
        "all_metrics": e2e,
    }
    if args.trace:
        base = untraced_p50(args.workload, prov["cpus"])
        if base:
            layers["trace.overhead_pct"] = 100.0 * (layers["trace.op_p50_s"] / base - 1.0)
        detail["layers"] = layers
        detail["cold_layers"] = cold_layers
        detail["layer_targets"] = tr.LAYER_TARGETS
    values = layers if args.trace else e2e
    units = declared("per_layer" if args.trace else "end_to_end")
    complete(values, units, args.workload)
    detail["units"] = {k: unit_of(k) for k in {*e2e, *(layers if args.trace else ())}}
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    with open(os.path.join(WORK, "results", f"{name}-{os.getpid()}.json"), "x") as fh:
        json.dump(detail, fh)
    print("perfbench-detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "snapshot_sender_spark", "plans", "job.py")):
        print("perfbench: snapshot_sender_spark/ is missing next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
