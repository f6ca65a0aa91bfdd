"""Python-worker fixed-cost guard (spark_optimization_guide §4: the JVM↔Python
boundary has per-task constants you control).

Measured pathology (round 13, CPython 3.11.7 + Spark 4.1.2, local[32]): every
Python-stage task runs ``importlib.invalidate_caches()`` inside
``pyspark.worker_util.setup_spark_files`` before the UDF executes.  On 3.11,
``zipimport.zipimporter.invalidate_caches`` **unconditionally re-parses its
archive's central directory** (zipimport.py:329-336 — ``self._files =
_read_directory(self.archive)``), and a Spark worker's
``sys.path_importer_cache`` holds a dozen-plus zipimporter finders: one per
import prefix of ``pyspark.zip`` (``pyspark.zip``, ``pyspark.zip/pyspark``,
``.../pyspark/sql`` …) plus the ``spark-core`` **jar** that pyspark's
error-class reader appends to ``sys.path``.  Worker-side trace (timestamps
logged from inside ``setup_spark_files``): the invalidate step alone is
137-216 ms per task — with <1 ms in every other pre-UDF step — i.e. an empty
1-task ``mapInArrow`` job costs ~0.25 s of which ~0.2 s is re-parsing zip
directories that cannot have changed.  At 32 parallel Python tasks that is
~6 CPU-seconds of pure overhead per stage.

The guard wraps ``zipimporter.invalidate_caches`` with an archive
``(st_mtime_ns, st_size)`` check and skips the re-read when the archive is
unchanged — exactly the semantics newer CPython adopted for this method (the
3.12+ implementation only reloads when the archive mtime changed).  A zip
that *does* change (e.g. an updated ``--py-files`` artifact) still triggers
the original full re-read, so import correctness is preserved.

Installation: imported from ``snapshot_sender_spark/__init__.py``, so the
guard lands in any interpreter that imports this package — including every
reused Spark Python worker, which imports the package while unpickling the
first task whose UDF/kernel references it.  The first task of a fresh worker
pays the legacy cost once; every later task on that worker skips it.
"""

from __future__ import annotations

import os
import warnings
import zipimport

# wrapped collects without a daemon caller before the gc-freeze gate warns
GC_FREEZE_WARN_AFTER = 50


def install_zipimport_guard() -> bool:
    """Idempotently install the mtime/size guard; returns True if installed
    by this call, False if it was already present."""
    zi = zipimport.zipimporter
    if getattr(zi, "_ssp_mtime_guard", False):
        return False
    orig = zi.invalidate_caches

    def invalidate_caches(self):  # noqa: ANN001 - zipimporter instance
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        if sig is not None and getattr(self, "_ssp_archive_sig", None) == sig:
            return  # archive unchanged -> cached directory is still valid
        orig(self)
        # only pin the signature when the re-read succeeded (orig() leaves
        # self._files empty on ZipImportError, in which case the next call
        # must retry the read)
        if sig is not None and getattr(self, "_files", None):
            self._ssp_archive_sig = sig

    zi.invalidate_caches = invalidate_caches
    zi._ssp_mtime_guard = True
    return True


def install_worker_gc_freeze() -> bool:
    """In Spark Python WORKER processes, freeze the long-lived import graph
    out of the cyclic-GC working set after the first post-task collect.

    Measured pathology (round 13, CPython 3.11 + Spark 4.1): the daemon's
    worker-reuse loop runs a FULL ``gc.collect()`` after EVERY task
    (pyspark/daemon.py:244) — 19-28 ms per call once the worker has imported
    pyspark.worker + numpy/pandas/pyarrow (~70k tracked objects). A reused
    worker cannot accept its next task until that collect finishes, so any
    stage that runs several tasks per worker (the 136-task GEMM pair stages
    = 4-5 sequential tasks per worker on local[32]) serializes ~20 ms of
    pure GC scan between consecutive tasks.

    Fix: wrap ``gc.collect`` so the FIRST wrapped call runs the original
    collect (real cyclic garbage from task 1 is still freed) and then
    ``gc.freeze()``s the survivors — the import graph and session-lived
    state move to the permanent generation, exactly the server pattern
    ``gc.freeze`` is documented for. Later per-task collects scan only
    post-freeze allocations (measured ~0 ms) while still collecting each
    task's own cyclic garbage. Only objects ALIVE at the single freeze
    point become uncollectable-if-later-cyclic; that set is the module
    graph, which lives for the worker's lifetime anyway.

    Scope guard: installed ONLY when the process is a Spark Python worker
    or daemon (``pyspark.daemon``/``pyspark.worker`` already imported —
    true during task unpickling, never in the driver). The driver's
    automatic generational GC is untouched (CPython's auto-collections do
    not call the Python-level ``gc.collect`` wrapper).

    Trigger guard: the freeze fires only when the wrapped collect is
    invoked FROM the daemon's worker-reuse loop (caller frame in
    ``pyspark/daemon.py``) — i.e. strictly between tasks. A mid-task
    ``gc.collect()`` from user code or a library under memory pressure
    runs the plain collect and must NOT freeze, or the task's in-flight
    data would be pinned in the permanent generation for the worker's
    lifetime.

    Signal: if GC_FREEZE_WARN_AFTER wrapped collects pass without one from
    ``pyspark/daemon.py`` (e.g. a pyspark upgrade moved the reuse loop), the
    gate can never fire, and the wrapper emits one RuntimeWarning (to the
    worker's stderr) instead of staying silent.
    """
    import sys

    if not ("pyspark.daemon" in sys.modules or "pyspark.worker" in sys.modules):
        return False
    import gc

    if getattr(gc, "_ssp_freeze_wrapper", False):
        return False
    orig = gc.collect
    state = {"frozen": False, "misses": 0}
    daemon_py = os.path.join("pyspark", "daemon.py")

    def collect(generation: int = 2) -> int:
        n = orig(generation)
        if not state["frozen"]:
            try:
                caller = sys._getframe(1).f_code.co_filename
            except ValueError:
                caller = ""
            if caller.endswith(daemon_py):
                gc.freeze()
                state["frozen"] = True
            else:
                state["misses"] += 1
                if state["misses"] == GC_FREEZE_WARN_AFTER:
                    warnings.warn(
                        f"gc-freeze gate: {state['misses']} collects without a "
                        f"{daemon_py} caller; the between-task freeze never fired",
                        RuntimeWarning,
                        stacklevel=2,
                    )
        return n

    gc.collect = collect
    gc._ssp_freeze_wrapper = True
    return True


def install_worker_boundary_guards() -> None:
    """Soft-install every worker-side fixed-cost guard (zipimport + GC
    freeze); never raises — a failed optimization must not fail a task."""
    try:
        install_zipimport_guard()
    except Exception:
        pass
    try:
        install_worker_gc_freeze()
    except Exception:
        pass
