"""The zipimport invalidate guard (pyboundary.py): semantics-preserving —
unchanged archives skip the directory re-read, changed archives are re-read."""

import importlib
import os
import sys
import time
import zipfile
import zipimport

import snapshot_sender_spark  # noqa: F401 - installs the guard
from snapshot_sender_spark.pyboundary import install_zipimport_guard


def test_guard_installed_and_idempotent():
    assert getattr(zipimport.zipimporter, "_ssp_mtime_guard", False)
    assert install_zipimport_guard() is False  # second install is a no-op


def _make_zip(path, payload):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("guardmod.py", payload)


def test_unchanged_archive_skips_reread(tmp_path):
    zp = os.path.join(tmp_path, "g1.zip")
    _make_zip(zp, "VALUE = 1\n")
    zi = zipimport.zipimporter(zp)
    zi.invalidate_caches()
    files_before = zi._files
    zi.invalidate_caches()  # unchanged -> must keep the cached directory object
    assert zi._files is files_before


def test_changed_archive_is_reread_and_importable(tmp_path):
    zp = os.path.join(tmp_path, "g2.zip")
    _make_zip(zp, "VALUE = 1\n")
    zi = zipimport.zipimporter(zp)
    zi.invalidate_caches()
    old_files = zi._files
    # rewrite with different content; bump mtime explicitly in case the
    # filesystem's mtime granularity would otherwise alias the signature
    _make_zip(zp, "VALUE = 2\n")
    st = os.stat(zp)
    os.utime(zp, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    zi.invalidate_caches()
    assert zi._files is not old_files
    sys.path.insert(0, zp)
    try:
        importlib.invalidate_caches()
        mod = importlib.import_module("guardmod")
        assert mod.VALUE == 2
    finally:
        sys.path.remove(zp)
        sys.modules.pop("guardmod", None)


def test_missing_archive_degrades_to_original(tmp_path):
    zp = os.path.join(tmp_path, "g3.zip")
    _make_zip(zp, "VALUE = 3\n")
    zi = zipimport.zipimporter(zp)
    zi.invalidate_caches()
    os.unlink(zp)
    zi.invalidate_caches()  # stat fails -> falls through to the original path
    assert zi._files == {}


def _collect_as_daemon():
    """Call gc.collect() from a frame whose co_filename looks like pyspark's
    daemon module — the wrapper gates the freeze on that caller."""
    code = compile("import gc\n_n = gc.collect()\n", "/x/pyspark/daemon.py", "exec")
    ns: dict = {}
    exec(code, ns)
    return ns["_n"]


def test_gc_freeze_guard_worker_scope_and_semantics():
    """install_worker_gc_freeze: refuses outside worker processes, installs
    once when pyspark.worker is in sys.modules, the daemon's between-task
    collect freezes the survivors exactly once, later collects still collect.

    Freeze-once is asserted by COUNTING gc.freeze invocations, not by exact
    equality on gc.get_freeze_count(): frozen objects freed via refcounting
    legitimately drop that count between reads, which made the old exact-
    equality pin flaky (it failed off-by-one in the round-13 driver run)."""
    import gc

    from snapshot_sender_spark.pyboundary import install_worker_gc_freeze

    # this test process is not a worker (pyspark.daemon/worker not imported
    # unless another test pulled them in) — simulate both sides explicitly
    had_worker = "pyspark.worker" in sys.modules or "pyspark.daemon" in sys.modules
    if not had_worker:
        assert install_worker_gc_freeze() is False  # driver scope: refused
        sys.modules["pyspark.worker"] = sys  # sentinel module object
    orig_collect = gc.collect
    orig_freeze = gc.freeze
    freeze_calls = []

    def counting_freeze():
        freeze_calls.append(1)
        orig_freeze()

    try:
        assert install_worker_gc_freeze() is True
        assert install_worker_gc_freeze() is False  # idempotent
        gc.freeze = counting_freeze

        class _Cycle:
            pass

        a, b = _Cycle(), _Cycle()
        a.other, b.other = b, a
        del a, b
        # a mid-task collect (caller is NOT the daemon loop) collects the
        # cycle but must not freeze in-flight task data
        n0 = gc.collect()
        assert isinstance(n0, int) and n0 >= 2
        assert freeze_calls == []

        a, b = _Cycle(), _Cycle()
        a.other, b.other = b, a
        del a, b
        n = _collect_as_daemon()  # daemon's between-task collect: collects...
        assert isinstance(n, int) and n >= 2  # ...the fresh cycle
        assert freeze_calls == [1]  # ...then freezes survivors, exactly once

        c, d = _Cycle(), _Cycle()
        c.other, d.other = d, c
        del c, d
        n2 = _collect_as_daemon()  # later calls: still collect NEW garbage
        assert n2 >= 2
        assert freeze_calls == [1]  # no second freeze
    finally:
        gc.freeze = orig_freeze
        gc.collect = orig_collect
        if getattr(gc, "_ssp_freeze_wrapper", False):
            del gc._ssp_freeze_wrapper
        gc.unfreeze()
        if not had_worker and sys.modules.get("pyspark.worker") is sys:
            del sys.modules["pyspark.worker"]


def test_gc_freeze_gate_warns_once_without_daemon_caller(monkeypatch):
    """A gate that never sees the daemon's between-task collect can never
    freeze; after GC_FREEZE_WARN_AFTER such collects the wrapper says so
    exactly once, and a later daemon collect still freezes."""
    import gc
    import warnings

    from snapshot_sender_spark import pyboundary

    monkeypatch.setattr(pyboundary, "GC_FREEZE_WARN_AFTER", 3)
    had_worker = "pyspark.worker" in sys.modules or "pyspark.daemon" in sys.modules
    if not had_worker:
        sys.modules["pyspark.worker"] = sys  # sentinel module object
    orig_collect = gc.collect
    orig_freeze = gc.freeze
    freeze_calls = []
    try:
        assert pyboundary.install_worker_gc_freeze() is True
        gc.freeze = lambda: freeze_calls.append(1)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            for _ in range(2):
                gc.collect()
            assert caught == []
            for _ in range(3):
                gc.collect()
            gate = [w for w in caught if "gc-freeze gate" in str(w.message)]
            assert len(gate) == 1 and gate[0].category is RuntimeWarning
        assert freeze_calls == []
        _collect_as_daemon()
        assert freeze_calls == [1]
    finally:
        gc.freeze = orig_freeze
        gc.collect = orig_collect
        if getattr(gc, "_ssp_freeze_wrapper", False):
            del gc._ssp_freeze_wrapper
        if not had_worker and sys.modules.get("pyspark.worker") is sys:
            del sys.modules["pyspark.worker"]
