"""Small shared utilities."""

from __future__ import annotations

import os
import shutil
import stat
import tempfile
import threading
from collections import OrderedDict
from collections.abc import Callable
from typing import TypeVar

T = TypeVar("T")


def write_once(final_dir: str, write_fn: Callable[[str], None], probe: str | None = None) -> None:
    """Build a cached directory exactly once, concurrency- and crash-safe:
    write into a UNIQUE temp sibling (mkdtemp — concurrent writers never share
    a tmp path), then atomically rename into place; losing the rename race is
    benign. ``probe`` is the completeness marker to check (e.g. a Spark
    ``_SUCCESS`` file); defaults to the directory itself, which is only safe
    when the directory appears atomically via this helper's rename."""
    probe = probe or final_dir
    if os.path.exists(probe):
        return
    if os.path.isdir(final_dir):  # exists but incomplete (stale half-write) → rebuild
        shutil.rmtree(final_dir, ignore_errors=True)
    parent = os.path.dirname(final_dir) or "."
    tmp = tempfile.mkdtemp(prefix=os.path.basename(final_dir) + ".", dir=parent)
    try:
        # write_fn gets a path INSIDE tmp so os.replace moves a fully-built dir
        target = os.path.join(tmp, "d")
        write_fn(target)
        try:
            os.replace(target, final_dir)
        except OSError:
            if not os.path.exists(probe):  # lost a benign race?
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def local_strings_df(spark, rows, colnames):
    """Small driver-side string table as a SQL VALUES LocalRelation.

    ``spark.createDataFrame(list_of_tuples)`` plans a *pickled-RDD scan* whose
    every materialization (e.g. each broadcast-hash build in a re-executed
    plan) runs a Python-worker deserialization stage — measured ~0.1-0.3 s of
    pure overhead per execution (r13 §6 floor numbers). A VALUES clause
    analyzes to a LocalTableScan: rows live in the plan, the broadcast builds
    JVM-side, no Python stage exists. Intended for control-plane tables (a
    handful of rows), not data.

    ``rows`` is a list of tuples of ``str | None``. An EMPTY rows list yields
    an empty relation with the right column names (string type). Values are
    embedded as escaped literals — backslash-escape of ``\\`` and ``'`` covers
    Spark's default literal parsing (round-trip pinned by
    tests/test_delivery.py::test_local_strings_df_roundtrip).
    """
    # the backslash-escape below is only correct under the default parser
    # mode; with the legacy spark.sql.parser.escapedStringLiterals=true a
    # value containing a quote would terminate the literal early (SQL-text
    # injection into the VALUES clause) — refuse loudly instead.
    # (parameterized SQL is not an option: positional `?` binding inside a
    # multi-row VALUES returns TRANSPOSED rows on Spark 4.1 — r13 finding)
    legacy = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    if str(legacy).lower() == "true":
        raise ValueError(
            "local_strings_df requires spark.sql.parser.escapedStringLiterals=false "
            "(default): its literal escaping is unsound under the legacy parser mode"
        )
    cols = ", ".join(colnames)
    if not rows:
        # one dummy row, folded away by LIMIT 0 (empty VALUES is a parse error)
        dummy = ", ".join("''" for _ in colnames)
        return spark.sql(f"SELECT * FROM VALUES ({dummy}) AS t({cols}) LIMIT 0")

    def esc(v):
        if v is None:
            return "CAST(NULL AS STRING)"
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

    values = ", ".join("(" + ", ".join(esc(c) for c in r) + ")" for r in rows)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({cols})")


# One memo primitive for every driver-side cache in the package: logical plan
# handles, Column trees, strategy statistics, trained models. Nothing here
# holds data — a memoized DataFrame is a plan handle, and every execution
# still scans its files. An entry hits only when (a) its owner IS the caller's
# owner (the SparkSession for DataFrames and statistics, the py4j gateway for
# Column trees), so two live sessions or a restarted JVM never alias; (b) the
# tuple key is equal; (c) ``validate()``, when given, equals the value stored
# with the entry (e.g. a filesystem ``fingerprint``). Each scope is one LRU
# bounded by MEMO_BOUND.
MEMO_BOUND = 256


class _Scope:
    __slots__ = ("entries", "hits", "misses")

    def __init__(self) -> None:
        self.entries: OrderedDict = OrderedDict()  # key -> (owner, check, value)
        self.hits = 0
        self.misses = 0


_SCOPES: dict[str, _Scope] = {}
_MEMO_LOCK = threading.Lock()


def memo(scope: str, owner, key: tuple, build: Callable[[], T],
         validate: Callable[[], object] | None = None) -> T:
    """Return the memoized ``build()`` for ``key`` in ``scope`` (see the
    contract above); a miss builds outside the lock and replaces the entry."""
    if not isinstance(key, tuple):
        raise TypeError(f"memo key must be a tuple, got {type(key).__name__}")
    check = validate() if validate is not None else None
    with _MEMO_LOCK:
        s = _SCOPES.get(scope) or _SCOPES.setdefault(scope, _Scope())
        entry = s.entries.get(key)
        if entry is not None and entry[0] is owner and entry[1] == check:
            s.entries.move_to_end(key)
            s.hits += 1
            return entry[2]
        s.misses += 1
    value = build()
    with _MEMO_LOCK:
        s.entries[key] = (owner, check, value)
        s.entries.move_to_end(key)
        while len(s.entries) > MEMO_BOUND:
            s.entries.popitem(last=False)
    return value


def memo_stats() -> dict[str, dict[str, int]]:
    """Per-scope ``{"hits", "misses", "size"}`` counters."""
    with _MEMO_LOCK:
        return {
            name: {"hits": s.hits, "misses": s.misses, "size": len(s.entries)}
            for name, s in _SCOPES.items()
        }


def memo_clear(scope: str) -> None:
    """Drop the entries and counters of one scope."""
    with _MEMO_LOCK:
        _SCOPES.pop(scope, None)


def plan_memo(scope: str, df, build: Callable[[], T]) -> T:
    """``memo`` keyed on ``df``'s logical plan (``semanticHash``), owned by
    its session: the role cached table statistics play in a cost-based
    optimizer. For decision-only values (every strategy they pick is
    result-identical), so a table rewritten in place under the same plan
    within one session reuses the old value, and a plan whose hash cannot be
    computed simply builds."""
    try:
        key = (df.semanticHash(),)
    except Exception:
        return build()
    return memo(scope, df.sparkSession, key, build)


def fingerprint(path: str) -> tuple | None:
    """Filesystem validator for memoized readers: ``(mtime_ns, size)`` for a
    file; for a directory the sorted ``(relpath, mtime_ns, size)`` of every
    file beneath it at any depth, so an edit inside a nested partition
    directory changes it too. None when unstatable."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_mtime_ns, st.st_size)
    out = []
    pending = [""]
    try:
        while pending:
            rel = pending.pop()
            with os.scandir(os.path.join(path, rel)) as it:
                for e in it:
                    r = os.path.join(rel, e.name)
                    if e.is_dir(follow_symlinks=False):
                        pending.append(r)
                    else:
                        est = e.stat()
                        out.append((r, est.st_mtime_ns, est.st_size))
    except OSError:
        return None
    return tuple(sorted(out))


def session_exprs(spark, key: tuple, build: Callable[[], tuple]) -> tuple:
    """Return ``build()``'s tuple of DataFrame-independent Columns, memoized
    per (JVM gateway, key). A Column is an immutable handle on an UNRESOLVED
    expression, but building one pays a py4j round trip per helper call
    (the URL-canonicalization trees cost ~2-4k trips), so builders that
    assemble them every lap build them once per JVM; a restarted JVM has a
    new gateway and never sees stale handles."""
    return memo("session_exprs", spark.sparkContext._gateway, key, build)
