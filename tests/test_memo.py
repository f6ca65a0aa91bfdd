"""util.memo / util.fingerprint: the one memo primitive behind every
driver-side cache (plan handles, Column trees, strategy statistics, the BPE
model). A hit needs the same owner object, an equal tuple key and an equal
validator value; each scope is an LRU bounded by util.MEMO_BOUND."""

import os
import shutil

import pytest

from snapshot_sender_spark import tables, util


class _Counter:
    def __init__(self):
        self.n = 0

    def __call__(self):
        self.n += 1
        return object()


def test_hit_rule_owner_key_validator():
    util.memo_clear("t.rule")
    build = _Counter()
    owner = object()
    check = {"v": 1}
    v1 = util.memo("t.rule", owner, ("k",), build, lambda: check["v"])
    assert util.memo("t.rule", owner, ("k",), build, lambda: check["v"]) is v1
    assert build.n == 1
    # another owner (a second session / a restarted gateway) never aliases
    assert util.memo("t.rule", object(), ("k",), build, lambda: check["v"]) is not v1
    # a changed validator value rebuilds and replaces the entry
    owner2 = object()
    v2 = util.memo("t.rule", owner2, ("k",), build, lambda: check["v"])
    check["v"] = 2
    v3 = util.memo("t.rule", owner2, ("k",), build, lambda: check["v"])
    assert v3 is not v2
    assert util.memo("t.rule", owner2, ("k",), build, lambda: check["v"]) is v3
    assert util.memo_stats()["t.rule"] == {"hits": 2, "misses": 4, "size": 1}
    util.memo_clear("t.rule")
    assert "t.rule" not in util.memo_stats()


def test_keys_are_structured_tuples():
    """The old string keys joined parts with ':' and so aliased."""
    util.memo_clear("t.keys")
    owner = object()
    a = util.memo("t.keys", owner, ("a:b", "c"), _Counter())
    b = util.memo("t.keys", owner, ("a", "b:c"), _Counter())
    assert a is not b
    with pytest.raises(TypeError):
        util.memo("t.keys", owner, "a:b:c", _Counter())
    util.memo_clear("t.keys")


def test_scope_is_a_bounded_lru(monkeypatch):
    monkeypatch.setattr(util, "MEMO_BOUND", 3)
    util.memo_clear("t.lru")
    owner = object()
    build = _Counter()
    first = util.memo("t.lru", owner, (0,), build)
    for i in range(1, 5):
        util.memo("t.lru", owner, (i,), build)
        util.memo("t.lru", owner, (0,), build)  # keep 0 most recently used
    assert util.memo_stats()["t.lru"]["size"] == 3
    assert util.memo("t.lru", owner, (0,), build) is first
    n = build.n
    util.memo("t.lru", owner, (1,), build)  # evicted long ago -> rebuilt
    assert build.n == n + 1
    util.memo_clear("t.lru")


def test_concurrent_memo_keeps_counts_and_bound(monkeypatch):
    """Threads share the scopes: no lost counter update, no error from an
    entry evicted by one thread while another touches it, bound held."""
    import sys
    import threading

    monkeypatch.setattr(util, "MEMO_BOUND", 8)
    util.memo_clear("t.threads")
    owner = object()
    calls, errors = 2000, []

    def worker(seed):
        try:
            for i in range(calls):
                util.memo("t.threads", owner, ((seed * 7 + i) % 13,), object)
        except Exception as exc:  # pragma: no cover - reported below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    assert errors == []
    st = util.memo_stats()["t.threads"]
    assert st["hits"] + st["misses"] == 16 * calls
    assert st["size"] <= 8
    util.memo_clear("t.threads")


def test_fingerprint_sees_nested_files(tmp_path):
    f = tmp_path / "t.parquet"
    f.write_bytes(b"abc")
    st = os.stat(f)
    assert util.fingerprint(str(f)) == (st.st_mtime_ns, 3)
    assert util.fingerprint(str(tmp_path / "missing")) is None

    d = tmp_path / "tbl"
    (d / "p=0" / "q=1").mkdir(parents=True)
    leaf = d / "p=0" / "q=1" / "part-0.parquet"
    leaf.write_bytes(b"xx")
    (d / "_SUCCESS").write_bytes(b"")
    fp = util.fingerprint(str(d))
    assert [r[0] for r in fp] == sorted(["_SUCCESS", os.path.join("p=0", "q=1", "part-0.parquet")])
    # an in-place edit two levels down changes no directory mtime, but must
    # still change the fingerprint
    leaf.write_bytes(b"yyy")
    assert util.fingerprint(str(d)) != fp


def test_session_exprs_keys_do_not_collide(spark):
    from pyspark.sql import functions as F

    util.memo_clear("session_exprs")
    a = util.session_exprs(spark, ("a:b", "c"), lambda: (F.lit("first"),))
    b = util.session_exprs(spark, ("a", "b:c"), lambda: (F.lit("second"),))
    assert a is not b
    assert util.session_exprs(spark, ("a:b", "c"), lambda: (F.lit("x"),)) is a


def test_load_revalidates_nested_partition_edit(spark, tmp_path):
    """A file rewritten in place inside a nested partition directory changes
    no directory mtime; tables.load must still hand out a fresh reader."""
    from pyspark.sql import functions as F

    sf = str(tmp_path / "sf")
    p = os.path.join(sf, "region.parquet")
    spark.range(6).withColumn("k", F.col("id") % 2).coalesce(1).write.partitionBy("k").parquet(p)
    d1 = tables.load(spark, sf, "region")
    assert tables.load(spark, sf, "region") is d1
    assert d1.count() == 6

    staging = str(tmp_path / "staging")
    spark.range(100, 110).coalesce(1).write.parquet(staging)
    src = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    part_dir = os.path.join(p, "k=0")
    victim = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
    # overwrite the data file and its checksum sidecar in place: no
    # directory entry is added or removed, so no directory mtime moves
    for name in (src, f".{src}.crc"):
        dst = victim if name == src else f".{victim}.crc"
        shutil.copyfile(os.path.join(staging, name), os.path.join(part_dir, dst))

    d2 = tables.load(spark, sf, "region")
    assert d2 is not d1
    assert d2.count() == 6 - 3 + 10


def test_views_of_many_sf_dirs_stay_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(util, "MEMO_BOUND", 3)
    names = set()
    for i in range(6):
        sf = str(tmp_path / f"sf{i}")
        os.symlink("/root/testdata/sf0.001", sf)
        names.add(tables.view(spark, sf, "region"))
    assert len(names) == 6  # one view name per sf_dir, no aliasing
    stats = util.memo_stats()
    assert stats["tables.view"]["size"] <= 3
    assert stats["tables.load"]["size"] <= 3


def test_bpe_model_retrains_when_documents_change(tmp_path, monkeypatch):
    from snapshot_sender_spark.queries import bpe_q

    trained = _Counter()
    monkeypatch.setattr(bpe_q, "load", lambda *a: None)
    monkeypatch.setattr(bpe_q.bpe, "train_bpe", lambda *a, **kw: trained())
    docs = tmp_path / "documents.parquet"
    docs.write_bytes(b"v1")
    spark = object()  # only the owner identity matters to the memo
    m1 = bpe_q._model(spark, str(tmp_path))
    assert bpe_q._model(spark, str(tmp_path)) is m1
    docs.write_bytes(b"v2 rewritten")
    m2 = bpe_q._model(spark, str(tmp_path))
    assert m2 is not m1 and trained.n == 2
    assert bpe_q._model(spark, str(tmp_path)) is m2


def test_headline_second_build_never_misses(spark, sf_dir):
    """The benchmark's warm path: once every headline query has been built,
    building them all again must hit every memo scope."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench
    from snapshot_sender_spark.queries import all_queries

    registry = all_queries()
    for name in bench.HEADLINE:
        registry[name].fn(spark, sf_dir)
    before = util.memo_stats()
    for name in bench.HEADLINE:
        registry[name].fn(spark, sf_dir)
    after = util.memo_stats()
    assert set(after) == set(before)
    misses = {s: after[s]["misses"] - before[s]["misses"] for s in after}
    assert all(m == 0 for m in misses.values()), misses
    assert sum(after[s]["hits"] - before[s]["hits"] for s in after) > 0
