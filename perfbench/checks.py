"""Output checks. Every problem found is one line of text; an operation with
any problem counts as failed."""

from __future__ import annotations

import hashlib
import importlib.util
import os
import pickle

import pyarrow.parquet as pq

from .inputs import TOPIC, DeliveryFixture, OpDirs, output_name


def check_delivery(fixture: DeliveryFixture, dirs: OpDirs, finished: list[str],
                   report, correlation_id: str) -> list[str]:
    """What a restarted delivery job must leave behind: every file not yet
    finished delivered byte-equal to the plaintext gzip the generator
    produced, one ``.finished`` marker per file, every record parsed, and a
    ``Sent n/n`` status row."""
    problems = []
    done = set(finished)
    todo = [f for f in fixture.files if f not in done]
    n = len(todo)
    if report.files_delivered != n:
        problems.append(f"files_delivered={report.files_delivered}, expected {n}")
    if report.records_parsed != n * fixture.records_per_file:
        problems.append(
            f"records_parsed={report.records_parsed}, expected {n * fixture.records_per_file}")

    outputs = set(os.listdir(dirs.output_dir))
    for name in todo:
        out = output_name(name)
        if out not in outputs:
            problems.append(f"missing output {out}")
            continue
        outputs.discard(out)
        with open(os.path.join(dirs.output_dir, out), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != fixture.digests[name]:
                problems.append(f"output {out} differs from the generated plaintext")
    stray = sorted(o for o in outputs if not o.endswith("_successful.gz"))
    if stray:
        problems.append(f"unexpected outputs {stray[:3]}")

    markers = sorted(os.listdir(dirs.status_dir))
    if markers != sorted(f + ".finished" for f in fixture.files):
        problems.append(f"{len(markers)} entries in the status dir, expected one "
                        f".finished marker per file ({len(fixture.files)})")

    if report.collection_status != "Sent":
        problems.append(f"collection_status={report.collection_status}")
    rows = [r for r in pq.read_table(dirs.status_table).to_pylist()
            if r["CorrelationId"] == correlation_id and r["CollectionName"] == TOPIC]
    if len(rows) != 1 or (rows[0]["CollectionStatus"], rows[0]["FilesExported"],
                          rows[0]["FilesSent"]) != ("Sent", n, n):
        problems.append(f"status rows {rows}, expected one Sent {n}/{n}")
    return problems


def _check_oracle_module(repo_root: str):
    """``tools/check_oracle.py``: its normalisation and dtype-parity rules
    are the repository's definition of "matches the oracle"."""
    path = os.path.join(repo_root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OracleCheck:
    """Compares a query's Spark result with its registered DuckDB oracle.

    The oracle answers depend only on the analytics tables and the oracle
    SQL, so they are computed once and cached in ``cache_dir``, as pickles
    this class wrote itself, one file per content of the tables, keyed by
    the SQL text inside it."""

    def __init__(self, repo_root: str, data_dir: str, cache_dir: str, names: list[str]):
        import __spark_entry__ as entry

        self.co = _check_oracle_module(repo_root)
        oracles = entry.oracle_sql()
        cached = {}  # name -> (oracle SQL, DuckDB answer)
        digest = hashlib.sha256()
        for name in sorted(os.listdir(data_dir)):
            with open(os.path.join(data_dir, name), "rb") as fh:
                digest.update(name.encode() + fh.read())
        cache = os.path.join(cache_dir, f"oracle-{digest.hexdigest()[:16]}.pickle")
        if os.path.exists(cache):
            with open(cache, "rb") as fh:
                cached = pickle.load(fh)
        missing = [n for n in names if cached.get(n, ("",))[0] != oracles[n]]
        if missing:
            import duckdb

            from snapshot_sender_spark.tables import TABLE_NAMES

            con = duckdb.connect()
            try:
                for t in TABLE_NAMES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
                for name in missing:
                    cached[name] = (oracles[name], con.execute(oracles[name]).fetchdf())
            finally:
                con.close()
            tmp = f"{cache}.tmp{os.getpid()}"
            with open(tmp, "wb") as fh:
                pickle.dump(cached, fh)
            os.replace(tmp, cache)
        self.expected = {n: cached[n][1] for n in names}

    def problems(self, name: str, spark_pdf) -> list[str]:
        opd = self.expected[name]
        scols, srows = self.co.normalize(spark_pdf)
        ocols, orows = self.co.normalize(opd)
        if [c.lower() for c in scols] != [c.lower() for c in ocols]:
            return [f"{name}: columns {scols} != oracle {ocols}"]
        if len(srows) != len(orows):
            return [f"{name}: {len(srows)} rows != oracle {len(orows)}"]
        if srows != orows:
            return [f"{name}: values differ from the oracle"]
        return [f"{name}: dtype {d}" for d in self.co.dtype_divergence(spark_pdf, opd)]
