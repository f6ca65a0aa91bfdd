"""Delivery input generation and per-operation staging.

Generated inputs are cached under the benchmark's work directory, keyed by
what determines them, so only the first run of a (seed, shape) pays for
generation; that time is never part of a reported metric.

Delivery fixtures come from the product's own generator,
``sources.fixtures.generate``, once per (seed, shape). Each delivery job
then gets a fresh hard-linked copy of the input directory plus fresh
status and output directories, so the reader-handle memos in
``sources.listing`` miss exactly as they do for a new S3 prefix.

The analytics workload reads the sf0.1 testdata tables committed under
``perfbench/data/sf0.1``; nothing is generated for it.
"""

from __future__ import annotations

import base64
import gzip
import hashlib
import inspect
import json
import os
import random
import shutil
from dataclasses import dataclass

TOPIC = "db.core.claimant"


def _source_tag(obj) -> str:
    """Short hash of the code that generates a cache entry, so an edited
    generator never reuses an entry written by the old one."""
    return hashlib.sha256(inspect.getsource(obj).encode()).hexdigest()[:10]


def _atomic_build(final_dir: str, build) -> None:
    """Run ``build(tmp_dir)`` and rename the result into place, so a run that
    dies mid-generation never leaves a half-written cache entry behind."""
    if os.path.isdir(final_dir):
        return
    tmp = f"{final_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final_dir)


# --------------------------------------------------------------- delivery


def output_name(enc_name: str) -> str:
    """Name the sink gives a delivered file: ``.txt.gz.enc`` → ``.json.gz``."""
    return enc_name[: -len(".txt.gz.enc")] + ".json.gz"


def _aes_ctr(data: bytes, key: bytes, iv: bytes) -> bytes:
    """AES/CTR/NoPadding through ``cryptography`` directly: the expected
    outputs must not come from the product's own decrypt kernel."""
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    dec = Cipher(algorithms.AES(key), modes.CTR(iv)).decryptor()
    return dec.update(data) + dec.finalize()


@dataclass
class DeliveryFixture:
    input_dir: str
    files: list[str]  # encrypted object names, sorted
    records_per_file: int
    digests: dict[str, str]  # encrypted name -> sha256 of its plaintext gzip
    input_bytes: int  # bytes on disk of the objects plus the sidecar


def delivery_fixture(cache_dir: str, seed: int, n_files: int, records: int) -> DeliveryFixture:
    """The cached fixture for (seed, shape), generated on first use."""
    from snapshot_sender_spark.sources import fixtures as fx

    prefix = f"delivery-{n_files}x{records}-{_source_tag(fx)}-seed"
    root = os.path.join(cache_dir, f"{prefix}{seed}")

    def build(tmp: str) -> None:
        fx.generate(tmp, topic=TOPIC, n_files=n_files, records_per_file=records, seed=seed)
        digests = {}
        input_dir = os.path.join(tmp, "input")
        with open(os.path.join(input_dir, "metadata.sidecar.jsonl")) as fh:
            for line in fh:
                meta = json.loads(line)
                key = base64.b64decode(fx.decrypt_data_key(meta["cipherText"]))
                with open(os.path.join(input_dir, meta["fileName"]), "rb") as enc:
                    plain = _aes_ctr(enc.read(), key, base64.b64decode(meta["iv"]))
                if gzip.decompress(plain).count(b"\n") != records:
                    raise RuntimeError(f"fixture {meta['fileName']} does not hold {records} lines")
                digests[meta["fileName"]] = hashlib.sha256(plain).hexdigest()
        with open(os.path.join(tmp, "digests.json"), "w") as fh:
            json.dump(digests, fh, sort_keys=True)

    _atomic_build(root, build)
    _prune(cache_dir, "delivery-", keep=root)
    input_dir = os.path.join(root, "input")
    with open(os.path.join(root, "digests.json")) as fh:
        digests = json.load(fh)
    size = sum(os.path.getsize(os.path.join(input_dir, f)) for f in os.listdir(input_dir))
    return DeliveryFixture(input_dir, sorted(digests), records, digests, size)


def _prune(cache_dir: str, prefix: str, keep: str, limit: int = 4) -> None:
    """Keep the cache bounded: at most ``limit`` delivery fixtures."""
    entries = sorted(
        (os.path.join(cache_dir, e) for e in os.listdir(cache_dir)
         if e.startswith(prefix) and ".tmp" not in e),
        key=os.path.getmtime,
    )
    for path in entries[:-limit]:
        if path != keep:
            shutil.rmtree(path, ignore_errors=True)


@dataclass
class OpDirs:
    root: str
    input_dir: str
    status_dir: str
    output_dir: str
    status_table: str


def stage_delivery_op(fixture: DeliveryFixture, op_root: str, finished: list[str]) -> OpDirs:
    """A fresh input prefix (hard links to the cached objects), a status dir
    holding ``.finished`` markers for ``finished`` (a restart), and an empty
    output dir."""
    shutil.rmtree(op_root, ignore_errors=True)
    dirs = OpDirs(
        op_root,
        os.path.join(op_root, "input"),
        os.path.join(op_root, "status"),
        os.path.join(op_root, "output"),
        os.path.join(op_root, "status_table.parquet"),
    )
    for d in (dirs.input_dir, dirs.status_dir, dirs.output_dir):
        os.makedirs(d)
    for name in os.listdir(fixture.input_dir):
        os.link(os.path.join(fixture.input_dir, name), os.path.join(dirs.input_dir, name))
    for name in finished:
        with open(os.path.join(dirs.status_dir, name + ".finished"), "w") as fh:
            fh.write(f"Finished {name}")
    return dirs


def restart_markers(files: list[str], seed: int, share: float) -> list[str]:
    """The seeded subset of files an interrupted earlier run already sent."""
    return sorted(random.Random(seed).sample(files, int(len(files) * share)))
