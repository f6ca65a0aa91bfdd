"""The delivery output checker, against a hand-made correct delivery."""

import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, inputs


@pytest.fixture
def delivered(tmp_path):
    fixture = inputs.delivery_fixture(str(tmp_path / "cache"), seed=7, n_files=4, records=3)
    finished = fixture.files[:1]
    dirs = inputs.stage_delivery_op(fixture, str(tmp_path / "op"), finished)
    for name in fixture.files[1:]:  # what a correct job leaves behind
        plain = _plaintext(fixture, name)
        with open(os.path.join(dirs.output_dir, inputs.output_name(name)), "wb") as fh:
            fh.write(plain)
        with open(os.path.join(dirs.status_dir, name + ".finished"), "w") as fh:
            fh.write(f"Finished {name}")
    pq.write_table(pa.table({
        "CorrelationId": ["c1"], "CollectionName": [inputs.TOPIC],
        "CollectionStatus": ["Sent"], "FilesExported": [3], "FilesSent": [3],
    }), dirs.status_table)
    report = SimpleNamespace(files_delivered=3, records_parsed=9, collection_status="Sent")
    return fixture, dirs, finished, report


def _plaintext(fixture, name):
    import base64
    import json

    from snapshot_sender_spark.sources import fixtures as fx

    with open(os.path.join(fixture.input_dir, "metadata.sidecar.jsonl")) as fh:
        meta = next(m for m in map(json.loads, fh) if m["fileName"] == name)
    key = base64.b64decode(fx.decrypt_data_key(meta["cipherText"]))
    with open(os.path.join(fixture.input_dir, name), "rb") as fh:
        return inputs._aes_ctr(fh.read(), key, base64.b64decode(meta["iv"]))


def test_correct_delivery_passes(delivered):
    fixture, dirs, finished, report = delivered
    assert checks.check_delivery(fixture, dirs, finished, report, "c1") == []


def test_flipped_byte_fails(delivered):
    fixture, dirs, finished, report = delivered
    path = os.path.join(dirs.output_dir, inputs.output_name(fixture.files[2]))
    with open(path, "r+b") as fh:
        first = fh.read(1)
        fh.seek(0)
        fh.write(bytes([first[0] ^ 0x01]))
    problems = checks.check_delivery(fixture, dirs, finished, report, "c1")
    assert problems == [f"output {inputs.output_name(fixture.files[2])} differs "
                        "from the generated plaintext"]


def test_missing_marker_and_wrong_status_fail(delivered):
    fixture, dirs, finished, report = delivered
    os.remove(os.path.join(dirs.status_dir, fixture.files[3] + ".finished"))
    report.collection_status = "Exported"
    problems = checks.check_delivery(fixture, dirs, finished, report, "c1")
    assert len(problems) == 2
