import pytest

from perfbench import run


def test_declared_units_follow_the_naming_convention():
    """The detail line derives units from metric names; BENCHMARK.json must agree."""
    for kind in ("end_to_end", "per_layer"):
        for name, unit in run.declared(kind).items():
            assert run.unit_of(name) == unit, name


def test_missing_product_exits_nonzero(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "analytics_headline", "--seed", "1",
                     "--seconds", "1"]) == 2
    assert capsys.readouterr().out == ""


def test_idle_layer_counts_are_zero():
    units = {"delivery.tasks_per_op": "count", "exec.tasks": "count"}
    values = {"exec.tasks": 40}
    run.complete(values, units, "analytics_headline")
    assert values == {"exec.tasks": 40, "delivery.tasks_per_op": 0}


def test_missing_metric_of_an_entered_layer_fails():
    units = {"delivery.decrypt_rows_per_file": "ratio", "queries.py4j_calls": "count"}
    with pytest.raises(RuntimeError, match="delivery.decrypt_rows_per_file"):
        run.complete({}, units, "delivery_many_small")
