import pytest

from perfbench import compare


def _result(cpus, p50, workload="analytics_headline"):
    return {"workload": workload, "trace": 0, "host": {"cpus": cpus},
            "all_metrics": {"op_p50_s": p50}}


def test_refuses_different_cpus():
    with pytest.raises(compare.Incomparable, match="different cpus"):
        compare.compare([_result(4, 1.0)], [_result(8, 0.5)])


def test_refuses_mixed_workloads():
    with pytest.raises(compare.Incomparable, match="workload"):
        compare.compare([_result(4, 1.0)], [_result(4, 1.0, "delivery_many_small")])


def test_reports_median_change():
    lines = compare.compare([_result(4, 1.0), _result(4, 1.2), _result(4, 1.1)],
                            [_result(4, 0.99)])
    assert lines[1].startswith("op_p50_s") and lines[1].endswith("-10.0%")
