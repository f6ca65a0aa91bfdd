"""bench.py output contract: the single printed JSON line must fit the
driver's ~2 KB tail capture (BENCH_r05.json was "parsed": null because the
round-5 line carried raw laps + loadavg samples and outgrew it)."""

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def _fake_timings():
    # The real headline set plus the delivery pipeline — same key lengths the
    # real run produces.
    names = bench.HEADLINE + ["delivery_pipeline_100x1000"]
    return {n: 12.345 for n in names}


def test_compact_line_fits_tail_budget():
    med = _fake_timings()
    best = {n: v - 2.0 for n, v in med.items()}  # min <= median by construction
    line = bench.format_line(med, best, med, 0.1)
    assert len(line) < 1024, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_sec"
    assert parsed["unit"] == "sec"
    assert parsed["detail"] == "BENCH_DETAIL.json"
    assert set(parsed["queries"]) == set(best)
    # round-7 methodology: the headline value IS the best-of-laps total
    assert parsed["value"] == round(sum(best.values()), 3)
    assert parsed["value"] == parsed["best_total_sec"]
    assert parsed["median_total_sec"] == round(sum(med.values()), 3)


def test_oversized_medians_fall_back_to_totals_only():
    # Pathological: hundreds of long query names — the guard must drop the
    # per-query dict rather than breach the budget.
    t = {f"query_with_a_very_long_name_{i:04d}": 1.0 for i in range(300)}
    line = bench.format_line(t, t, t, 0.1)
    assert len(line) < 1024
    parsed = json.loads(line)
    assert "queries" not in parsed
    assert parsed["value"] == 300.0


def test_line_is_single_line_json():
    t = _fake_timings()
    line = bench.format_line(t, t, t, 0.01)
    assert "\n" not in line
    json.loads(line)  # round-trips


def test_line_carries_self_adjudicating_load():
    """Round-9 verdict #4: the printed line itself records start/end/lap-max
    1-min loadavg so a load-polluted round is visible WITHOUT the sidecar —
    and still fits the tail budget with every query present."""
    med = _fake_timings()
    best = {n: v - 2.0 for n, v in med.items()}
    load = {
        "start": [0.06, 0.1, 0.2],
        "end": [5.45, 3.2, 1.9],
        "laps": [[2.3, 1.0, 0.5], [5.45, 3.0, 1.5], []],
        "delivery_laps": [[6.7, 0.9, 0.8]],  # delivery laps count too
    }
    line = bench.format_line(med, best, med, 0.1, load=load)
    assert len(line) < 1200, len(line)
    parsed = json.loads(line)
    assert parsed["load1_start"] == 0.06
    assert parsed["load1_end"] == 5.45
    assert parsed["load1_lap_max"] == 6.7  # max over warm AND delivery laps
    # unreadable /proc/loadavg (non-Linux) degrades to no load keys, no crash
    bare = json.loads(
        bench.format_line(med, best, med, 0.1, load={"start": [], "end": [], "laps": []})
    )
    assert "load1_start" not in bare and "load1_lap_max" not in bare
    # key ORDER of the pre-existing fields is unchanged (cross-round parsers)
    keys = list(parsed)
    assert keys[:4] == ["metric", "value", "unit", "stat"]
    assert keys[-3:] == ["load1_start", "load1_end", "load1_lap_max"]


def test_load_gate_waits_are_bounded_and_reported(monkeypatch):
    """wait_for_quiet: sleeps only while load1 is above the threshold, spends
    at most the shared budget, and the printed line reports total waited_s."""
    med = {"q": 1.0}
    # the line surfaces the wait total
    load = {"start": [9.0, 1, 1], "end": [0.5, 1, 1],
            "laps": [[0.5, 1, 1]], "waits": [["cold", 30.0, 0.7], ["warm0", 15.0, 0.6]]}
    line = bench.format_line(med, med, med, 0.1, load=load)
    assert json.loads(line)["waited_s"] == 45.0

    # bounded: a never-quiet box stops at the budget, never spins forever
    slept = []
    monkeypatch.setattr(bench.time, "sleep", lambda s: slept.append(s))
    monkeypatch.setattr(bench, "loadavg", lambda: [99.0, 9, 9])
    bench._wait_budget[0] = 45.0
    samples = {}
    bench.wait_for_quiet("t", samples)
    assert sum(slept) == 45.0 and bench._wait_budget[0] == 0
    assert samples["waits"][0][0] == "t"
    # a quiet box never sleeps
    slept.clear()
    bench._wait_budget[0] = 100.0
    monkeypatch.setattr(bench, "loadavg", lambda: [0.3, 1, 1])
    bench.wait_for_quiet("t2", samples)
    assert not slept
    bench._wait_budget[0] = bench.MAX_WAIT_S


def test_stat_marker_reports_actual_lap_count():
    """Bonus laps change min-of-N: the stat marker must say so."""
    t = {"q": 1.0}
    assert json.loads(bench.format_line(t, t, t, 0.1))["stat"] == "min5"
    assert json.loads(bench.format_line(t, t, t, 0.1, laps_max=7))["stat"] == "min7"


def test_load_gate_is_self_load_aware(monkeypatch):
    """Round-12 gate: the bench's OWN just-finished burst must not trigger
    waits (its exponential decay is subtracted), while the same absolute
    load WITHOUT a self-anchor (= co-tenant) does."""
    slept = []
    monkeypatch.setattr(bench.time, "sleep", lambda s: slept.append(s))
    # co-tenant load 3.0, no self anchor: above 1.5 -> waits until budget out
    bench._self_anchor[0] = None
    monkeypatch.setattr(bench, "loadavg", lambda: [3.0, 3, 3])
    bench._wait_budget[0] = 30.0
    bench.wait_for_quiet("noisy", s1 := {})
    assert sum(slept) == 30.0 and s1["waits"]
    # same load 3.0 but OUR burst just ended at 3.2: fully explained -> no wait
    slept.clear()
    bench._wait_budget[0] = 100.0
    bench.mark_self_load()
    monkeypatch.setattr(bench, "loadavg", lambda: [3.0, 3, 3])
    bench._self_anchor[0] = (bench.time.monotonic(), 3.2)
    bench.wait_for_quiet("self", s2 := {})
    assert not slept and "waits" not in s2
    # an OLD anchor (decayed away) no longer excuses the load
    bench._self_anchor[0] = (bench.time.monotonic() - 600.0, 3.2)
    bench._wait_budget[0] = 15.0
    bench.wait_for_quiet("stale", s3 := {})
    assert sum(slept) == 15.0
    bench._self_anchor[0] = None
    bench._wait_budget[0] = bench.MAX_WAIT_S


def test_run_copy_refuses_same_second_overwrite(tmp_path):
    """Two runs stamped in the same second get the same per-run name; the
    second write must fail loudly and leave the first run's record intact."""
    name = "BENCH_DETAIL_c4_sf0.1_20260101T000000Z.json"
    path = bench.write_run_copy(str(tmp_path), name, {"run": 1})
    with pytest.raises(FileExistsError):
        bench.write_run_copy(str(tmp_path), name, {"run": 2})
    assert json.loads(Path(path).read_text()) == {"run": 1}
