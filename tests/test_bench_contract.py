"""bench.py stdout contract: the FINAL stdout line must be a compact JSON
summary that survives a consumer keeping only the last 2000 characters of
stdout (round 6 shipped no parseable headline because a single fat JSON
line overflowed exactly that window), and the detail JSON is written only
where BENCH_DETAIL_OUT points. No Spark session needed — the contract is a
pure string-building property."""

from __future__ import annotations

import json

import bench


def _fake_inputs():
    timings = {name: 1.234 for name in bench.HEADLINE}
    spreads = {name: 0.123 for name in bench.HEADLINE}
    extended = {name: 12.345 for name in bench.EXTENDED}
    calibration = {
        "probe": "window_sliding_stats",
        "start": 0.184,
        "end": 0.186,
        "extended_start": 0.185,
        "extended_end": 0.187,
    }
    return timings, spreads, extended, calibration


def test_summary_line_fits_tail_window_and_parses():
    timings, spreads, extended, calibration = _fake_inputs()
    line = bench.summary_line(10.0, timings, 0.1, spreads, calibration, extended)
    assert len(line) <= 1900, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_wall"
    assert parsed["value"] == 10.0
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    # full form retains the noise-evidence calibration + extended blocks
    assert parsed["calibration"]["probe"] == "window_sliding_stats"
    assert set(parsed["extended"]) == set(bench.EXTENDED)


def test_detail_payload_key_set():
    """BENCH_DETAIL must carry plan-exchange evidence for the EXTENDED
    section too (the most expensive registered plans are extended-only)
    plus the converged-graph iteration counts (r8 verdict #3 and #6)."""
    payload = bench.detail_payload(
        {}, {}, {}, 3, 5, {"q1": {"shuffle": 1, "broadcast": 0}},
        {}, {}, {},
        {"station_pagerank_converged": {"shuffle": 21, "broadcast": 18}},
        {"station_pagerank_converged": {"iterations": 12}},
        {"probe": "window_sliding_stats"},
    )
    assert {
        "metric", "runs", "query_start_offsets_sec", "spread",
        "runs_per_query", "runs_noisy_max", "plan_exchanges",
        "extended", "extended_spread", "extended_runs",
        "extended_plan_exchanges", "extended_meta", "calibration",
    } <= set(payload)
    assert payload["extended_plan_exchanges"]["station_pagerank_converged"]["shuffle"] == 21
    assert payload["extended_meta"]["station_pagerank_converged"]["iterations"] == 12


def test_summary_line_degrades_instead_of_overflowing():
    timings, spreads, extended, calibration = _fake_inputs()
    # a future registry 10x the extended list must shed detail, not overflow
    big_extended = {f"query_with_a_rather_long_name_{i:03d}": 1.0 for i in range(120)}
    big_extended.update(extended)
    line = bench.summary_line(10.0, timings, 0.1, spreads, calibration, big_extended)
    assert len(line) <= 1900, len(line)
    parsed = json.loads(line)
    # headline metric/value/queries are never shed
    assert parsed["metric"] == "headline_queries_total_wall"
    assert set(parsed["queries"]) == set(bench.HEADLINE)


def test_spread_escalation_has_an_absolute_arm():
    """r11 What's-wrong #3: bm25 read 4.50/5.79 — a 1.30 s spread a
    same-session hypervisor spike can straddle — yet relative spread
    (0.29) stayed under the 0.5 threshold, so the extended row kept just
    2 samples and contradicted three rounds of history. Escalation must
    trigger on a multi-second ABSOLUTE spread too; sub-second queries
    stay governed by the relative arm."""
    assert bench.needs_escalation([4.50, 5.79])  # the r11 bm25 pair
    assert bench.needs_escalation([1.0, 1.6])  # relative arm (60%)
    assert not bench.needs_escalation([0.20, 0.28])  # small + proportionate
    assert not bench.needs_escalation([4.50, 4.90])  # big but tight
    assert not bench.needs_escalation([4.50])  # one sample: nothing to judge


def test_summary_line_has_only_single_run_keys():
    """The final line and the detail describe this run alone: no ratio
    against an earlier run's probe floor (a floor measured on another host
    says nothing about this one)."""
    timings, spreads, extended, calibration = _fake_inputs()
    parsed = json.loads(bench.summary_line(10.0, timings, 0.1, spreads, calibration, extended))
    assert {"metric", "value", "unit", "queries", "extended"} <= set(parsed)
    assert not {"probe_ratio_vs_prev", "normalized_total"} & set(parsed)
    payload = bench.detail_payload({}, {}, {}, 3, 5, {}, {}, {}, {}, {}, {}, calibration)
    assert set(payload) == {
        "metric", "runs", "query_start_offsets_sec", "spread",
        "runs_per_query", "runs_noisy_max", "plan_exchanges",
        "extended", "extended_spread", "extended_runs",
        "extended_plan_exchanges", "extended_meta", "calibration",
    }


def test_detail_written_only_to_bench_detail_out(monkeypatch, tmp_path):
    """The detail JSON lands at $BENCH_DETAIL_OUT; with the variable unset
    no file is written, neither in the working directory nor in the repo."""
    import os

    detail = bench.detail_payload({}, {}, {}, 3, 5, {}, {}, {}, {}, {}, {}, {"probe": "x"})
    out = tmp_path / "out" / "detail.json"
    out.parent.mkdir()
    monkeypatch.setenv("BENCH_DETAIL_OUT", str(out))
    bench.write_detail(detail)
    assert json.loads(out.read_text()) == detail

    repo = os.path.dirname(os.path.abspath(bench.__file__))

    def details():
        return {n for n in os.listdir(repo) if n.startswith("BENCH_DETAIL")}

    repo_before = details()
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    monkeypatch.delenv("BENCH_DETAIL_OUT")
    bench.write_detail(detail)
    assert list(cwd.iterdir()) == []
    assert details() == repo_before
