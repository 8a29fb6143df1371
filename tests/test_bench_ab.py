"""tools/bench_ab.py: the per-metric comparison of an interleaved A/B."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "bench_ab",
    os.path.join(os.path.dirname(__file__), "..", "tools", "bench_ab.py"),
)
bench_ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_ab)


def _pairs(metric, parent, change):
    return [
        {"seed": 500 + i,
         "parent": {"ok": True, "metrics": {metric: a}},
         "change": {"ok": True, "metrics": {metric: b}}}
        for i, (a, b) in enumerate(zip(parent, change))
    ]


def test_seed_range_is_inclusive():
    assert bench_ab._seeds("501-503") == [501, 502, 503]
    assert bench_ab._seeds("7") == [7]


def test_lower_is_better_summary():
    pairs = _pairs("run_s_p50", [10, 12, 11, 13], [8, 9, 12, 9])
    m = bench_ab.summarize(pairs, {"name": "run_s_p50", "better": "lower", "bound": 0.25})
    assert m["wins"] == 3 and m["pairs"] == 4
    assert m["parent_median"] == 11.5 and m["change_median"] == 9
    assert m["ratio_min"] == 11 / 12 and m["ratio_max"] == 13 / 9
    assert m["within_bound"] and m["gap_exceeds_parent_iqr"] and m["resolved"]


def test_higher_is_better_bound_and_failed_pairs():
    pairs = _pairs("events_per_s", [100, 100, 100], [70, 80, 74])
    pairs[1]["change"] = {"ok": False, "metrics": {}}
    m = bench_ab.summarize(
        pairs, {"name": "events_per_s", "better": "higher", "bound": 0.25}
    )
    assert m["pairs"] == 2 and m["seeds"] == [500, 502]
    assert m["wins"] == 0 and m["change_median"] == 72
    assert not m["within_bound"]  # 28% worse than the parent's median
    assert m["resolved"]  # the parent's runs do not spread


def test_wide_parent_spread_is_unresolved():
    pairs = _pairs("setup_s", [10, 20, 10, 20], [15, 15, 15, 15])
    m = bench_ab.summarize(pairs, {"name": "setup_s", "better": "lower", "bound": 0.25})
    assert m["within_bound"] and not m["resolved"]


def test_claim_needs_nine_in_ten_wins_and_a_gap_over_the_iqr():
    rule = {"name": "run_s_p50", "better": "lower", "bound": 0.25}
    parent = [10, 11, 12, 10, 11, 12, 10, 11, 12, 11]
    m = bench_ab.summarize(_pairs("run_s_p50", parent, [p - 3 for p in parent]), rule)
    assert bench_ab.claim_met(m, 10)
    # nine wins of ten pairs still meet it; eight do not
    nine = [p - 3 for p in parent[:9]] + [13]
    assert bench_ab.claim_met(bench_ab.summarize(_pairs("run_s_p50", parent, nine), rule), 10)
    eight = [p - 3 for p in parent[:8]] + [13, 13]
    assert not bench_ab.claim_met(bench_ab.summarize(_pairs("run_s_p50", parent, eight), rule), 10)
    # every pair won, but by less than the parent's interquartile range
    m = bench_ab.summarize(_pairs("run_s_p50", parent, [p - 0.5 for p in parent]), rule)
    assert m["wins"] == 10 and not bench_ab.claim_met(m, 10)
    # a pair with a failed side is no win
    assert not bench_ab.claim_met(m | {"gap_exceeds_parent_iqr": True, "wins": 9}, 11)


def test_workloads_interleave_per_seed_and_claim_is_reported(tmp_path, monkeypatch, capsys):
    import json

    for side in ("parent", "change"):
        (tmp_path / side).mkdir()
    (tmp_path / "change" / "BENCHMARK.json").write_text(json.dumps({
        "command": ["run"], "run_seconds": 1,
        "end_to_end": [{"name": "run_s_p50", "better": "lower", "bound": 0.25}],
    }))
    calls = []

    def fake_run(cmd, cwd, workload, seed, seconds):
        side = os.path.basename(cwd)
        calls.append((seed, workload, side))
        return {"ok": True, "metrics": {"run_s_p50": 10.0 if side == "parent" else 5.0}}

    monkeypatch.setattr(bench_ab, "_run", fake_run)
    rc = bench_ab.main(["--parent", str(tmp_path / "parent"),
                        "--change", str(tmp_path / "change"),
                        "--workload", "a,b", "--seeds", "1-2", "--claim", "run_s_p50"])
    assert rc == 0
    assert calls == [(1, "a", "parent"), (1, "a", "change"),
                     (1, "b", "parent"), (1, "b", "change"),
                     (2, "a", "change"), (2, "a", "parent"),
                     (2, "b", "change"), (2, "b", "parent")]
    reports = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["reports"]
    assert [(r["workload"], r["pairs"], r["claim_met"]) for r in reports] == [
        ("a", 2, True), ("b", 2, True)]
