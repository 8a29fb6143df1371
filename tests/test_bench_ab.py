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
