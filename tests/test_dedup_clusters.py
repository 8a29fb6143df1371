"""Connected-components cluster assignment (functions/dedup.py).

The oracle equivalence for the full dedup_clusters workload query is
covered by tests/test_oracle.py (recursive-CTE DuckDB oracle); these
tests pin the graph algorithm itself on hand-built graphs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowalert_spark.functions import dedup as D


def _cc(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    rows = D.connected_components(edges, **kw).collect()
    return {r["node"]: r["cluster_id"] for r in rows}


def test_chain_converges_to_min_label(spark):
    # a 5-node chain needs diameter-many propagation rounds
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_disjoint_components(spark):
    got = _cc(spark, [(1, 2), (10, 11), (11, 12), (10, 12), (20, 21)])
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_edge_direction_is_irrelevant(spark):
    # min label arriving from the dst side must still win
    got = _cc(spark, [(9, 3), (3, 7)])
    assert got == {3: 3, 7: 3, 9: 3}


def test_unconverged_raises(spark):
    with pytest.raises(RuntimeError, match="no fixpoint"):
        _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], max_iter=1,
            escalate=False, driver_max_edges=0)


def test_unconverged_escalates_to_star_by_default(spark):
    # same exhausted round budget, but escalate=True (default) hands
    # the graph to the alternating-star contraction instead of failing
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], max_iter=1,
              driver_max_edges=0)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_exact_dup_pairs_star_edges(spark):
    docs = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "aa"), (5, "cc")],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.exact_dup_pairs(docs).collect()
    }
    # star edges from the keeper (min id) to every other member
    assert pairs == {(1, 3), (1, 4)}


def test_cluster_sizes_and_representatives(spark):
    docs = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"), (3, "unique one")],
        "doc_id long, text string",
    )
    edges = D.exact_dup_pairs(docs)
    cc = D.connected_components(edges)
    base = (
        docs.select("doc_id")
        .join(cc, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
        )
    )
    got = {r["doc_id"]: r["cluster_id"] for r in base.collect()}
    assert got == {1: 1, 2: 1, 3: 3}


def test_random_graphs_match_union_find(spark):
    """Property check: the distributed fixpoint agrees with a plain
    union-find on pseudo-random graphs (deterministic seeds)."""
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        nodes = list(range(60))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(40)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        # reference: union-find with path compression
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {}
        touched = {n for e in edges for n in e}
        for n in touched:
            want[n] = find(n)
        # min-id canonicalization: map each root to min member
        comp_min = {}
        for n in touched:
            r = find(n)
            comp_min[r] = min(comp_min.get(r, n), n)
        want = {n: comp_min[find(n)] for n in touched}

        got = _cc(spark, edges)
        assert got == want, f"seed {seed}"


def _cc_star(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    rows = D.connected_components_star(edges, **kw).collect()
    return {r["node"]: r["cluster_id"] for r in rows}


def test_star_matches_min_label_on_basics(spark):
    for pairs in (
        [(1, 2), (2, 3), (3, 4), (4, 5)],
        [(1, 2), (10, 11), (11, 12), (10, 12), (20, 21)],
        [(9, 3), (3, 7)],
    ):
        assert _cc_star(spark, pairs) == _cc(spark, pairs)


def test_star_handles_long_chain_in_log_rounds(spark):
    """A 200-node path has diameter 199: min-label propagation would
    need ~199 rounds (its default max_iter=25 raises), while the
    alternating star contraction must finish within its default 30 —
    in practice O(log n) ~ 8."""
    chain = [(i, i + 1) for i in range(199)]
    with pytest.raises(RuntimeError, match="no fixpoint"):
        # min-label: diameter > max_iter (distributed path forced)
        _cc(spark, chain, escalate=False, driver_max_edges=0)
    got = _cc_star(spark, chain)
    assert got == {i: 0 for i in range(200)}


def test_star_random_graphs_match_union_find(spark):
    import random

    for seed in (5, 41):
        rng = random.Random(seed)
        nodes = list(range(50))
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(35)]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {n for e in edges for n in e}
        comp_min = {}
        for n in touched:
            r = find(n)
            comp_min[r] = min(comp_min.get(r, n), n)
        want = {n: comp_min[find(n)] for n in touched}
        assert _cc_star(spark, edges) == want


def test_driver_and_distributed_paths_agree(spark):
    """The graph-size-aware schedule must be invisible in results: the
    driver union-find (default for bounded edge lists) and the forced
    distributed propagation return identical labels."""
    import random

    rng = random.Random(5)
    edges = [
        (rng.randrange(80), rng.randrange(80)) for _ in range(60)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    fast = _cc(spark, edges)
    dist = _cc(spark, edges, driver_max_edges=0)
    assert fast == dist


def test_driver_path_on_raw_edges_matches_distributed(spark):
    """r13: the driver union-find path consumes the RAW pair list —
    directed, with duplicates, never symmetrized or deduped (union is
    symmetric and idempotent, so the distinct exchange the distributed
    path needs is pure overhead here). Same labels either way."""
    # duplicates both ways + self-contradicting directions
    pairs = [(5, 2), (2, 5), (5, 2), (2, 9), (9, 2), (30, 31), (31, 30)]
    via_driver = _cc(spark, pairs)  # default bound -> driver path
    via_dist = _cc(spark, pairs, driver_max_edges=0)  # forced distributed
    assert via_driver == via_dist == {2: 2, 5: 2, 9: 2, 30: 30, 31: 30}


@pytest.mark.parametrize("entry", ["star", "escalated"])
def test_range_derived_graph_labels(spark, entry):
    """A graph built from a filtered ``spark.range`` carries filter
    constraints into the symmetrize step; a self-union with the columns
    swapped made Catalyst's Union constraint rewrite raise
    ``NoSuchElementException: key not found: b``. Both the star entry
    and min-label's escalation into it must label such a graph."""
    g = (
        spark.range(8)
        .filter(F.col("id") % 4 != 0)
        .select(
            (F.col("id") - F.col("id") % 4).alias("doc_a"),
            F.col("id").alias("doc_b"),
        )
    )
    if entry == "star":
        out = D.connected_components_star(g)
    else:
        out = D.connected_components(g, max_iter=1, driver_max_edges=0)
    got = {r["node"]: r["cluster_id"] for r in out.collect()}
    assert got == {n: n - n % 4 for n in range(8)}


def test_escalation_starts_from_checkpointed_pairs(spark, monkeypatch):
    """The escalation hands the star the pairs min-label already
    checkpointed and counted, not the caller's plan: re-running that
    plan would evaluate the whole upstream pair pipeline a second
    time."""
    seen = []
    star = D.connected_components_star

    def capture(edges, *a, **k):
        seen.append(edges)
        return star(edges, *a, **k)

    monkeypatch.setattr(D, "connected_components_star", capture)
    g = spark.range(6).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    out = D.connected_components(g, max_iter=1, driver_max_edges=0)
    assert {r["node"]: r["cluster_id"] for r in out.collect()} == {
        n: 0 for n in range(7)
    }
    (entry,) = seen
    plan = entry._jdf.queryExecution().analyzed().toString()
    assert "Range" not in plan, plan
