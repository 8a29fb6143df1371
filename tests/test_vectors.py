"""k-means IVF training + the scale-safe embedding near-dup tier.

The oracle hash-match for ``ann_ivf_topk`` / ``dedup_embedding_ivf``
lives in tests/test_oracle.py (DuckDB replays the unrolled Lloyd
rounds bit-for-bit). Here: trainer determinism, the candidate/verify
contract (IVF pairs ⊆ exact pairs), measured recall on the fixture,
and full recall on planted near-duplicates — the operator's actual
production case (near-identical vectors land in the same cells).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowalert_spark import workload
from snowalert_spark.functions import similarity as S
from snowalert_spark.tables import table
from snowalert_spark.workload.vector import (
    KMEANS_ITERS,
    N_CENTROIDS,
    SIM_THRESHOLD,
    TRAIN_N,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return table(spark, SF, "embeddings")


def test_kmeans_deterministic(spark):
    emb = _emb(spark)
    fit = lambda: sorted(
        (r.cell, tuple(r.cent))
        for r in S.kmeans_fit(
            emb.filter(F.col("vec_id") < TRAIN_N), k=N_CENTROIDS, iters=KMEANS_ITERS
        ).collect()
    )
    a, b = fit(), fit()
    assert a == b
    assert len(a) == N_CENTROIDS
    # training moved the centroids off their seed vectors
    seeds = {
        r.vec_id: tuple(float(x) for x in r.embedding)
        for r in emb.filter(F.col("vec_id") < N_CENTROIDS).collect()
    }
    moved = sum(1 for cell, cent in a if cent != seeds[cell])
    assert moved == N_CENTROIDS


def test_ivf_pairs_subset_and_recall(spark):
    qs = workload.queries(include_local=True)
    exact = {
        (r.vec_a, r.vec_b): r.sim
        for r in qs["dedup_embedding_cosine"](spark, SF).collect()
    }
    ivf = {(r.vec_a, r.vec_b) for r in qs["dedup_embedding_ivf"](spark, SF).collect()}
    assert ivf <= set(exact), "IVF tier must never invent pairs"
    recall = len(ivf) / len(exact)
    # fixture vectors are near-orthogonal (max cos ≈ 0.51), so the low
    # 0.35 threshold sits at the cell-boundary regime — the measured
    # floor is ~0.72 at nprobe=2; genuine near-dups get full recall
    # (next test)
    assert recall >= 0.65, f"recall {recall:.3f} regressed"


def test_planted_near_dups_full_recall(spark):
    """Jittered copies (cos ≈ 0.999) of 30 corpus vectors must all be
    recovered by the IVF tier at a 0.9 threshold: near-identical
    vectors share nearest centroids, so multi-probe co-membership
    always proposes the pair."""
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 30)
    clones = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CASE WHEN i = 0 "
            "THEN CAST(x * 1.05 + 0.01 AS FLOAT) ELSE x END)"
        ).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(clones)
    cents = S.kmeans_fit(
        corpus.filter(F.col("vec_id") < TRAIN_N), k=N_CENTROIDS, iters=KMEANS_ITERS
    )
    pairs = S.cosine_pairs_ivf(
        corpus,
        cents.select(
            F.col("cell").alias("vec_id"), F.col("cent").alias("embedding")
        ),
        threshold=0.9,
        nprobe=2,
    )
    found = {(r.vec_a, r.vec_b) for r in pairs.collect()}
    planted = {(i, i + 100000) for i in range(30)}
    assert planted <= found, f"missed {sorted(planted - found)[:5]}"


def test_ivf_multiprobe_recall_dial(spark):
    """nprobe is the IVF recall dial: probing every cell must EQUAL
    brute force exactly, and recall vs brute force must be monotone
    non-decreasing in nprobe."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 8)
    cents = S.kmeans_fit(
        emb.filter(F.col("vec_id") < TRAIN_N), k=N_CENTROIDS, iters=KMEANS_ITERS
    ).select(F.col("cell").alias("vec_id"), F.col("cent").alias("embedding"))
    exact = sorted(
        (r.query_id, r.neighbor_id, r.sim)
        for r in S.brute_force_topk(emb, queries, k=3).collect()
    )
    prev_hits = -1
    exact_set = set(exact)
    for nprobe in (1, 2, N_CENTROIDS):
        got = sorted(
            (r.query_id, r.neighbor_id, r.sim)
            for r in S.ivf_topk(emb, cents, queries, k=3, nprobe=nprobe).collect()
        )
        hits = len(set(got) & exact_set)
        assert hits >= prev_hits, f"recall regressed at nprobe={nprobe}"
        prev_hits = hits
        if nprobe == N_CENTROIDS:
            assert got == exact, "full probe must equal brute force"


def test_ivfpq_full_probe_full_shortlist_equals_brute_force(spark):
    """IVF-PQ degenerate bound: probing every coarse cell with a
    shortlist >= the corpus makes the ADC stage a no-op filter and the
    exact re-rank the whole answer — the result must EQUAL brute force
    exactly. (The production dial then only ever removes candidates.)"""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 6)
    n = emb.count()
    exact = sorted(
        (r.query_id, r.neighbor_id, r.sim)
        for r in S.brute_force_topk(emb, queries, k=3).collect()
    )
    got = sorted(
        (r.query_id, r.neighbor_id, r.sim)
        for r in S.ivfpq_topk(
            spark, SF, emb, queries,
            train=emb.filter(F.col("vec_id") < TRAIN_N),
            dim=64, m=4, k=N_CENTROIDS, iters=KMEANS_ITERS,
            coarse_k=N_CENTROIDS, nprobe=N_CENTROIDS, shortlist=n, topk=3,
        ).collect()
    )
    assert got == exact


def test_ivfpq_subset_of_pq_at_same_shortlist(spark):
    """At the same shortlist, IVF-PQ's answer rows must come from the
    same ADC scoring as pq_topk — the coarse partition only restricts
    the candidate set, so every (query, neighbor, sim) IVF-PQ returns
    for a fully-probed query matches the PQ answer."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 4)
    kwargs = dict(
        train=emb.filter(F.col("vec_id") < TRAIN_N),
        dim=64, m=4, k=N_CENTROIDS, iters=KMEANS_ITERS,
        shortlist=50, topk=3,
    )
    pq = sorted(
        (r.query_id, r.neighbor_id, r.sim)
        for r in S.pq_topk(spark, SF, emb, queries, **kwargs).collect()
    )
    ivfpq = sorted(
        (r.query_id, r.neighbor_id, r.sim)
        for r in S.ivfpq_topk(
            spark, SF, emb, queries, coarse_k=N_CENTROIDS,
            nprobe=N_CENTROIDS, **kwargs,
        ).collect()
    )
    assert ivfpq == pq  # full probe -> same candidates -> same ADC path


def test_ivfpq_plan_no_nested_loop(spark):
    """The ann_ivfpq_topk plan: coarse cell + PQ codes are
    literal-codebook projections and the probe join is a broadcast
    hash equi-join on cell — no CartesianProduct, no
    BroadcastNestedLoopJoin anywhere (the LUTs are literals, unlike
    pq_topk's crossJoin-broadcast of the query frame)."""
    qs = workload.queries(include_local=True)
    plan = (qs["ann_ivfpq_topk"](spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_two_phase_topk_is_lossless(spark):
    """brute_force_topk / ivf_topk prune per input partition before
    the global rank (the partition-count window was the sf30 8.2x
    flaw). The prune is lossless by construction — any global top-k
    row is in its partition's top-k under the same total order — so
    across partitionings the result set must be IDENTICAL."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    want = None
    for parts in (1, 7, 32):
        got = sorted(
            (r.query_id, r.neighbor_id, r.sim)
            for r in S.brute_force_topk(
                corpus.repartition(parts), queries, k=10
            ).collect()
        )
        assert len(got) == 5 * 10
        if want is None:
            want = got
        else:
            assert got == want, f"partitioning {parts} changed top-k"


def test_cosine_pairs_guard_refuses_large_corpus(spark):
    """The exact all-pairs baseline must refuse a real-sized corpus:
    O(N²) pointed at production data is the one declared scale-unsafe
    plan, so the guard raises with a pointer to the IVF path."""
    emb = _emb(spark)
    with pytest.raises(ValueError, match="cosine_pairs_ivf"):
        S.cosine_pairs(emb, threshold=0.9, max_rows=10)
    # explicit override still runs the quadratic plan
    n = S.cosine_pairs(
        emb.filter(F.col("vec_id") < 20), threshold=-1.0, max_rows=None
    ).count()
    assert n == 20 * 19 // 2


def test_driver_registry_is_exactly_capped(spark):
    qs = workload.queries()
    assert len(qs) == workload.DRIVER_QUERY_CAP
    # every driver-declared query has an oracle except declared-weaker ones
    missing = set(qs) - set(workload.oracle_sql())
    assert missing == set(), f"driver queries without oracle: {missing}"
    # the round-1 unchecked vector queries are inside the cap now
    # (dedup_embedding_cosine rotated to LOCAL_ONLY in round 7 — its
    # scale tiers ivf/rplsh are the declared rows; the baseline keeps
    # its local oracle)
    # (embedding_label_stats joined it in the round-8 session-2
    # rotation — its agg shape ⊂ the declared q1 row)
    names = list(qs)
    # (dedup_embedding_ivf rotated to LOCAL_ONLY in round 11 — its IVF
    # training/assignment is the declared ann_ivf_topk and its
    # candidate/verify shape is the declared dedup_embedding_rplsh)
    for n in ("ann_ivf_topk", "dedup_embedding_rplsh"):
        assert names.index(n) < workload.DRIVER_QUERY_CAP
    for n in (
        "dedup_embedding_cosine",
        "embedding_label_stats",
        "dedup_embedding_ivf",
    ):
        assert n in workload.LOCAL_ONLY
        assert n in workload.oracle_sql(include_local=True)


def test_rplsh_pairs_subset_and_planted_recall(spark):
    """LSH tier contract: candidates verify exactly (⊆ exact pairs),
    and near-identical vectors (cos ≈ 0.999 → per-bit collision
    ≈ 0.99) are recovered through band co-occurrence."""
    qs = workload.queries(include_local=True)
    exact = {(r.vec_a, r.vec_b)
             for r in qs["dedup_embedding_cosine"](spark, SF).collect()}
    lsh = {(r.vec_a, r.vec_b)
           for r in qs["dedup_embedding_rplsh"](spark, SF).collect()}
    assert lsh <= exact, "LSH tier must never invent pairs"

    emb = _emb(spark)
    clones = emb.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CASE WHEN i = 0 "
            "THEN CAST(x * 1.05 + 0.01 AS FLOAT) ELSE x END)"
        ).alias("embedding"),
        "label",
    )
    pairs = S.cosine_pairs_rplsh(emb.unionByName(clones), threshold=0.9)
    found = {(r.vec_a, r.vec_b) for r in pairs.collect()}
    planted = {(i, i + 100000) for i in range(30)}
    missed = planted - found
    assert len(missed) <= 1, f"missed {sorted(missed)}"  # ≥ 29/30 recovered


def test_rplsh_plan_is_cartesian_free(spark):
    qs = workload.queries(include_local=True)
    plan = (qs["dedup_embedding_rplsh"](spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---- auto-tuned LSH parameters (round-7 verdict item 8) -------------------


def test_rplsh_params_reproduce_verified_default():
    """The shipped default (48 planes / 4 bands = 12-bit bands) must be
    exactly what the selector derives for the planted near-dup case."""
    assert S.rplsh_params(0.99, 0.95, max_planes=48) == (48, 4)
    assert S.rplsh_recall(0.99, 12, 4) >= 0.95


def test_rplsh_params_monotone_and_bounded():
    # harder target => no cheaper (less selective) band config
    n1, b1 = S.rplsh_params(0.9, 0.9)
    n2, b2 = S.rplsh_params(0.9, 0.99)
    assert S.rplsh_recall(0.9, n2 // b2, b2) >= 0.99
    assert n1 <= 48 and n2 <= 48
    # infeasible combos raise with guidance, not silently under-recall
    with pytest.raises(ValueError):
        S.rplsh_params(0.5, 0.999, max_planes=8, max_bands=2)
    with pytest.raises(ValueError):
        S.rplsh_params(0.9, 1.5)


def test_semantic_dedup_contract(spark):
    """SemDeDup keep-one-per-group: exactly one keeper per duplicate
    group, the keeper is the group's (cent_sim, vec_id)-minimal member
    (the paper keeps the example FARTHEST from the centroid), group
    ids are min member ids, and sizes add up to the corpus."""
    qs = workload.queries()
    rows = qs["semantic_dedup"](spark, SF).collect()
    emb_n = _emb(spark).count()
    assert len(rows) == emb_n
    by_group: dict[int, list] = {}
    for r in rows:
        by_group.setdefault(r.group_id, []).append(r)
    for gid, members in by_group.items():
        assert gid == min(m.vec_id for m in members)
        assert all(m.group_size == len(members) for m in members)
        keepers = [m for m in members if m.keep]
        assert len(keepers) == 1
        want = min(members, key=lambda m: (m.cent_sim, m.vec_id))
        assert keepers[0].vec_id == want.vec_id
    # pairs come only from shared cells, so any multi-member group is
    # single-cell at nprobe=1 CC-connected through shared-cell edges
    multi = [g for g, m in by_group.items() if len(m) > 1]
    assert multi, "fixture should produce at least one duplicate group"


def test_semantic_dedup_no_cartesian(spark):
    """Only product in the plan is the broadcast scan against the
    k(=8) centroids — the corpus-corpus candidate join is equi on
    cell, exactly like dedup_embedding_ivf."""
    qs = workload.queries()
    plan = (qs["semantic_dedup"](spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan


def test_rplsh_params_for_corpus_schedule():
    """Corpus-size-aware schedule: the driver-gate corpus (n <= 2^16)
    must get EXACTLY the (96, 6) shape the static DuckDB oracle
    replays; beyond that, bits per band track log2(n) (candidate
    volume O(n)) while recall at the design similarity holds."""
    from snowalert_spark.workload.vector import RP_PLANES, RP_BANDS

    for n in (1, 100, 2000, 20000, 65536):
        assert S.rplsh_params_for_corpus(n) == (RP_PLANES, RP_BANDS)
    for n in (200_000, 600_000, 2_000_000):
        planes, bands = S.rplsh_params_for_corpus(n)
        bits = planes // bands
        assert bits >= 16 and 2**bits >= n  # occupancy O(1)
        assert S.rplsh_recall(0.99, bits, bands) >= 0.97
    # monotone: more vectors never narrows the bands
    prev = 0
    for n in (10**4, 10**5, 10**6, 10**7, 10**8):
        planes, bands = S.rplsh_params_for_corpus(n)
        assert planes // bands >= prev
        prev = planes // bands


def test_rplsh_collision_prob_anchors():
    assert S.rp_collision_prob(1.0) == pytest.approx(1.0)
    assert S.rp_collision_prob(0.0) == pytest.approx(0.5)
    assert S.rp_collision_prob(-1.0) == pytest.approx(0.0)


def test_rplsh_chosen_params_hit_planted_recall(spark):
    """Property: parameters derived for (sim=0.99, recall>=0.9) must
    recover >= 90% of planted near-identical clones at sf0.01 — the
    selector's promise measured on real data, not just the formula."""
    n_planes, bands = S.rplsh_params(0.99, 0.9, max_planes=48)
    emb = table(spark, "/root/testdata/sf0.01", "embeddings")
    n_plant = 40
    clones = emb.filter(F.col("vec_id") < n_plant).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CASE WHEN i = 0 "
            "THEN CAST(x * 1.05 + 0.01 AS FLOAT) ELSE x END)"
        ).alias("embedding"),
        "label",
    )
    pairs = S.cosine_pairs_rplsh(
        emb.unionByName(clones), threshold=0.9,
        n_planes=n_planes, bands=bands,
    )
    found = {(r.vec_a, r.vec_b) for r in pairs.collect()}
    planted = {(i, i + 1000000) for i in range(n_plant)}
    recall = len(planted & found) / n_plant
    assert recall >= 0.9, f"planted recall {recall}"


def test_pq_codes_shape_and_determinism(spark):
    from snowalert_spark.workload.vector import PQ_M, embedding_pq_codes

    a = embedding_pq_codes(spark, "/root/testdata/sf0.001")
    rows = a.collect()
    assert rows, "corpus must code"
    for r in rows:
        for s in range(PQ_M):
            assert 0 <= r[f"code_{s}"] < 8
    b = {r["vec_id"]: tuple(r[f"code_{s}"] for s in range(PQ_M))
         for r in embedding_pq_codes(spark, "/root/testdata/sf0.001").collect()}
    a_map = {r["vec_id"]: tuple(r[f"code_{s}"] for s in range(PQ_M)) for r in rows}
    assert a_map == b, "coding must be rerun-deterministic"
    # codes must use more than one cell per subspace on real data
    for s in range(PQ_M):
        assert len({v[s] for v in a_map.values()}) > 1, f"subspace {s} collapsed"


def test_pq_topk_recall_vs_bruteforce(spark):
    """ADC shortlist + exact re-rank vs exhaustive top-3: PQ is lossy
    (4x8 spherical codebook), so pin the floor observed on the fixed
    corpus rather than perfection — and require the exact re-rank to
    make every returned sim truthful (it IS the exact cosine)."""
    from snowalert_spark.functions.similarity import brute_force_topk
    from snowalert_spark.workload.vector import N_QUERIES, ann_pq_topk
    from snowalert_spark.tables import table

    sf = "/root/testdata/sf0.001"
    emb = table(spark, sf, "embeddings")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(
            emb, emb.filter("vec_id < %d" % N_QUERIES), k=3
        ).collect()
    }
    got_rows = ann_pq_topk(spark, sf).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in got_rows}
    assert len(got_rows) == len(exact), "3 rows per query"
    recall = len(got & exact) / len(exact)
    # floor raised 0.7 -> 0.9 with the measured shortlist=400 default
    # (PQ_RECALL_CURVE.json, round-8 sweep)
    assert recall >= 0.9, f"ADC recall collapsed: {recall}"
    # returned sims are exact cosines: cross-check a row against
    # brute force where the pair overlaps
    bf_sims = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in brute_force_topk(
            emb, emb.filter("vec_id < %d" % N_QUERIES), k=3
        ).collect()
    }
    for r in got_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf_sims:
            assert abs(r["sim"] - bf_sims[key]) < 1e-9


def test_semantic_kmeans_params_schedule():
    """Gate corpora (n <= SEM_GATE_N = 2^14, covering every
    oracle-compared SF) keep EXACTLY the static-oracle (8, 64) shape;
    beyond, k grows with n (bounded) and train_n = 8k."""
    from snowalert_spark.workload.vector import (
        SEM_GATE_N,
        semantic_kmeans_params,
    )

    assert semantic_kmeans_params(500) == (N_CENTROIDS, TRAIN_N)
    assert semantic_kmeans_params(SEM_GATE_N) == (N_CENTROIDS, TRAIN_N)
    ks = [semantic_kmeans_params(n)[0] for n in (1 << 17, 1 << 19, 1 << 21)]
    assert ks == sorted(ks) and ks[0] < ks[-1]  # monotone growth
    k, tn = semantic_kmeans_params(600_000)
    assert k == 600_000 // 1024 and tn == 8 * k
    assert semantic_kmeans_params(10**9)[0] == 4096  # bounded


def test_semantic_dedup_broadcast_branch_matches_literal(spark, monkeypatch):
    """The scheduled (large-k) assignment path — broadcast codebook +
    map-side min-struct aggregate — must produce EXACTLY the gate
    branch's answers. Forced at gate k (k=8 <= 2^16 vectors) by
    dropping the literal-codebook ceiling to 0, so the only oracle
    gap left for the scheduled shape is candidate volume, which the
    sf10 sidecar probe records (round-8 verdict item 4)."""
    from snowalert_spark import workload
    from snowalert_spark.workload import vector as V

    sf = "/root/testdata/sf0.01"
    q = workload.queries(include_local=True)["semantic_dedup"]
    gate = sorted(tuple(r) for r in q(spark, sf).collect())
    monkeypatch.setattr(V, "SEM_LITERAL_K_MAX", 0)
    sched = sorted(tuple(r) for r in q(spark, sf).collect())
    assert sched == gate
    keeps = [r for r in gate if r[-1]]
    assert 0 < len(keeps) <= len(gate)


def test_kmeans_fit_multi_matches_single(spark):
    """The fused multi-group trainer (r14: one job for all PQ
    sub-space codebooks + the coarse one) is bit-identical per group
    to the single-group kmeans_fit — the extra grouping key changes
    partitioning, never the quantized-cosine assignment or the
    DECIMAL(25,12)-exact means."""
    from pyspark.sql import functions as F

    from snowalert_spark.functions import similarity as S
    from snowalert_spark.tables import table

    emb = table(spark, SF, "embeddings")
    train = emb.filter(F.col("vec_id") < 32)
    d = 16
    subs = [
        train.select(
            "vec_id", F.slice(F.col("embedding"), s * d + 1, d).alias("v")
        )
        for s in range(3)
    ]
    single = [
        {
            int(r["cell"]): [float(x) for x in r["cent"]]
            for r in S.kmeans_fit(sub, k=4, iters=2, vec_col="v").collect()
        }
        for sub in subs
    ]
    unioned = None
    for g, sub in enumerate(subs):
        t = sub.select(F.lit(g).alias("g"), "vec_id", "v")
        unioned = t if unioned is None else unioned.unionByName(t)
    multi_rows = S.kmeans_fit_multi(unioned, k=4, iters=2).collect()
    multi = [dict() for _ in subs]
    for r in multi_rows:
        multi[int(r["g"])][int(r["cell"])] = [float(x) for x in r["cent"]]
    assert multi == single


def test_trained_centroid_rows_multi_cache_and_order(spark):
    """trained_centroid_rows_multi fills the shared _CENTROID_CACHE
    under the same per-version keys as the single-path trainer and
    returns codebooks in entry order; a second call is a pure cache
    hit (no retraining divergence)."""
    from pyspark.sql import functions as F

    from snowalert_spark.functions import similarity as S
    from snowalert_spark.tables import table

    emb = table(spark, SF, "embeddings")
    train = emb.filter(F.col("vec_id") < 32)
    entries = [
        (f"{SF}#r14multi{i}", train.select("vec_id", "embedding"))
        for i in range(2)
    ]
    try:
        got = S.trained_centroid_rows_multi(spark, entries, k=4, iters=1)
        assert len(got) == 2
        for i in range(2):
            key = (f"{SF}#r14multi{i}", 4, 1)
            assert S._CENTROID_CACHE[key] == got[i]
        # single-path trainer on the same version key returns the
        # cached rows verbatim (shared key scheme)
        same = S.trained_centroid_rows(
            spark, f"{SF}#r14multi0", train, k=4, iters=1
        )
        assert same == got[0]
        again = S.trained_centroid_rows_multi(spark, entries, k=4, iters=1)
        assert again == got
    finally:
        for i in range(2):
            S._CENTROID_CACHE.pop((f"{SF}#r14multi{i}", 4, 1), None)


def test_trained_centroid_rows_multi_uses_the_validated_key(spark, monkeypatch):
    """The miss list and the returned codebooks use one key per entry:
    a validation that normalises the corpus version must not make the
    final lookup miss the codebook it just trained."""
    from pyspark.sql import functions as F

    from snowalert_spark.functions import similarity as S
    from snowalert_spark.tables import table

    monkeypatch.setattr(S, "validate_corpus_version", str.strip)
    monkeypatch.delenv("SNOWALERT_MODEL_DIR", raising=False)
    train = table(spark, SF, "embeddings").filter(F.col("vec_id") < 32)
    cv = f"{SF}#stripped"
    try:
        got = S.trained_centroid_rows_multi(
            spark, [(f"  {cv} ", train.select("vec_id", "embedding"))], k=4, iters=1
        )
        assert got == [S._CENTROID_CACHE[(cv, 4, 1)]] and got[0]
    finally:
        S._CENTROID_CACHE.pop((cv, 4, 1), None)


def test_empty_codebook_raises_naming_the_corpus_version(spark, monkeypatch):
    """A group whose training yields no centroid (here: no init ids
    below k) raises, naming its corpus version, instead of caching and
    publishing an empty codebook; the group trained beside it in the
    same fused call is not cached either."""
    monkeypatch.delenv("SNOWALERT_MODEL_DIR", raising=False)
    train = table(spark, SF, "embeddings").filter(F.col("vec_id") < 32)
    no_init = train.filter(F.col("vec_id") >= 4)
    good, bad = f"{SF}#good", f"{SF}#no-init"
    try:
        with pytest.raises(ValueError, match=bad):
            S.trained_centroid_rows(spark, bad, no_init, k=4, iters=1)
        with pytest.raises(ValueError, match=bad):
            S.trained_centroid_rows_multi(
                spark, [(good, train), (bad, no_init)], k=4, iters=1
            )
        assert (bad, 4, 1) not in S._CENTROID_CACHE
        assert (good, 4, 1) not in S._CENTROID_CACHE
    finally:
        for cv in (good, bad):
            S._CENTROID_CACHE.pop((cv, 4, 1), None)
