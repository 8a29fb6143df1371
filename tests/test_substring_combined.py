"""dedupe_substrings: the one substring operator (spans report +
keep-one removal from ONE fingerprint exchange;
repeated_substring_spans and remove_repeated_substrings are its
projections).

Pins:
1. all eight output columns equal a pure-Python brute force on
   planted-repeat corpora (misaligned offsets + exactly-window
   repeats), and so do the spans projection and a 50%-hot-key corpus;
2. removal keeps exactly the globally-first occurrence;
3. docs with no repeats pass through untouched (zero stats, identical
   clean_text);
4. plan shape: the combined row performs ONE corpus-chars fingerprint
   stream (the spans and removal projections perform one each),
   counted via the explode/generate nodes in the plan; the per-hash
   totals combine map-side;
5. the counts hold with ANSI mode off, where ``size(NULL)`` is -1;
6. job budget: each operator runs one scan, with no probe or
   prefilter jobs in front of it.

The corpus helpers here are shared by the cross-snapshot and
streaming substring suites.
"""

from __future__ import annotations

import math
import random

import pytest

from snowalert_spark.functions import dedup as DD

L = 40

#: Spark jobs one warm collect of an operator may run on the job-budget
#: corpus. The single scan runs 8 on 4 cores; a count, sample probe or
#: prefilter pass in front of it runs 14 or more.
JOB_BUDGET = 10


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rand_text(rng, n):
    return "".join(rng.choice("abcdefgh ") for _ in range(n))


def _corpus(seed):
    rng = random.Random(seed)
    rows = []
    shared = _rand_text(rng, L + rng.randrange(0, 30))  # >= window repeat
    exact = _rand_text(rng, L)  # exactly-window repeat
    for i in range(24):
        t = _rand_text(rng, rng.randrange(30, 220))
        if i % 4 == 0:
            # misaligned offsets: insert at a random position
            p = rng.randrange(0, max(1, len(t)))
            t = t[:p] + shared + t[p:]
        if i % 7 == 0:
            p = rng.randrange(0, max(1, len(t)))
            t = t[:p] + exact + t[p:]
        rows.append((i, t))
    return rows


def _expected(rows, window=L, min_count=2):
    """Brute force over ``(doc_id, text)`` rows: count every
    length-``window`` window corpus-wide; a window counted
    ``min_count``+ times is a hit; every hit but the min (doc_id, pos)
    occurrence of its content is cut; hits merge into maximal spans
    and the cut windows are excised."""
    occ: dict[str, list[tuple[int, int]]] = {}
    for doc_id, t in rows:
        for i in range(len(t) - window + 1):
            occ.setdefault(t[i : i + window], []).append((doc_id, i + 1))
    out = {}
    for doc_id, t in rows:
        hits, cuts = [], []
        for i in range(len(t) - window + 1):
            o = occ[t[i : i + window]]
            if len(o) >= min_count:
                hits.append(i + 1)
                if (doc_id, i + 1) != min(o):
                    cuts.append(i + 1)
        n_spans = covered = 0
        cur_end = -2
        for p in hits:
            if p > cur_end + 1:
                n_spans += 1
                covered += window
            else:
                covered += p + window - 1 - cur_end
            cur_end = p + window - 1
        removed = set()
        for p in cuts:
            removed.update(range(p - 1, p - 1 + window))
        clean = "".join(c for j, c in enumerate(t) if j not in removed)
        frac = covered / len(t) if t else 0.0
        out[doc_id] = (
            clean,
            len(hits),
            n_spans,
            covered,
            math.floor(frac * 1e6 + 0.5) / 1e6,
            len(t) - len(clean),
            len(cuts),
        )
    return out


def _got(d, **kw):
    return {
        r["doc_id"]: (
            r["clean_text"],
            r["n_dup_windows"],
            r["n_spans"],
            r["dup_chars"],
            r["dup_frac"],
            r["removed_chars"],
            r["n_removed_windows"],
        )
        for r in DD.dedupe_substrings(d, **kw).collect()
    }


def _spans(df):
    return {
        r["doc_id"]: (r["n_dup_windows"], r["n_spans"], r["dup_chars"])
        for r in df.collect()
    }


def _expected_spans(rows):
    return {k: v[1:4] for k, v in _expected(rows).items()}


def test_combined_equals_union_of_halves(spark):
    for seed in (1, 5, 9):
        rows = _corpus(seed)
        got = _got(_mkdocs(spark, rows))
        assert got == _expected(rows), f"diverged from brute force (seed {seed})"


def test_spans_match_brute_force_reference(spark):
    rows = _corpus(11)
    got = _spans(DD.repeated_substring_spans(_mkdocs(spark, rows)))
    assert got == _expected_spans(rows)


def test_hot_key_counts_collapse_mapside(spark):
    """One fingerprint = ~50% of the corpus: the per-hash totals must
    PARTIAL-aggregate map-side straight off the fingerprint stream.
    The hot key collapses to one row per input partition before the
    only shuffle (no static (h, salt) repartition of the expanded
    stream), and the span output must still match the brute force."""
    rng = random.Random(7)
    boiler = _rand_text(rng, L)  # the hot window, repeated everywhere
    rows = [(i, boiler + _rand_text(rng, L)) for i in range(300)]
    df = DD.repeated_substring_spans(_mkdocs(spark, rows))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan, "totals must map-side combine"
    assert "salt" not in plan, "static salting must stay gone"
    assert _spans(df) == _expected_spans(rows)


def test_removal_keeps_globally_first_occurrence(spark):
    """The keep-one rule is min (doc_id, pos): doc 1 keeps its copy,
    doc 2's is excised."""
    rng = random.Random(9)
    shared = _rand_text(rng, L)
    rows = [(1, shared + "x"), (2, "yz" + shared)]
    got = {
        r["doc_id"]: (r["clean_text"], r["removed_chars"])
        for r in DD.remove_repeated_substrings(_mkdocs(spark, rows)).collect()
    }
    assert got[1] == (shared + "x", 0)
    assert got[2] == ("yz", L)


def test_no_repeat_docs_pass_through(spark):
    rng = random.Random(77)
    # distinct random docs, no planted repeats; collisions of 40-char
    # windows over a 9-letter alphabet are effectively impossible
    rows = [(i, _rand_text(rng, rng.randrange(50, 200))) for i in range(12)]
    d = _mkdocs(spark, rows)
    got = _got(d)
    for doc_id, text in rows:
        assert got[doc_id] == (text, 0, 0, 0, 0.0, 0, 0)


def test_half_the_fingerprint_expansions_in_plan(spark):
    """The whole point: half the corpus-chars expansions. Each
    operator's fingerprint stream has two consumers (per-hash totals +
    position probe) and Catalyst dedups exchanges, not arbitrary
    subtrees, so one operator plans 2 Generate(explode) of the
    fingerprint stream and running both halves plans 4. The combined
    operator must plan exactly 2 — the shared-stream saving this row
    exists for."""
    d = _mkdocs(spark, _corpus(2))

    def n_gen(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("Generate explode")

    combined = n_gen(DD.dedupe_substrings(d))
    halves = n_gen(DD.repeated_substring_spans(d)) + n_gen(
        DD.remove_repeated_substrings(d)
    )
    assert combined == 2, f"expected 2 fingerprint expansions, got {combined}"
    assert halves == 4, f"expected the halves to plan 4, got {halves}"


def test_counts_with_ansi_off(spark):
    """With ANSI mode off, ``size(NULL)`` is -1, not NULL: a doc with
    no repeated window must still report 0 removed windows."""
    rows = [(1, "abcdefghij" * 2), (2, "short")]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        got = _got(_mkdocs(spark, rows), window=5)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == _expected(rows, window=5)


@pytest.mark.parametrize(
    "op",
    [
        DD.dedupe_substrings,
        DD.repeated_substring_spans,
        DD.remove_repeated_substrings,
    ],
    ids=["full", "spans", "removal"],
)
def test_operator_job_budget(spark, last_job_id, op):
    """Collecting an operator's output runs one scan of the corpus: the
    fingerprint aggregate, the position probe and the per-doc step,
    with no count, sample probe or prefilter pass in front of them."""
    d = _mkdocs(
        spark, [(100 * k + i, t) for k in (1, 2, 3) for i, t in _corpus(k)]
    )
    op(d).collect()  # warm up: first-use class loading, not the budget
    before = last_job_id()
    op(d).collect()
    assert last_job_id() - before <= JOB_BUDGET
