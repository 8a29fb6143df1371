"""dedupe_substrings: the one substring operator (spans report +
keep-one removal from ONE fingerprint exchange;
repeated_substring_spans and remove_repeated_substrings are its
projections).

Pins:
1. all eight output columns equal a pure-Python brute force on
   planted-repeat corpora (misaligned offsets + exactly-window
   repeats);
2. the output is identical under every prefilter mode;
3. docs with no repeats pass through untouched (zero stats, identical
   clean_text);
4. plan shape: the combined row performs ONE corpus-chars fingerprint
   stream (the spans and removal projections perform one each),
   counted via the explode/generate nodes in the plan;
5. the counts hold with ANSI mode off, where ``size(NULL)`` is -1.
"""

from __future__ import annotations

import math
import random

from snowalert_spark.functions import dedup as DD

from test_substring_prefilter import _corpus, _mkdocs, _rand_text

L = 40


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


def test_combined_equals_union_of_halves(spark):
    for seed in (1, 5, 9):
        rows = _corpus(seed)
        got = _got(_mkdocs(spark, rows), prefilter=False)
        assert got == _expected(rows), f"diverged from brute force (seed {seed})"


def test_combined_identical_under_prefilter_modes(spark):
    d = _mkdocs(spark, _corpus(3))
    plain = _got(d, prefilter=False)
    assert _got(d, prefilter=True) == plain
    assert _got(d, prefilter="auto") == plain


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
    exists for (prefilter=False so only the stride-1 stream
    generates)."""
    d = _mkdocs(spark, _corpus(2))

    def n_gen(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("Generate explode")

    combined = n_gen(DD.dedupe_substrings(d, prefilter=False))
    halves = n_gen(DD.repeated_substring_spans(d, prefilter=False)) + n_gen(
        DD.remove_repeated_substrings(d, prefilter=False)
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
        got = _got(_mkdocs(spark, rows), window=5, prefilter=False)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == _expected(rows, window=5)
