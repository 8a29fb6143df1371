"""cross_snapshot_substring_removal (r12): incremental keep-one
removal of a NEW doc batch against a published BASE corpus.

Pins:
1. union equivalence — with base ids below new ids, the incremental
   result equals remove_repeated_substrings on base ∪ new restricted
   to new ids (the prefix-monotone keep-one rule), at min_count 2 AND
   3;
2. the precomputed base_counts fast path (the persisted
   substring_fingerprint_counts table — no base text re-scan) is
   bit-identical to passing base_docs;
3. base-absent repeats inside the new batch still keep their first
   new occurrence; base-present content is cut from every new doc;
4. exactly one of base_docs / base_counts must be passed;
5. substring_fingerprint_counts stamps its build ``window`` into the
   table, and a mismatched or malformed ``base_counts`` is refused
   while a legacy un-stamped table is still accepted.
"""

from __future__ import annotations

import random

import pytest

from snowalert_spark.functions import dedup as DD

from test_substring_combined import _corpus, _mkdocs, _rand_text

L = 40


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _split(rows):
    ids = sorted(i for i, _ in rows)
    k = ids[len(ids) // 2]
    base = [(i, t) for i, t in rows if i <= k]
    new = [(i, t) for i, t in rows if i > k]
    return base, new


@pytest.mark.parametrize("min_count", [2, 3])
def test_union_equivalence(spark, min_count):
    for seed in (21, 22):
        rows = _corpus(seed)
        base_rows, new_rows = _split(rows)
        base, new = _mkdocs(spark, base_rows), _mkdocs(spark, new_rows)
        got = _rows(
            DD.cross_snapshot_substring_removal(
                new, base_docs=base, window=L, min_count=min_count
            )
        )
        new_ids = {i for i, _ in new_rows}
        want = _rows(
            DD.remove_repeated_substrings(
                _mkdocs(spark, rows), window=L, min_count=min_count
            ).filter(f"doc_id in ({','.join(map(str, new_ids))})")
        )
        assert got == want, f"seed {seed} min_count {min_count}"


def test_base_counts_fast_path_bit_identical(spark):
    rows = _corpus(23)
    base_rows, new_rows = _split(rows)
    base, new = _mkdocs(spark, base_rows), _mkdocs(spark, new_rows)
    via_docs = _rows(
        DD.cross_snapshot_substring_removal(new, base_docs=base, window=L)
    )
    counts = DD.substring_fingerprint_counts(base, window=L)
    via_counts = _rows(
        DD.cross_snapshot_substring_removal(new, base_counts=counts, window=L)
    )
    assert via_docs == via_counts


def test_keep_one_semantics(spark):
    rng = random.Random(31)
    published = _rand_text(rng, L + 5)  # content the base already keeps
    fresh = _rand_text(rng, L)          # repeats only inside the new batch
    base = _mkdocs(spark, [(1, published)])
    new = _mkdocs(
        spark,
        [
            (10, published + "x"),        # base-present: cut entirely
            (11, fresh + _rand_text(rng, 30)),  # first new occurrence: kept
            (12, "yy" + fresh),           # later new occurrence: cut
            (13, _rand_text(rng, 90)),    # untouched
        ],
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed_windows"])
        for r in DD.cross_snapshot_substring_removal(
            new, base_docs=base, window=L
        ).collect()
    }
    assert got[10][0] == "x"
    assert got[11][1] == 0
    assert got[12][0] == "yy"
    assert got[13][1] == 0
    # base text itself is never emitted
    assert 1 not in got


def test_exactly_one_base_argument(spark):
    d = _mkdocs(spark, [(1, "abc")])
    with pytest.raises(ValueError, match="exactly one"):
        DD.cross_snapshot_substring_removal(d)
    with pytest.raises(ValueError, match="exactly one"):
        DD.cross_snapshot_substring_removal(
            d, base_docs=d, base_counts=d.limit(0)
        )


def test_base_counts_window_stamp_and_validation(spark):
    rng = random.Random(31)
    shared = _rand_text(rng, L + 5)
    base = _mkdocs(spark, [(1, shared + _rand_text(rng, 30))])
    new = _mkdocs(spark, [(100, _rand_text(rng, 20) + shared)])

    counts = DD.substring_fingerprint_counts(base, window=L)
    assert "window" in counts.columns
    assert counts.select("window").distinct().collect()[0][0] == L

    # stamped + matching: accepted, bit-identical to the base_docs path
    via_counts = DD.cross_snapshot_substring_removal(
        new, base_counts=counts, window=L
    ).collect()
    via_docs = DD.cross_snapshot_substring_removal(
        new, base_docs=base, window=L
    ).collect()
    assert via_counts == via_docs

    # mismatched window: refused loudly
    wrong = DD.substring_fingerprint_counts(base, window=L - 10)
    with pytest.raises(ValueError, match="window=30.*window=40"):
        DD.cross_snapshot_substring_removal(new, base_counts=wrong, window=L)

    # legacy un-stamped table (pre-r13): still accepted
    legacy = counts.drop("window")
    via_legacy = DD.cross_snapshot_substring_removal(
        new, base_counts=legacy, window=L
    ).collect()
    assert via_legacy == via_docs

    # malformed schema: refused loudly
    with pytest.raises(ValueError, match="n_base"):
        DD.cross_snapshot_substring_removal(
            new, base_counts=counts.withColumnRenamed("n_base", "n"), window=L
        )
    with pytest.raises(ValueError, match="struct"):
        DD.cross_snapshot_substring_removal(
            new,
            base_counts=counts.selectExpr("h.a AS h", "n_base"),
            window=L,
        )
