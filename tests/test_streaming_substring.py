"""Streaming substring-dedup tier (r12): the incremental keep-one
removal of Lee et al. arXiv:2107.06499 over a corpus arriving in
micro-batches.

Pins:
1. prefix-monotone equivalence — a corpus arriving in doc_id order
   across ticks produces, concatenated, EXACTLY the batch
   remove_repeated_substrings output on the whole corpus;
2. in-batch keep-one (first (doc_id, pos) occurrence survives);
3. cross-tick cut: content kept in tick 1 is excised from tick-2 docs
   via the fingerprint state, never by re-scanning tick-1 text;
4. retention horizon: retention_batches=1 forgets prior ticks (the
   watermark analog), so a later repeat survives;
5. re-running the stream with no new files changes nothing
   (checkpointed exactly-once).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from snowalert_spark.functions import dedup as DD
from snowalert_spark.streaming import substring_stream_ingest

from test_substring_combined import _corpus, _mkdocs, _rand_text

L = 40

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

OUT_SCHEMA = (
    "doc_id long, clean_text string, removed_chars long, "
    "n_removed_windows long"
)


def _write(src, name, rows):
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def _run(spark, tmp, retention=None, refresh=False):
    substring_stream_ingest(
        spark,
        src_path=f"{tmp}/src",
        dst_path=f"{tmp}/out",
        checkpoint=f"{tmp}/ckpt",
        state_dir=f"{tmp}/state",
        schema=SCHEMA,
        window=L,
        retention_batches=retention,
        retention_refresh=refresh,
    )


def _out_rows(spark, tmp):
    return {
        r["doc_id"]: (
            r["clean_text"],
            r["removed_chars"],
            r["n_removed_windows"],
        )
        for r in spark.read.schema(OUT_SCHEMA)
        .parquet(f"{tmp}/out")
        .collect()
    }


def test_ticked_stream_equals_batch_operator(spark, tmp_path):
    tmp = str(tmp_path)
    rows = _corpus(13)
    rows.sort()  # arrival in doc_id order -> prefix-monotone equivalence
    thirds = [rows[:8], rows[8:16], rows[16:]]
    for i, chunk in enumerate(thirds):
        _write(f"{tmp}/src", f"tick{i}.json", chunk)
        _run(spark, tmp)
    got = _out_rows(spark, tmp)
    want = {
        r["doc_id"]: (
            r["clean_text"],
            r["removed_chars"],
            r["n_removed_windows"],
        )
        for r in DD.remove_repeated_substrings(
            _mkdocs(spark, rows), window=L
        ).collect()
    }
    assert got == want


def test_random_tick_splits_equal_batch_operator(spark, tmp_path):
    """The prefix-monotone equivalence must hold for ANY id-ordered
    tick split, not just thirds: random split points (including a
    1-doc tick and an empty-tail guard) still reproduce the batch
    operator exactly."""
    import random

    rng = random.Random(37)
    rows = sorted(_corpus(17))
    cuts = sorted(rng.sample(range(1, len(rows)), 4))
    ticks = [rows[a:b] for a, b in zip([0] + cuts, cuts + [len(rows)])]
    tmp = str(tmp_path)
    for i, chunk in enumerate(ticks):
        _write(f"{tmp}/src", f"tick{i}.json", chunk)
        _run(spark, tmp)
    got = _out_rows(spark, tmp)
    want = {
        r["doc_id"]: (
            r["clean_text"],
            r["removed_chars"],
            r["n_removed_windows"],
        )
        for r in DD.remove_repeated_substrings(
            _mkdocs(spark, rows), window=L
        ).collect()
    }
    assert got == want


def test_in_batch_keep_one(spark, tmp_path):
    tmp = str(tmp_path)
    import random

    rng = random.Random(7)
    shared = _rand_text(rng, L)
    a, b = _rand_text(rng, 50), _rand_text(rng, 50)
    _write(f"{tmp}/src", "t0.json", [(1, a + shared), (2, shared + b)])
    _run(spark, tmp)
    got = _out_rows(spark, tmp)
    assert got[1] == (a + shared, 0, 0)  # first occurrence kept whole
    assert got[2][0] == b  # the shared window excised from doc 2
    assert got[2][1] == L


def test_cross_tick_cut_via_state(spark, tmp_path):
    tmp = str(tmp_path)
    import random

    rng = random.Random(9)
    shared = _rand_text(rng, L + 10)
    other = _rand_text(rng, 80)
    _write(f"{tmp}/src", "t0.json", [(1, shared)])
    _run(spark, tmp)
    _write(f"{tmp}/src", "t1.json", [(2, other + shared)])
    _run(spark, tmp)
    got = _out_rows(spark, tmp)
    assert got[1] == (shared, 0, 0)
    assert got[2][0] == other
    assert got[2][1] == len(shared)


def test_retention_horizon_forgets(spark, tmp_path):
    tmp = str(tmp_path)
    import random

    rng = random.Random(11)
    shared = _rand_text(rng, L)
    _write(f"{tmp}/src", "t0.json", [(1, shared)])
    _run(spark, tmp, retention=1)
    _write(f"{tmp}/src", "t1.json", [(2, shared)])
    _run(spark, tmp, retention=1)
    got = _out_rows(spark, tmp)
    # retention=1 = in-batch only: tick-0 state fell out of the
    # horizon, so the tick-1 repeat survives untouched
    assert got[2] == (shared, 0, 0)
    # and the expired state partition was dropped (files and metadata)
    fp = f"{tmp}/state/seen_fingerprints"
    parts = sorted(n for n in os.listdir(fp) if n.startswith("batch_id="))
    assert parts == ["batch_id=1"]


def test_retention_refresh_is_last_seen_watermark(spark, tmp_path):
    """r13: with retention_refresh, content recurring every tick keeps
    sliding its horizon forward and NEVER slips through — vs the
    default first-kept-age horizon, where one duplicate occurrence is
    reintroduced per expiry cycle (pinned side by side)."""
    import random

    rng = random.Random(23)
    shared = _rand_text(rng, L)

    for refresh, expect_t2 in ((False, (shared, 0, 0)), (True, ("", L, 1))):
        tmp = str(tmp_path / f"refresh_{refresh}")
        for t in range(4):
            _write(f"{tmp}/src", f"t{t}.json", [(t + 1, shared)])
            _run(spark, tmp, retention=2, refresh=refresh)
        got = _out_rows(spark, tmp)
        assert got[1] == (shared, 0, 0)  # first occurrence always kept
        assert got[2] == ("", L, 1)  # within horizon either way
        # tick 2: default horizon expired the first-kept registration
        # (duplicate reintroduced); refresh slid it forward (excised)
        assert got[3] == expect_t2, refresh
        # tick 3: both modes excise (re-registered resp. still hot)
        assert got[4] == ("", L, 1)

    # refresh without retention is loud
    import pytest

    with pytest.raises(ValueError, match="retention_refresh"):
        _run(spark, str(tmp_path / "bad"), retention=None, refresh=True)


def test_state_stores_only_new_hashes(spark, tmp_path):
    """A tick whose content is entirely already-seen must append ZERO
    state rows (distinct-hashes-ever bound), while a tick with fresh
    content appends exactly its new distinct hashes."""
    tmp = str(tmp_path)
    import random

    rng = random.Random(19)
    text = _rand_text(rng, L + 7)
    _write(f"{tmp}/src", "t0.json", [(1, text)])
    _run(spark, tmp)
    _write(f"{tmp}/src", "t1.json", [(2, text)])  # byte-identical redelivery
    _run(spark, tmp)
    fp = spark.read.parquet(f"{tmp}/state/seen_fingerprints")
    n0 = fp.filter("batch_id = 0").count()
    n1 = fp.filter("batch_id = 1").count()
    assert n0 == 8  # len(text)-L+1 distinct windows
    assert n1 == 0  # nothing new to remember
    got = _out_rows(spark, tmp)
    assert got[2][0] == ""  # the whole redelivered text excised
    assert got[1] == (text, 0, 0)


def test_rerun_with_no_new_files_is_noop(spark, tmp_path):
    tmp = str(tmp_path)
    import random

    rng = random.Random(15)
    shared = _rand_text(rng, L)
    _write(f"{tmp}/src", "t0.json", [(1, shared), (2, "x" + shared)])
    _run(spark, tmp)
    before = _out_rows(spark, tmp)
    _run(spark, tmp)  # checkpoint: no new files, no new batch
    assert _out_rows(spark, tmp) == before


# ---- r13: hash-bucketed state (the r12 scale fix) ---------------------


def _mk_state(spark, tmp_path, buckets=8):
    from snowalert_spark.streaming import _BucketedFingerprintState

    st = _BucketedFingerprintState(
        spark, str(tmp_path / "seen_fingerprints"), buckets
    )
    st.ensure()
    return st


def _hashes(spark, lo, hi, batch=None):
    import pyspark.sql.functions as F

    df = spark.range(lo, hi).select(
        (F.col("id") * 7919).alias("ha"), (F.col("id") * 104729).alias("hb")
    )
    return df


def test_state_tick_join_has_no_exchange_on_state_side(spark, tmp_path):
    """THE r13 plan pin: the per-tick membership probe must read the
    state as a bucketed scan (no Exchange, no Sort on the state side)
    and shuffle only the tick's own hashes — the exact plan shape that
    keeps per-tick cost flat as accumulated state grows (r12: the
    unbucketed state re-shuffled every tick and doubled by ~104M
    fingerprints)."""
    st = _mk_state(spark, tmp_path)
    for b in range(3):  # multiple partitions AND multiple files/bucket
        st.overwrite_batch(_hashes(spark, b * 1000, (b + 1) * 1000), b)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        seen = st.seen_in_state(_hashes(spark, 500, 1500), 3, None)
        plan = seen._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        assert "ShuffledHashJoin" in plan
        # exactly ONE Exchange in the whole tick probe: the batch side
        # of the join. The state relation is scanned in place (no
        # Exchange, no Sort), and even the defensive dropDuplicates
        # rides the join output's bucketed distribution
        join_part = plan.split("ShuffledHashJoin", 1)[1]
        state_side = join_part.split("Exchange", 1)[0]
        assert "FileScan" in state_side  # state scanned in place
        assert plan.count("Exchange") == 1, plan
        assert "Sort" not in plan.split("ShuffledHashJoin", 1)[1].split(
            "Exchange", 1
        )[0]
        assert seen.count() == 1000  # ids 500..1499 all in state
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_state_overwrite_batch_is_replay_idempotent(spark, tmp_path):
    st = _mk_state(spark, tmp_path)
    st.overwrite_batch(_hashes(spark, 0, 100), 0)
    st.overwrite_batch(_hashes(spark, 100, 150), 1)
    # replay batch 1 with different content: its partition is replaced,
    # batch 0 untouched
    st.overwrite_batch(_hashes(spark, 100, 120), 1)
    df = spark.table(st.table)
    assert df.filter("batch_id = 0").count() == 100
    assert df.filter("batch_id = 1").count() == 20
    assert st.partitions() == [0, 1]


def test_state_fold_compacts_and_preserves_membership(spark, tmp_path):
    st = _mk_state(spark, tmp_path)
    for b in range(4):
        st.overwrite_batch(_hashes(spark, b * 100, (b + 1) * 100), b)
    st.fold(4)
    assert st.partitions() == [-4]
    # content identical, still bucket-joinable, visible to later reads
    assert st.read_before(4, None).count() == 400
    seen = st.seen_in_state(_hashes(spark, 350, 450), 4, None)
    assert seen.count() == 50
    # fold replay (crash between fold write and source drops): label
    # exists -> no rewrite, idempotent
    st.fold(4)
    assert st.partitions() == [-4]
    assert st.read_before(4, None).count() == 400
    # a later fold absorbs the previous fold label plus newer batches
    st.overwrite_batch(_hashes(spark, 400, 500), 5)
    st.fold(6)
    assert st.partitions() == [-6]
    assert st.read_before(6, None).count() == 500


def test_state_survives_session_restart(spark, tmp_path):
    """A fresh catalog entry over an existing store re-adopts its
    partitions and its PINNED bucket count (file bucket ids must match
    the declared count, or joins silently miss)."""
    st = _mk_state(spark, tmp_path, buckets=8)
    st.overwrite_batch(_hashes(spark, 0, 100), 0)
    spark.sql(f"DROP TABLE {st.table}")  # simulate a new session
    from snowalert_spark.streaming import _BucketedFingerprintState

    st2 = _BucketedFingerprintState(
        spark, str(tmp_path / "seen_fingerprints"), buckets=999
    )
    st2.ensure()
    assert st2.buckets == 8  # _meta.json wins over the constructor
    assert st2.read_before(1, None).count() == 100


def test_state_rejects_pre_r13_unbucketed_layout(spark, tmp_path):
    import pytest

    loc = tmp_path / "seen_fingerprints"
    (loc / "batch_id=0").mkdir(parents=True)
    _hashes(spark, 0, 10).write.mode("overwrite").parquet(
        str(loc / "batch_id=0")
    )
    from snowalert_spark.streaming import _BucketedFingerprintState

    st = _BucketedFingerprintState(spark, str(loc), 8)
    with pytest.raises(ValueError, match="pre-r13 unbucketed"):
        st.ensure()


def test_stream_compaction_folds_state(spark, tmp_path):
    """End-to-end: with compact_every=2, tick 2 folds ticks 0-1 into
    one partition and the output still equals the batch operator."""
    tmp = str(tmp_path)
    rows = sorted(_corpus(29))
    thirds = [rows[:8], rows[8:16], rows[16:]]
    for i, chunk in enumerate(thirds):
        _write(f"{tmp}/src", f"tick{i}.json", chunk)
        substring_stream_ingest(
            spark,
            src_path=f"{tmp}/src",
            dst_path=f"{tmp}/out",
            checkpoint=f"{tmp}/ckpt",
            state_dir=f"{tmp}/state",
            schema=SCHEMA,
            window=L,
            compact_every=2,
        )
    fp = f"{tmp}/state/seen_fingerprints"
    parts = sorted(n for n in os.listdir(fp) if n.startswith("batch_id="))
    assert parts == ["batch_id=-2", "batch_id=2"]  # 0,1 folded at tick 2
    got = _out_rows(spark, tmp)
    want = {
        r["doc_id"]: (
            r["clean_text"],
            r["removed_chars"],
            r["n_removed_windows"],
        )
        for r in DD.remove_repeated_substrings(
            _mkdocs(spark, rows), window=L
        ).collect()
    }
    assert got == want


# ---- r13 opt: giant-tick probe falls back to sort-merge ---------------


def test_probe_join_hint_dispatch():
    """The cost-based strategy choice is a pure function: shuffle_hash
    while the per-bucket build fits, merge past the ceiling, and an
    unknown count (None) keeps the default."""
    from snowalert_spark import streaming as S

    cap = S.PROBE_BUILD_ROWS_PER_BUCKET_MAX
    assert S._probe_join_hint(None, 64) == "shuffle_hash"
    assert S._probe_join_hint(cap * 64, 64) == "shuffle_hash"  # at the edge
    assert S._probe_join_hint(cap * 64 + 1, 64) == "merge"
    assert S._probe_join_hint(cap, 1) == "shuffle_hash"
    assert S._probe_join_hint(cap + 1, 1) == "merge"


def test_giant_tick_probe_sorts_instead_of_hash_build(spark, tmp_path):
    """Past the per-bucket build ceiling the probe plans as a
    SortMergeJoin — the state side is STILL the in-place bucketed scan
    (no Exchange before it; that is the flat-cost property), it only
    gains a spillable Sort, and the result set is identical to the
    hash-build plan (a hint picks physical strategy, never semantics).
    Found the hard way: a 500k-row sf10 tick (1.9M build rows/bucket)
    died with SparkOutOfMemoryError building the hash map."""
    st = _mk_state(spark, tmp_path)
    for b in range(3):  # multiple partitions AND multiple files/bucket
        st.overwrite_batch(_hashes(spark, b * 1000, (b + 1) * 1000), b)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        batch = _hashes(spark, 500, 1500)
        small = st.seen_in_state(batch, 3, None, n_batch_hashes=1000)
        giant = st.seen_in_state(
            batch, 3, None,
            n_batch_hashes=st.buckets * 512_000 + 1,
        )
        plan = giant._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "ShuffledHashJoin" not in plan
        # state side of the SMJ: scanned in place — bucketed, no
        # Exchange anywhere above the FileScan (a Sort is expected and
        # allowed: it spills, the hash build does not)
        assert "Bucketed: true" in plan
        join_part = plan.split("SortMergeJoin", 1)[1]
        state_side = join_part.split("Exchange", 1)[0]
        assert "FileScan" in state_side
        assert plan.count("Exchange") == 1, plan
        got_g = sorted((r["ha"], r["hb"]) for r in giant.collect())
        got_s = sorted((r["ha"], r["hb"]) for r in small.collect())
        assert got_g == got_s and len(got_g) == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_giant_tick_stream_output_unchanged(spark, tmp_path, monkeypatch):
    """End-to-end: forcing every tick onto the sort-merge path (ceiling
    patched to 0) reproduces the batch operator bit-for-bit — the
    strategy dispatch cannot change what a tick computes."""
    from snowalert_spark import streaming as S

    monkeypatch.setattr(S, "PROBE_BUILD_ROWS_PER_BUCKET_MAX", 0)
    rows = sorted(_corpus(43))
    tmp = str(tmp_path / "gt")
    os.makedirs(f"{tmp}/src")
    half = len(rows) // 2
    for t, chunk in enumerate((rows[:half], rows[half:])):
        with open(f"{tmp}/src/tick{t}.json", "w") as f:
            for doc_id, text in chunk:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        substring_stream_ingest(
            spark,
            src_path=f"{tmp}/src",
            dst_path=f"{tmp}/out",
            checkpoint=f"{tmp}/ckpt",
            state_dir=f"{tmp}/state",
            schema=SCHEMA,
            window=L,
        )
    got = _out_rows(spark, tmp)
    want = {
        r["doc_id"]: (
            r["clean_text"],
            r["removed_chars"],
            r["n_removed_windows"],
        )
        for r in DD.remove_repeated_substrings(
            _mkdocs(spark, rows), window=L
        ).collect()
    }
    assert got == want
