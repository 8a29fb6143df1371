"""Concurrent-writer safety (round-7 verdict item 5): versioned
publication is a CAS-rename — two interleaved read-merge-write upserts
cannot silently lose an update or corrupt the table. One wins; the
other raises ConcurrentWriteError with its temp output removed. An
append publishes a version too, so a merge it overtakes fails instead
of dropping its rows, and racing appends all land.
"""

from __future__ import annotations

import datetime as dt
import os
import threading

import pyspark.sql.functions as F
import pytest

from snowalert_spark.store import ConcurrentWriteError, ResultsStore


def _violation(spark, vid):
    return spark.createDataFrame(
        [("{}", vid, dt.datetime(2024, 1, 1), None, None, None)],
        "result string, id string, alert_time timestamp, ticket string, "
        "suppressed boolean, suppression_rule string",
    )


def _no_inflight(base):
    leftovers = []
    for root, dirs, _ in os.walk(base):
        leftovers += [d for d in dirs if d.startswith(".inflight")]
    return leftovers == []


def test_interleaved_upserts_one_wins_one_fails(spark, tmp_path):
    base = str(tmp_path / "results")
    a, b = ResultsStore(spark, base), ResultsStore(spark, base)
    a.upsert("violations", _violation(spark, "seed"), on=["id"])

    # interleave: while A's merge is between read and publish, B runs a
    # full merge to completion — A must CAS-fail, not clobber B's write
    orig = a.overwrite
    fired = []

    def racing_overwrite(table, df, expect_version=None):
        if not fired:
            fired.append(True)
            b.upsert("violations", _violation(spark, "from_b"), on=["id"])
        return orig(table, df, expect_version=expect_version)

    a.overwrite = racing_overwrite
    with pytest.raises(ConcurrentWriteError):
        a.upsert("violations", _violation(spark, "from_a"), on=["id"])

    ids = sorted(r.id for r in a.read("violations").collect())
    assert ids == ["from_b", "seed"]  # B's merge intact, A's discarded
    assert _no_inflight(base)


def test_update_loses_to_a_publish_mid_update(spark, tmp_path):
    """UPDATE is read-modify-write too: a version published between
    its read and its publish makes it CAS-fail instead of overwriting
    that version with rows computed from the older one."""
    base = str(tmp_path / "results")
    a, b = ResultsStore(spark, base), ResultsStore(spark, base)
    a.overwrite("violations", _violation(spark, "seed"))

    orig = a.overwrite
    fired = []

    def racing(table, df, expect_version=None):
        if not fired:
            fired.append(True)
            b.upsert("violations", _violation(spark, "from_b"), on=["id"])
        return orig(table, df, expect_version=expect_version)

    a.overwrite = racing
    with pytest.raises(ConcurrentWriteError):
        a.update("violations", F.lit(True), {"suppressed": F.lit(True)})

    rows = {r.id: r.suppressed for r in a.read("violations").collect()}
    assert rows == {"seed": None, "from_b": None}  # B's version intact
    assert _no_inflight(base)


def test_blind_overwrite_version_race(spark, tmp_path):
    """Two overwrites racing the same version slot: the loser's rename
    hits the winner's non-empty v-dir and fails cleanly."""
    base = str(tmp_path / "results")
    a, b = ResultsStore(spark, base), ResultsStore(spark, base)
    a.overwrite("violations", _violation(spark, "x"))

    orig = a.overwrite
    fired = []

    def racing(table, df, expect_version=None):
        if not fired:
            fired.append(True)
            b.overwrite("violations", _violation(spark, "b_won"))
        return orig(table, df, expect_version=expect_version)

    a.overwrite = racing
    with pytest.raises(ConcurrentWriteError):
        # expect_version pins A to the version it believes is current
        a.overwrite("violations", _violation(spark, "a_lost"), expect_version=0)
    assert [r.id for r in a.read("violations").collect()] == ["b_won"]
    assert _no_inflight(base)


@pytest.mark.parametrize("merge", ["upsert", "update"])
def test_append_mid_merge_is_kept_and_the_merge_fails(spark, tmp_path, merge):
    """An append by another writer lands between a merge's read and its
    publish: the merge computed from the older version must CAS-fail,
    and the appended row must stay in the table."""
    base = str(tmp_path / "results")
    a, b = ResultsStore(spark, base), ResultsStore(spark, base)
    a.overwrite("violations", _violation(spark, "seed"))

    orig = a.overwrite
    fired = []

    def racing(table, df, expect_version=None):
        if not fired:
            fired.append(True)
            b.append("violations", _violation(spark, "appended"))
        return orig(table, df, expect_version=expect_version)

    a.overwrite = racing
    with pytest.raises(ConcurrentWriteError):
        if merge == "upsert":
            a.upsert("violations", _violation(spark, "from_a"), on=["id"])
        else:
            a.update("violations", F.lit(True), {"suppressed": F.lit(True)})

    rows = {r.id: r.suppressed for r in a.read("violations").collect()}
    assert rows == {"seed": None, "appended": None}
    assert _no_inflight(base)


@pytest.mark.parametrize("write", ["overwrite", "update"])
def test_write_overtaken_by_three_publishes_fails(spark, tmp_path, write):
    """Three appends publish while a write is still filling its next
    version. By then ``v=0``, which an update reads, and the slot
    ``v=1``, which either write would rename into, are both retired.
    The write must fail as lost, not publish a version no reader picks
    and not surface the missing input files as its own error."""
    base = str(tmp_path / "results")
    a, b = ResultsStore(spark, base), ResultsStore(spark, base)
    a.overwrite("violations", _violation(spark, "seed"))

    orig = a._inflight
    fired = []

    def racing(table):
        if not fired:
            fired.append(True)
            for i in range(3):
                b.append("violations", _violation(spark, f"b{i}"))
        return orig(table)

    a._inflight = racing
    with pytest.raises(ConcurrentWriteError):
        if write == "overwrite":
            a.overwrite("violations", _violation(spark, "from_a"))
        else:
            a.update("violations", F.lit(True), {"suppressed": F.lit(True)})

    rows = {r.id: r.suppressed for r in a.read("violations").collect()}
    assert rows == {"seed": None, "b0": None, "b1": None, "b2": None}
    assert a._versions("violations") == [2, 3]
    assert _no_inflight(base)


def test_append_overtaken_inside_its_rename_relinks(spark, tmp_path, monkeypatch):
    """Three appends publish after a writer's last re-list, inside its
    rename into ``v=1``. The third retires ``v=1``; the retired slot is
    a non-empty tombstone, so the late rename fails and the append
    relinks on top of ``v=3`` instead of publishing a version no reader
    picks."""
    base = str(tmp_path / "results")
    a, b = ResultsStore(spark, base), ResultsStore(spark, base)
    a.overwrite("violations", _violation(spark, "seed"))
    real_rename = os.rename
    fired = []

    def racing(src, dst):
        if not fired:
            fired.append(dst)
            for i in range(3):
                b.append("violations", _violation(spark, f"b{i}"))
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", racing)
    assert a.append("violations", _violation(spark, "from_a")) == 1
    monkeypatch.undo()
    assert os.path.basename(fired[0]) == "v=1"
    ids = sorted(r.id for r in a.read("violations").collect())
    assert ids == ["b0", "b1", "b2", "from_a", "seed"]
    assert a._versions("violations") == [3, 4]
    assert os.listdir(os.path.join(base, "violations", "v=1")) == ["_RETIRED"]
    assert _no_inflight(base)


def test_parallel_appends_all_land(spark, tmp_path):
    """Appends commute: eight writers appending to one table at once
    each relink on top of whichever version beat them."""
    base = str(tmp_path / "results")
    ids = [f"w{i}" for i in range(8)]
    frames = [_violation(spark, i) for i in ids]
    errors = []

    def run(df):
        try:
            ResultsStore(spark, base).append("violations", df)
        except BaseException as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(f,)) for f in frames]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert errors == []
    store = ResultsStore(spark, base)
    assert sorted(r.id for r in store.read("violations").collect()) == ids
    assert _no_inflight(base)


class _Killed(BaseException):
    """Stands in for a process killed mid-publish."""


@pytest.mark.parametrize("step", ["link", "rename"])
def test_append_killed_after_its_write_leaves_the_table(
    spark, tmp_path, monkeypatch, step
):
    """An append dying after its staged write, before its publish
    renamed into place, leaves the version and rows as they were."""
    base = str(tmp_path / "results")
    store = ResultsStore(spark, base)
    store.overwrite("violations", _violation(spark, "seed"))
    before = store._versions("violations")

    def killed(*a, **kw):
        raise _Killed(step)

    monkeypatch.setattr(os, step, killed)
    with pytest.raises(_Killed):
        store.append("violations", _violation(spark, "lost"))
    monkeypatch.undo()
    assert store._versions("violations") == before
    assert [r.id for r in store.read("violations").collect()] == ["seed"]
    assert _no_inflight(base)


def test_append_link_error_raises_without_retrying(spark, tmp_path, monkeypatch):
    """Only a newer version makes an append relink; any other OSError
    (here a denied link) is raised at once, never retried in a loop."""
    base = str(tmp_path / "results")
    store = ResultsStore(spark, base)
    store.overwrite("violations", _violation(spark, "seed"))
    calls = []

    def denied(*a, **kw):
        calls.append(a)
        assert len(calls) == 1, "append retried a failed link"
        raise PermissionError(13, "Permission denied", a[0])

    monkeypatch.setattr(os, "link", denied)
    with pytest.raises(PermissionError):
        store.append("violations", _violation(spark, "denied"))
    monkeypatch.undo()
    assert [r.id for r in store.read("violations").collect()] == ["seed"]
    assert _no_inflight(base)


def test_rerun_after_conflict_succeeds(spark, tmp_path):
    """The documented recovery: the losing merge re-runs on top of the
    winner's state and lands."""
    base = str(tmp_path / "results")
    a, b = ResultsStore(spark, base), ResultsStore(spark, base)
    a.upsert("violations", _violation(spark, "seed"), on=["id"])

    orig = a.overwrite
    fired = []

    def racing(table, df, expect_version=None):
        if not fired:
            fired.append(True)
            b.upsert("violations", _violation(spark, "from_b"), on=["id"])
        return orig(table, df, expect_version=expect_version)

    a.overwrite = racing
    with pytest.raises(ConcurrentWriteError):
        a.upsert("violations", _violation(spark, "from_a"), on=["id"])
    a.overwrite = orig  # retry without the race
    n = a.upsert("violations", _violation(spark, "from_a"), on=["id"])
    assert n["inserted"] == 1
    ids = sorted(r.id for r in a.read("violations").collect())
    assert ids == ["from_a", "from_b", "seed"]
