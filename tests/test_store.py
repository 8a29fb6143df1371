"""ResultsStore: append / overwrite / upsert semantics + idempotency
(the MERGE-replacement is SURVEY §7.2 step 1's 'unit-test first')."""

from __future__ import annotations

import datetime as dt
import threading
import uuid

import pyspark.sql.functions as F
import pytest

from snowalert_spark.schema import RESULT_TABLES
from snowalert_spark.store import ResultsStore


@pytest.fixture
def store(spark, tmp_path):
    return ResultsStore(spark, str(tmp_path / "results"))


def _violation(spark, vid, title, t=None):
    t = t or dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [("{}", vid, t, None, None, None)],
        "result string, id string, alert_time timestamp, ticket string, "
        "suppressed boolean, suppression_rule string",
    )


def test_read_empty(store):
    assert store.read("violations").count() == 0


def test_append_and_overwrite(store, spark):
    store.append("violations", _violation(spark, "a", "t1"))
    store.append("violations", _violation(spark, "b", "t2"))
    assert store.read("violations").count() == 2
    store.overwrite("violations", _violation(spark, "c", "t3"))
    assert [r.id for r in store.read("violations").collect()] == ["c"]


def test_upsert_insert_then_update(store, spark):
    n = store.upsert("violations", _violation(spark, "a", "t"), on=["id"])
    assert n == {"updated": 0, "inserted": 1}
    # second run with same id: update path (set suppressed)
    n = store.upsert(
        "violations",
        _violation(spark, "a", "t"),
        on=["id"],
        when_matched={"suppressed": F.lit(True)},
    )
    assert n == {"updated": 1, "inserted": 0}
    rows = store.read("violations").collect()
    assert len(rows) == 1 and rows[0].suppressed is True


def test_upsert_counter_increment(store, spark):
    """Alert-dedupe shape: counter += src_counter on match."""
    from snowalert_spark.schema import ALERTS

    def mk(counter):
        return spark.createDataFrame(
            [
                (
                    {"ALERT_ID": "x", "OBJECT": "o", "DESCRIPTION": "d"},
                    dt.datetime(2024, 1, 1),
                    dt.datetime(2024, 1, 1),
                    None,
                    None,
                    None,
                    counter,
                    None,
                    None,
                )
            ],
            ALERTS,
        )

    store.upsert(
        "alerts",
        mk(1),
        on=(F.col("alert.OBJECT") == F.col("src_alert.OBJECT"))
        & (F.col("alert.DESCRIPTION") == F.col("src_alert.DESCRIPTION")),
        when_matched={"counter": F.col("counter") + F.col("src_counter")},
    )
    store.upsert(
        "alerts",
        mk(2),
        on=(F.col("alert.OBJECT") == F.col("src_alert.OBJECT"))
        & (F.col("alert.DESCRIPTION") == F.col("src_alert.DESCRIPTION")),
        when_matched={"counter": F.col("counter") + F.col("src_counter")},
    )
    rows = store.read("alerts").collect()
    assert len(rows) == 1
    assert rows[0].counter == 3


def test_update(store, spark):
    store.append("violations", _violation(spark, "a", "t"))
    store.append("violations", _violation(spark, "b", "t"))
    n = store.update(
        "violations",
        F.col("id") == "a",
        {"suppressed": F.lit(True), "suppression_rule": F.lit("r")},
    )
    assert n == 1
    got = {r.id: (r.suppressed, r.suppression_rule) for r in store.read("violations").collect()}
    assert got["a"] == (True, "r")
    assert got["b"] == (None, None)


def test_versioned_dirs_survive_partial_writes(store, spark, tmp_path):
    import os

    store.overwrite("violations", _violation(spark, "a", "t"))
    # simulate a crashed writer: incomplete version dir without _SUCCESS
    bad = tmp_path / "results" / "violations" / "v=99"
    bad.mkdir(parents=True)
    (bad / "part-00000.parquet").write_bytes(b"garbage")
    assert [r.id for r in store.read("violations").collect()] == ["a"]


def test_export_chunks(store, spark):
    import pyspark.sql.functions as F

    df = spark.range(25).select(
        F.lit("{}").alias("result"),
        F.col("id").cast("string").alias("id"),
        F.lit("2024-01-01").cast("timestamp").alias("alert_time"),
        F.lit(None).cast("string").alias("ticket"),
        F.lit(None).cast("boolean").alias("suppressed"),
        F.lit(None).cast("string").alias("suppression_rule"),
    )
    store.overwrite("violations", df)
    chunks = list(store.export_chunks("violations", chunk_rows=10))
    assert [len(c) for c in chunks] == [10, 10, 5]
    assert {r.id for c in chunks for r in c} == {str(i) for i in range(25)}


# -- single-pass commits: observed counts and job budgets -------------------

OLD, NEW = dt.datetime(2023, 1, 1), dt.datetime(2024, 1, 1)


def _hot():
    return F.col("alert_time") > F.lit(dt.datetime(2023, 6, 1))


def _violations(spark, ids, t=NEW):
    return _dated(spark, [(i, t) for i in ids])


def _dated(spark, rows):
    return spark.createDataFrame(
        [("{}", i, t, None, None, None) for i, t in rows],
        "result string, id string, alert_time timestamp, ticket string, "
        "suppressed boolean, suppression_rule string",
    )


def _returns(call, timeout=120):
    """Run a store call, failing instead of hanging if it blocks (an
    Observation whose write never ran would wait forever)."""
    box = {}

    def run():
        try:
            box["v"] = call()
        except BaseException as e:  # re-raised in the test thread below
            box["e"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout)
    assert not t.is_alive(), "store call did not return"
    if "e" in box:
        raise box["e"]
    return box["v"]


@pytest.mark.parametrize(
    "target, source, insert, pruned, want",
    [
        ([("a", NEW), ("b", NEW)], ["a", "c"], True, False, (1, 1)),
        # the unmatched source row is dropped
        ([("a", NEW), ("b", NEW)], ["a", "c"], False, False, (1, 0)),
        # the cold row "a" is carried over, never matched
        ([("a", OLD), ("b", NEW)], ["b", "c"], True, True, (1, 1)),
        # each joined row counts
        ([("a", NEW)], ["a", "a", "c", "c"], True, False, (2, 2)),
        (None, ["a", "b"], True, False, (0, 2)),
        ([("a", NEW), ("b", NEW)], [], True, False, (0, 0)),
    ],
    ids=[
        "insert+match",
        "no-insert",
        "partition_filter",
        "dup-source",
        "empty-target",
        "empty-source",
    ],
)
def test_upsert_counts_match_table_change(
    store, spark, target, source, insert, pruned, want
):
    if target is not None:
        store.overwrite("violations", _dated(spark, target))
    before = {r.id for r in store.read("violations").collect()}
    n = _returns(
        lambda: store.upsert(
            "violations",
            _violations(spark, source),
            on=["id"],
            when_matched={"suppressed": F.lit(True)},
            when_not_matched_insert=insert,
            partition_filter=_hot() if pruned else None,
        )
    )
    after = store.read("violations").collect()
    assert n == {"updated": want[0], "inserted": want[1]}
    assert sum(r.suppressed is True for r in after) == n["updated"]
    assert sum(r.id not in before for r in after) == n["inserted"]
    assert before <= {r.id for r in after}


def test_update_and_append_counts(store, spark):
    def append(ids):
        return _returns(lambda: store.append("violations", _violations(spark, ids)))

    def update(cond):
        return _returns(
            lambda: store.update("violations", cond, {"ticket": F.lit("t")})
        )

    assert append(["a", "b"]) == 2
    versions = store._versions("violations")
    assert append([]) == 0
    assert store._versions("violations") == versions  # nothing to publish
    assert update(F.col("id") == "zz") == 0
    assert update(F.col("id") != "zz") == 2
    assert [r.ticket for r in store.read("violations").collect()] == ["t", "t"]


# Job budgets of one commit: a shuffle map stage per join side, AQE's
# broadcast of a small shuffled side, and the write itself, which also
# fills the counts. A merge that caches the target or the join, or
# counts before it writes, needs 6–7 jobs; an update that counts first
# needs 3. An append is its staged write alone; the publish only links.
UPSERT_JOBS, UPDATE_JOBS, APPEND_JOBS = 4, 1, 1


def _jobs(spark, call) -> int:
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_job_budgets(store, spark):
    rows = [(f"v{i}", NEW) for i in range(200)] + [("old", OLD)]
    store.overwrite("violations", _dated(spark, rows))
    keyed = _jobs(
        spark,
        lambda: store.upsert(
            "violations",
            _violations(spark, ["v1", "v2", "zz"]),
            on=["id"],
            when_matched={"suppressed": F.lit(True)},
            when_not_matched_insert=False,
        ),
    )
    theta = _jobs(
        spark,
        lambda: store.upsert(
            "violations",
            _violations(spark, ["v3", "new"]),
            on=(F.col("id") == F.col("src_id")) & _hot(),
            when_matched={"suppressed": F.lit(False)},
            partition_filter=_hot(),
        ),
    )
    update = _jobs(
        spark,
        lambda: store.update(
            "violations", F.col("id") == "v5", {"suppressed": F.lit(True)}
        ),
    )
    append = _jobs(
        spark, lambda: store.append("violations", _violations(spark, ["v6"]))
    )
    jobs = (keyed, theta, update, append)
    assert max(keyed, theta) <= UPSERT_JOBS and update <= UPDATE_JOBS, jobs
    assert append <= APPEND_JOBS, jobs


def test_upsert_when_not_matched_by_source(store, spark):
    """Target rows no source row matched take the by-source updates in
    the same publish; ``updated`` still counts matched rows only."""
    store.overwrite("violations", _violations(spark, ["a", "b", "c"]))
    v0 = store._versions("violations")[-1]
    n = _returns(
        lambda: store.upsert(
            "violations",
            _violations(spark, ["a", "zz"]),
            on=["id"],
            when_matched={"suppressed": F.lit(True)},
            when_not_matched_insert=False,
            when_not_matched_by_source={
                "suppressed": F.coalesce(F.col("suppressed"), F.lit(False))
            },
        )
    )
    assert n == {"updated": 1, "inserted": 0}
    assert store._versions("violations")[-1] == v0 + 1
    got = {r.id: r.suppressed for r in store.read("violations").collect()}
    assert got == {"a": True, "b": False, "c": False}
    with pytest.raises(ValueError, match="partition_filter"):
        store.upsert(
            "violations",
            _violations(spark, ["a"]),
            on=["id"],
            partition_filter=_hot(),
            when_not_matched_by_source={"suppressed": F.lit(False)},
        )
    assert store._versions("violations")[-1] == v0 + 1


def test_read_of_absent_table_stays_jvm_side(store):
    """The empty frame of an absent table is an Arrow relation: its
    lineage has no PythonRDD, so jobs over it start no Python worker."""
    for table, schema in RESULT_TABLES.items():
        df = store.read(table)
        assert df.schema == schema, table
        assert df.count() == 0, table
        assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()


def test_key_set_upsert(store, spark):
    """``on`` one target column: the source is a set of keys tested
    with IN, so a repeated key matches its row once and a NULL key
    matches nothing; the by-source map covers the other rows in the
    same publish, and nothing is ever inserted."""
    store.overwrite("violations", _violations(spark, ["a", "b", "c"]))
    v0 = store._versions("violations")[-1]
    keys = spark.createDataFrame([("a",), ("a",), (None,), ("zz",)], "k string")
    n = _returns(
        lambda: store.upsert(
            "violations",
            keys,
            on="id",
            when_matched={"suppressed": F.lit(True)},
            when_not_matched_insert=False,
            when_not_matched_by_source={"suppressed": F.lit(False)},
        )
    )
    assert n == {"updated": 1, "inserted": 0}
    assert store._versions("violations")[-1] == v0 + 1
    got = {r.id: r.suppressed for r in store.read("violations").collect()}
    assert got == {"a": True, "b": False, "c": False}
    with pytest.raises(ValueError, match="inserts nothing"):
        store.upsert("violations", keys, on="id")
