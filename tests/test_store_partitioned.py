"""PartitionedResultsStore: hot-window merges must not rewrite cold
partitions (the O(hot) vs O(table) scale property)."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from snowalert_spark.schema import ALERTS, RESULT_TABLES
from snowalert_spark.store_partitioned import PartitionedResultsStore


@pytest.fixture
def pstore(spark, tmp_path):
    return PartitionedResultsStore(spark, str(tmp_path / "presults"))


def _alert(spark, obj, desc, day, counter=1):
    t = dt.datetime(2024, 1, day, 12, 0, 0)
    return spark.createDataFrame(
        [
            (
                {"ALERT_ID": f"{obj}-{day}", "OBJECT": obj, "DESCRIPTION": desc,
                 "EVENT_TIME": t},
                t,
                t,
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


def _match(frm):
    def on(_t, _s):
        return (
            (F.col("alert.OBJECT") == F.col("src_alert.OBJECT"))
            & (F.col("alert.DESCRIPTION") == F.col("src_alert.DESCRIPTION"))
            & (F.col("alert.EVENT_TIME") > F.lit(frm))
        )

    return on


def test_partitioned_append_and_read(pstore, spark):
    pstore.append("alerts", _alert(spark, "h1", "d", 1))
    pstore.append("alerts", _alert(spark, "h2", "d", 2))
    assert sorted(pstore.touched_partitions("alerts")) == [
        "2024-01-01", "2024-01-02",
    ]
    assert pstore.read("alerts").count() == 2
    assert pstore.read("alerts", dates=["2024-01-02"]).count() == 1


def test_hot_window_merge_leaves_cold_partitions_alone(pstore, spark):
    # day 1 and day 10 exist; merge for day 10's window
    pstore.append("alerts", _alert(spark, "h1", "d", 1))
    pstore.append("alerts", _alert(spark, "h10", "d", 10))
    before = pstore.touched_partitions("alerts")

    frm = dt.datetime(2024, 1, 10, 0, 0, 0)
    n = pstore.upsert(
        "alerts",
        _alert(spark, "h10", "d", 10, counter=2),
        on=_match(frm),
        when_matched={"counter": F.col("counter") + F.col("src_counter")},
        window_from=frm,
        window_to=dt.datetime(2024, 1, 11),
    )
    assert n == {"updated": 1, "inserted": 0}
    after = pstore.touched_partitions("alerts")
    assert after["2024-01-01"] == before["2024-01-01"], "cold partition rewritten!"
    assert after["2024-01-10"] == before["2024-01-10"] + 1
    rows = {r.alert.OBJECT: r.counter for r in pstore.read("alerts").collect()}
    assert rows == {"h1": 1, "h10": 3}


def test_insert_into_new_partition_via_upsert(pstore, spark):
    frm = dt.datetime(2024, 1, 1)
    n = pstore.upsert(
        "alerts",
        _alert(spark, "h5", "d", 5),
        on=_match(frm),
        window_from=frm,
        window_to=dt.datetime(2024, 1, 6),
    )
    assert n == {"updated": 0, "inserted": 1}
    assert pstore.read("alerts").count() == 1


def test_alert_pipeline_on_partitioned_store(spark, tmp_path):
    """The alert-queries runner works against the partitioned store
    with identical merge semantics (dedupe counter across reruns)."""
    from snowalert_spark.rules import RuleRegistry
    from snowalert_spark.runners import alert_queries

    pstore = PartitionedResultsStore(spark, str(tmp_path / "p2"))
    reg = RuleRegistry()
    one = (
        "SELECT 'a' AS actor, 'o' AS object, 'act' AS action, 'T' AS title, "
        "TIMESTAMP '2024-01-05 12:00:00' AS event_time, 'd' AS description"
    )
    reg.create("_P_ALERT_QUERY", sql=one + " UNION ALL " + one, comment="p")
    frm, to = dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 6)
    alert_queries.main(spark, pstore, reg, from_ts=frm, to_ts=to)
    alert_queries.main(spark, pstore, reg, from_ts=frm, to_ts=to)
    rows = pstore.read("alerts").collect()
    assert len(rows) == 1
    assert rows[0].counter == 4
    assert list(pstore.touched_partitions("alerts")) == ["2024-01-05"]


def test_id_only_upsert_with_window_requires_opt_in(pstore, spark):
    """Round-3 advice guard: an id-only source frame combined with a
    merge window would prune hot dates to the window alone and silently
    skip matches elsewhere — the API now refuses unless the caller
    opts in with prune_to_window=True."""
    import pytest as _pytest

    frm, to = dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 6)
    pstore.upsert(
        "alerts",
        _alert(spark, "g1", "d", 5),
        on=_match(frm),
        window_from=frm,
        window_to=to,
    )
    ids = spark.createDataFrame([("g1-5",)], "sid string")
    with _pytest.raises(ValueError, match="prune_to_window"):
        pstore.upsert(
            "alerts",
            ids,
            on=lambda t, s: F.col("alert.ALERT_ID") == F.col("src_sid"),
            when_matched={"suppressed": F.lit(True)},
            when_not_matched_insert=False,
            window_from=frm,
            window_to=to,
        )
    # opting in works when the caller knows matches are window-bounded
    n = pstore.upsert(
        "alerts",
        ids,
        on=lambda t, s: F.col("alert.ALERT_ID") == F.col("src_sid"),
        when_matched={"suppressed": F.lit(True)},
        when_not_matched_insert=False,
        window_from=frm,
        window_to=to,
        prune_to_window=True,
    )
    assert n["updated"] == 1


def test_not_matched_by_source_reaches_every_partition(pstore, spark):
    """A by-source default must reach partitions the incoming rows do
    not touch: every partition is hot for such a merge."""
    pstore.append("alerts", _alert(spark, "h1", "d", 1))
    pstore.append("alerts", _alert(spark, "h10", "d", 10))
    before = pstore.touched_partitions("alerts")
    n = pstore.upsert(
        "alerts",
        _alert(spark, "h10", "d", 10),
        on=_match(dt.datetime(2024, 1, 1)),
        when_matched={"suppressed": F.lit(True)},
        when_not_matched_insert=False,
        when_not_matched_by_source={
            "suppressed": F.coalesce(F.col("suppressed"), F.lit(False))
        },
    )
    assert n == {"updated": 1, "inserted": 0}
    rows = {r.alert.OBJECT: r.suppressed for r in pstore.read("alerts").collect()}
    assert rows == {"h1": False, "h10": True}
    after = pstore.touched_partitions("alerts")
    assert all(after[d] == before[d] + 1 for d in before)


def test_not_matched_by_source_refuses_window_pruning(pstore, spark):
    """With a merge window the cold partitions would silently miss the
    by-source default, so the combination is refused before any write."""
    pstore.append("alerts", _alert(spark, "h1", "d", 1))
    before = pstore.touched_partitions("alerts")
    frm = dt.datetime(2024, 1, 10)
    with pytest.raises(ValueError, match="when_not_matched_by_source"):
        pstore.upsert(
            "alerts",
            _alert(spark, "h10", "d", 10),
            on=_match(frm),
            window_from=frm,
            window_to=dt.datetime(2024, 1, 11),
            when_not_matched_by_source={"suppressed": F.lit(False)},
        )
    assert pstore.touched_partitions("alerts") == before


def test_read_of_absent_table_stays_jvm_side(pstore):
    """Same contract as ``ResultsStore.read``: the empty frame keeps the
    table's schema and its lineage has no PythonRDD."""
    for table, schema in RESULT_TABLES.items():
        df = pstore.read(table)
        assert df.schema == schema, table
        assert df.count() == 0, table
        assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
