"""End-to-end alert/violation lifecycle, modeled on the reference's
acceptance tests (src/runners/tests/run_alerts.py:7-370 and
run_violations.py:7-203, FIXTURES.md F13):

- constant-SELECT rules with the full alert vocabulary
- a UNION ALL duplicate rule → dedupe counter == 2, single alert
- a suppression rule → suppressed flag + counts; others default false
- a correlated actor pair → equal correlation_ids
- handler dispatch → ticket recorded, handled written back
- violations: stable MD5 identity (recomputed client-side), error
  quarantine (division-by-zero rule recorded in metadata, run
  continues), suppression by id
- the quarantine contract, the same for every rule kind
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import time

import pyspark.sql.functions as F
import pytest

from snowalert_spark import handlers as H
from snowalert_spark.rules import RuleRegistry
from snowalert_spark.runners import (
    alert_dispatcher,
    alert_processor,
    alert_queries,
    alert_suppressions,
    metadata,
    policies,
    violation_queries,
)
from snowalert_spark.store import ResultsStore

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


@pytest.fixture
def store(spark, tmp_path):
    return ResultsStore(spark, str(tmp_path / "results"))


@pytest.fixture
def registry(spark):
    reg = RuleRegistry()
    base = (
        "SELECT 'the-actor' AS actor, 'the-object' AS object, "
        "'{action}' AS action, 'Test {n} Alert' AS title, "
        "TIMESTAMP '{t}' AS event_time, "
        "TIMESTAMP '{t}' AS alert_time, "
        "'test alert {n}' AS description, 'test detector' AS detector, "
        "'medium' AS severity, ARRAY('the-source') AS sources"
    )
    one = base.format(action="test action 1", n=1, t="2024-01-01 12:00:00")
    reg.create(
        "_TEST1_ALERT_QUERY",
        sql=one + " UNION ALL " + one,  # duplicate → dedupe counter=2
        comment="Test 1 Alert Query\n@id test_1_query_id\n@tags test, one",
    )
    reg.create(
        "_TEST2_ALERT_QUERY",
        sql=base.format(action="test action 2", n=2, t="2024-01-01 12:30:00"),
        comment="Test 2 Alert Query\n@id test_2_query_id",
    )
    reg.create(
        "_TEST2_ALERT_SUPPRESSION",
        sql=(
            "SELECT alert.ALERT_ID AS id FROM data_alerts "
            "WHERE suppressed IS NULL AND alert.TITLE = 'Test 2 Alert'"
        ),
        comment="Test 2 Alert Suppression",
    )
    return reg


def _run_alerts(spark, store, registry):
    frm, to = T0 - dt.timedelta(minutes=90), T0 + dt.timedelta(hours=1)
    alert_queries.main(spark, store, registry, from_ts=frm, to_ts=to)
    alert_suppressions.main(spark, store, registry)
    return store.read("alerts").collect()


def test_alert_dedupe_and_suppression(spark, store, registry):
    rows = _run_alerts(spark, store, registry)
    assert len(rows) == 2
    by_title = {r.alert.TITLE: r for r in rows}
    a1 = by_title["Test 1 Alert"]
    # golden subset (run_alerts.py:123-138 analog)
    assert a1.counter == 2, "UNION ALL duplicate must dedupe with counter=2"
    assert a1.alert.ACTOR == "the-actor"
    assert a1.alert.OBJECT == "the-object"
    assert a1.alert.QUERY_NAME == "_TEST1_ALERT_QUERY"
    assert a1.alert.QUERY_ID == "test_1_query_id"
    assert a1.alert.SOURCES == ["the-source"]
    assert a1.suppressed is False
    a2 = by_title["Test 2 Alert"]
    assert a2.suppressed is True
    assert a2.suppression_rule == "_TEST2_ALERT_SUPPRESSION"
    # metadata counts (run_alerts.py:217-323 analog)
    md = metadata.read_metadata(store, "query_metadata")
    counts = {m["QUERY_NAME"]: m.get("ROW_COUNT") for m in md}
    assert counts["_TEST1_ALERT_QUERY"] == {"updated": 0, "inserted": 1}
    assert counts["_TEST2_ALERT_SUPPRESSION"] == {"suppressed": 1}


def test_alert_merge_idempotent_rerun(spark, store, registry):
    """Overlapping 90-min window re-scan: second run must update the
    counter, not duplicate the alert (alert_queries_runner.py:64-94)."""
    frm, to = T0 - dt.timedelta(minutes=90), T0 + dt.timedelta(hours=1)
    alert_queries.main(spark, store, registry, from_ts=frm, to_ts=to)
    alert_queries.main(spark, store, registry, from_ts=frm, to_ts=to)
    rows = store.read("alerts").collect()
    assert len(rows) == 2
    t1 = [r for r in rows if r.alert.TITLE == "Test 1 Alert"][0]
    assert t1.counter == 4  # 2 per run, merged


def test_correlation(spark, store):
    """Correlated actor pair within 60 min share a correlation_id; a
    third alert past the window starts a new one (alert_processor
    semantics, incl. SP1513: ACTION arrays stringified before compare)."""
    reg = RuleRegistry()
    now = dt.datetime.utcnow()
    t1, t2, t3 = (
        now - dt.timedelta(minutes=50),
        now - dt.timedelta(minutes=20),
        now - dt.timedelta(minutes=110),  # outside scan→chain restart guard
    )
    mk = (
        "SELECT 'actor-x' AS actor, '{obj}' AS object, '{act}' AS action, "
        "'C{n}' AS title, TIMESTAMP '{t}' AS event_time, 'd{n}' AS description"
    )
    reg.create(
        "_CORR1_ALERT_QUERY",
        sql=mk.format(obj="obj-1", act="act-A", n=1, t=t1.strftime("%Y-%m-%d %H:%M:%S")),
        comment="corr 1",
    )
    reg.create(
        "_CORR2_ALERT_QUERY",
        # different object, same action → correlates via ACTION
        sql=mk.format(obj="obj-2", act="act-A", n=2, t=t2.strftime("%Y-%m-%d %H:%M:%S")),
        comment="corr 2",
    )
    alert_queries.main(
        spark,
        store,
        reg,
        from_ts=now - dt.timedelta(hours=3),
        to_ts=now,
    )
    alert_suppressions.main(spark, store, reg)
    n = alert_processor.main(spark, store, now=now)
    assert n == 2
    rows = store.read("alerts").collect()
    cids = {r.alert.TITLE: r.correlation_id for r in rows}
    assert cids["C1"] == cids["C2"]
    assert cids["C1"] is not None


def test_dispatch(spark, store, registry):
    _run_alerts(spark, store, registry)
    ticketer = H.MemoryTicketHandler()
    H.register("jira", ticketer.handle)
    n = alert_dispatcher.main(spark, store)
    assert n == 1  # only the unsuppressed alert
    assert len(ticketer.tickets) == 1
    rows = store.read("alerts").collect()
    handled = {r.alert.TITLE: r.handled for r in rows}
    res = json.loads(handled["Test 1 Alert"])
    assert res[0]["success"] is True
    assert handled["Test 2 Alert"] is None  # suppressed → not dispatched
    t1 = [r for r in rows if r.alert.TITLE == "Test 1 Alert"][0]
    assert t1.ticket == "SA-1"
    # second dispatch run: nothing left to handle (idempotent)
    assert alert_dispatcher.main(spark, store) == 0


def test_violations_md5_identity_and_error_capture(spark, store):
    """run_violations.py:115-203 analog: pinned content-addressed id +
    error quarantine."""
    reg = RuleRegistry()
    reg.create(
        "_TV1_VIOLATION_QUERY",
        sql=(
            "SELECT 'the-env' AS environment, 'the-object' AS object, "
            "'the-owner' AS owner, 'Test Violation' AS title, "
            "'tv desc' AS description, 'med' AS severity"
        ),
        comment="Test Violation Query\n@id tv1_id",
    )
    reg.create(
        "_TVERR_VIOLATION_QUERY",
        sql="SELECT 1/0 AS x, raise_error('Division by zero') AS object",
        comment="Broken rule",
    )
    violation_queries.main(spark, store, reg, now=T0)
    rows = store.read("violations").collect()
    assert len(rows) == 1
    v = rows[0]
    # recompute the canonical id client-side (run_violations.py:70-71)
    canonical = json.dumps(
        {
            "DESCRIPTION": "tv desc",
            "ENVIRONMENT": "the-env",
            "OBJECT": "the-object",
            "OWNER": "the-owner",
            "SEVERITY": "med",
            "TITLE": "Test Violation",
        },
        separators=(",", ":"),
        sort_keys=True,
    )
    assert v.id == hashlib.md5(canonical.encode()).hexdigest()
    doc = json.loads(v.result)
    assert doc["QUERY_NAME"] == "_TV1_VIOLATION_QUERY"
    # error captured in metadata, run continued (run_violations.py:166-173)
    md = metadata.read_metadata(store, "query_metadata")
    err = [m for m in md if m["QUERY_NAME"] == "_TVERR_VIOLATION_QUERY"][0]
    assert "ERROR" in err

    # suppression by id, remainder defaults to false
    reg.create(
        "_TV1_VIOLATION_SUPPRESSION",
        sql=f"SELECT id FROM data_violations WHERE id = '{v.id}'",
        comment="squelch",
    )
    violation_queries.suppress(spark, store, reg)
    v2 = store.read("violations").collect()[0]
    assert v2.suppressed is True
    assert v2.suppression_rule == "_TV1_VIOLATION_SUPPRESSION"


def test_violation_query_records_rows_appended(spark, store):
    """The recorded ``inserted`` is the count the append observed while
    writing, and equals the rows the run added to ``violations``."""
    store.append(
        "violations",
        spark.createDataFrame(
            [("{}", "earlier", T0, None, None, None)], store.schema("violations")
        ),
    )
    reg = RuleRegistry()
    reg.create(
        "_TV3_VIOLATION_QUERY",
        sql=(
            "SELECT * FROM VALUES ('e1', 'o1'), ('e2', 'o2'), ('e3', 'o3') "
            "AS t(environment, object)"
        ),
        comment="three violations\n@id tv3_id",
    )
    violation_queries.main(spark, store, reg, now=T0)
    md = metadata.read_metadata(store, "query_metadata")
    (rec,) = [m for m in md if m["QUERY_NAME"] == "_TV3_VIOLATION_QUERY"]
    assert rec["ROW_COUNT"]["inserted"] == store.read("violations").count() - 1 == 3


def test_rule_rename_and_soft_delete():
    reg = RuleRegistry()
    reg.create("_A_ALERT_QUERY", sql="SELECT 1", comment="a")
    reg.rename("_A_ALERT_QUERY", "_B_ALERT_QUERY")
    assert "_B_ALERT_QUERY" in reg.rules and "_A_ALERT_QUERY" not in reg.rules
    reg.drop("_B_ALERT_QUERY")
    assert "_B_ALERT_QUERY_DELETED" in reg.rules
    # deleted rules are not discovered
    assert reg.load_rules("_ALERT_QUERY") == []


def test_slack_handler(spark, store, registry):
    _run_alerts(spark, store, registry)
    slack = H.MemorySlackHandler()
    H.register("jira", H.MemoryTicketHandler().handle)
    H.register("slack", slack.handle)
    # route everything through slack by rewriting HANDLERS is out of
    # scope here; invoke directly on a collected alert document
    row = store.read("alerts").limit(1).collect()[0]
    r = H.apply_some(H.get("slack"), alert=row.alert.asDict(), extra="ignored")
    assert r["success"] and slack.sent[0]["blocks"][0]["type"] == "section"


def test_sp1513_array_actions_correlate(spark, store):
    """Regression port (SP1513_correlating_array_actions.py:10-81):
    alerts whose ACTION is an array must JSON-stringify and still
    correlate with each other."""
    reg = RuleRegistry()
    now = dt.datetime.utcnow()
    t1 = (now - dt.timedelta(minutes=40)).strftime("%Y-%m-%d %H:%M:%S")
    t2 = (now - dt.timedelta(minutes=10)).strftime("%Y-%m-%d %H:%M:%S")
    mk = (
        "SELECT 'actor-arr' AS actor, 'obj-{n}' AS object, "
        "ARRAY('added', 'removed') AS action, 'A{n}' AS title, "
        "TIMESTAMP '{t}' AS event_time, 'd{n}' AS description"
    )
    reg.create("_ARR1_ALERT_QUERY", sql=mk.format(n=1, t=t1), comment="a1")
    reg.create("_ARR2_ALERT_QUERY", sql=mk.format(n=2, t=t2), comment="a2")
    alert_queries.main(
        spark, store, reg, from_ts=now - dt.timedelta(hours=2), to_ts=now
    )
    alert_suppressions.main(spark, store, reg)
    rows = store.read("alerts").collect()
    acts = {r.alert.TITLE: r.alert.ACTION for r in rows}
    assert acts["A1"] == '["added","removed"]'  # JSON form, not Spark cast
    n = alert_processor.main(spark, store, now=now)
    assert n == 2
    cids = {r.alert.TITLE: r.correlation_id for r in store.read("alerts").collect()}
    assert cids["A1"] == cids["A2"] and cids["A1"] is not None


# -- driver-built frames: Arrow to the JVM, session time zone ---------------


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _capturing(store, method):
    """Wrap ``store.<method>`` to keep the frame each call is handed."""
    frames, inner = [], getattr(store, method)

    def call(table, df, *a, **kw):
        frames.append(df)
        return inner(table, df, *a, **kw)

    setattr(store, method, call)
    return frames


def test_metadata_event_time_follows_session_zone(store):
    """A naive UTC ``end`` is stored as the same wall-clock time in the
    session zone, whatever the Python process's local zone is."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        v = metadata.record(
            store, "run_metadata", "r1", end=dt.datetime(2024, 7, 1, 12, 0, 0)
        )
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()
    (row,) = store.read("run_metadata").selectExpr(
        "cast(event_time as string) AS t"
    ).collect()
    assert row.t == v["END_TIME"].replace("T", " ") == "2024-07-01 12:00:00"


def test_metadata_event_time_in_a_non_utc_session_zone(spark, store):
    """A naive ``end`` is read in the session zone even when that zone
    is not UTC, on either side of a DST change: the row holds the
    instant, and reads back as the same wall-clock time."""
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for d in (dt.datetime(2024, 1, 1, 12), dt.datetime(2024, 7, 1, 12)):
            metadata.record(store, "run_metadata", "r1", end=d)
        local = store.read("run_metadata").selectExpr("cast(event_time AS string) t")
        assert sorted(r.t for r in local.collect()) == [
            "2024-01-01 12:00:00", "2024-07-01 12:00:00",
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    utc = store.read("run_metadata").selectExpr("cast(event_time AS string) t")
    assert sorted(r.t for r in utc.collect()) == [
        "2024-01-01 17:00:00", "2024-07-01 16:00:00",
    ]


def test_metadata_record_runs_no_spark_job(store, last_job_id):
    """Recording writes its row with pyarrow and publishes it without
    Spark, into a new table and into an existing one alike; an ERROR
    row reads back through Spark like any other."""
    before = last_job_id()
    metadata.record(store, "query_metadata", "r1", query_name="q1")
    metadata.record(
        store, "query_metadata", "r1", query_name="q2", error=ValueError("boom")
    )
    assert last_job_id() == before
    md = metadata.read_metadata(store, "query_metadata")
    assert [m["QUERY_NAME"] for m in md] == ["q1", "q2"]
    assert "ERROR" not in md[0]
    assert md[1]["ERROR"]["EXCEPTION_ONLY"] == "boom"


def test_dispatcher_update_frame_stays_jvm_side(spark, store, registry):
    _run_alerts(spark, store, registry)
    H.register("jira", H.MemoryTicketHandler().handle)
    frames = _capturing(store, "upsert")
    assert alert_dispatcher.main(spark, store) == 1
    (df,) = frames
    assert "PythonRDD" not in _lineage(df)
    assert df.schema.simpleString() == "struct<aid:string,handled:string,ticket:string>"


# -- suppression runners: the default-false UPDATE rides on the last MERGE --

SUPPRESSIONS = {
    "alerts": (alert_suppressions.main, "_ALERT_SUPPRESSION", "data_alerts",
               "alert.ALERT_ID"),
    "violations": (violation_queries.suppress, "_VIOLATION_SUPPRESSION",
                   "data_violations", "id"),
}


def _seed(spark, store, table):
    """Ids a, b, c unsuppressed; d suppressed by an earlier run."""
    rows = [(i, None, None) for i in "abc"] + [("d", True, "_OLD")]
    if table == "alerts":
        data = [
            ({"ALERT_ID": i, "TITLE": i}, T0, T0, None, s, r, 1, None, None)
            for i, s, r in rows
        ]
    else:
        data = [("{}", i, T0, None, s, r) for i, s, r in rows]
    store.overwrite(table, spark.createDataFrame(data, store.schema(table)))


def _flags(store, table):
    key = SUPPRESSIONS[table][3]
    return {
        r.k: (r.suppressed, r.suppression_rule)
        for r in store.read(table)
        .select(F.col(key).alias("k"), "suppressed", "suppression_rule")
        .collect()
    }


def _rule_sql(table, where):
    _, _, view, key = SUPPRESSIONS[table]
    return f"SELECT {key} AS id FROM {view} WHERE suppressed IS NULL AND {where}"


def _suppress(spark, store, table, rules):
    """Run the table's suppression runner over ``rules`` (name → SQL);
    returns its results and the number of versions it published."""
    run, suffix, _, _ = SUPPRESSIONS[table]
    reg = RuleRegistry()
    for name, sql in rules.items():
        reg.create(name + suffix, sql=sql, comment=name)
    v0 = store._versions(table)[-1]
    res = run(spark, store, reg)
    return res, store._versions(table)[-1] - v0


@pytest.mark.parametrize("table", list(SUPPRESSIONS))
def test_suppression_fold_one_rule_publishes_once(spark, tmp_path, table):
    """One rule: one publish, with the rows the MERGE-then-UPDATE
    sequence leaves; the recorded count is the matched rows only."""
    stores = [ResultsStore(spark, str(tmp_path / s)) for s in ("fold", "ref")]
    for s in stores:
        _seed(spark, s, table)
    fold, ref = stores
    _, sfx, view, key = SUPPRESSIONS[table]
    sql = _rule_sql(table, f"{key} = 'a'")
    res, published = _suppress(spark, fold, table, {"_S1": sql})
    assert published == 1
    assert res[0]["ROW_COUNT"] == {"suppressed": 1}

    ref.read(table).createOrReplaceTempView(view)
    ref.upsert(
        table,
        spark.sql(sql).select(F.col("id").alias("sid")),
        on=F.col(key) == F.col("src_sid"),
        when_matched={
            "suppressed": F.lit(True),
            "suppression_rule": F.lit("_S1" + sfx),
        },
        when_not_matched_insert=False,
    )
    ref.update(table, F.col("suppressed").isNull(), {"suppressed": F.lit(False)})
    assert sorted(fold.read(table).collect()) == sorted(ref.read(table).collect())
    assert _flags(fold, table)["b"] == (False, None)


@pytest.mark.parametrize("table", list(SUPPRESSIONS))
def test_suppression_fold_second_rule_sees_first_rules_nulls(spark, store, table):
    _seed(spark, store, table)
    key, sfx = SUPPRESSIONS[table][3], SUPPRESSIONS[table][1]
    res, published = _suppress(
        spark,
        store,
        table,
        {"_S1": _rule_sql(table, f"{key} = 'a'"), "_S2": _rule_sql(table, "true")},
    )
    assert published == 2
    assert [r["ROW_COUNT"] for r in res] == [{"suppressed": 1}, {"suppressed": 2}]
    assert _flags(store, table) == {
        "a": (True, "_S1" + sfx),
        "b": (True, "_S2" + sfx),
        "c": (True, "_S2" + sfx),
        "d": (True, "_OLD"),
    }


@pytest.mark.parametrize("table", list(SUPPRESSIONS))
def test_suppression_fold_last_rule_error_still_defaults(spark, store, table):
    _seed(spark, store, table)
    key, sfx = SUPPRESSIONS[table][3], SUPPRESSIONS[table][1]
    broken = _rule_sql(table, "raise_error('boom') IS NULL")
    res, published = _suppress(
        spark, store, table, {"_S1": _rule_sql(table, f"{key} = 'a'"), "_S2": broken}
    )
    assert published == 2  # the first rule's merge, then the fallback UPDATE
    assert "boom" in res[1]["ERROR"]["EXCEPTION_ONLY"]
    assert res[1].get("ROW_COUNT") is None
    assert _flags(store, table) == {
        "a": (True, "_S1" + sfx),
        "b": (False, None),
        "c": (False, None),
        "d": (True, "_OLD"),
    }


@pytest.mark.parametrize("table", list(SUPPRESSIONS))
def test_suppression_fold_without_rules_still_defaults(spark, store, table):
    _seed(spark, store, table)
    res, published = _suppress(spark, store, table, {})
    assert res == [] and published == 1
    assert {k: s for k, (s, _) in _flags(store, table).items()} == {
        "a": False, "b": False, "c": False, "d": True,
    }


# -- error quarantine: one contract for every rule kind --------------------

# kind → (rule suffix, metadata table, runner, SQL of a good rule that
# touches id/object ``k``, the counts such a rule records)
QUARANTINE = {
    "alert_query": (
        "_ALERT_QUERY",
        "query_metadata",
        lambda spark, store, reg, run_id: alert_queries.main(
            spark, store, reg, from_ts=T0 - dt.timedelta(minutes=90), to_ts=T0,
            run_id=run_id,
        ),
        lambda k: (
            f"SELECT 'the-actor' AS actor, '{k}' AS object, 'q' AS title, "
            "TIMESTAMP '2024-01-01 12:00:00' AS event_time, 'd' AS description"
        ),
        {"updated": 0, "inserted": 1},
    ),
    "alert_suppression": (
        "_ALERT_SUPPRESSION",
        "query_metadata",
        lambda spark, store, reg, run_id: alert_suppressions.main(
            spark, store, reg, run_id=run_id
        ),
        lambda k: _rule_sql("alerts", f"alert.ALERT_ID = '{k}'"),
        {"suppressed": 1},
    ),
    "violation_query": (
        "_VIOLATION_QUERY",
        "query_metadata",
        lambda spark, store, reg, run_id: violation_queries.main(
            spark, store, reg, run_id=run_id, now=T0
        ),
        lambda k: f"SELECT '{k}' AS OBJECT, 'open port' AS TITLE",
        {"inserted": 1},
    ),
    "violation_suppression": (
        "_VIOLATION_SUPPRESSION",
        "query_metadata",
        lambda spark, store, reg, run_id: violation_queries.suppress(
            spark, store, reg, run_id=run_id
        ),
        lambda k: _rule_sql("violations", f"id = '{k}'"),
        {"suppressed": 1},
    ),
    "policy": (
        "_POLICY_DEFINITION",
        "run_metadata",
        lambda spark, store, reg, run_id: policies.main(
            spark, store, reg, run_id=run_id
        ),
        lambda k: f"SELECT '{k}' AS title, TRUE AS passing",
        {"checks": 1, "passing": 1},
    ),
}


@pytest.mark.parametrize("kind", list(QUARANTINE))
def test_rule_quarantine_contract(spark, store, kind):
    """Three rules of one kind, the middle one raising: it records one
    ERROR row, the rule after it still runs and records its counts, and
    the rows come in ``load_rules`` order under the call's RUN_ID."""
    suffix, md_table, run, good, counts = QUARANTINE[kind]
    for table in ("alerts", "violations"):
        _seed(spark, store, table)
    reg = RuleRegistry()
    # created out of order: the rows must follow load_rules, not this
    for name, sql in [
        ("_Q3", good("c")),
        ("_Q1", good("a")),
        ("_Q2", "SELECT * FROM no_such_quarantine_view"),
    ]:
        reg.create(name + suffix, sql=sql, comment=name)
    res = run(spark, store, reg, "run-q")
    md = metadata.read_metadata(store, md_table)
    assert [m["QUERY_NAME"] for m in md] == [r.name for r in reg.load_rules(suffix)]
    assert [m["QUERY_NAME"] for m in md] == ["_Q1" + suffix, "_Q2" + suffix, "_Q3" + suffix]
    assert {m["RUN_ID"] for m in md} == {"run-q"}
    assert ["ERROR" in m for m in md] == [False, True, False]
    assert "no_such_quarantine_view" in md[1]["ERROR"]["EXCEPTION_ONLY"]
    assert "ROW_COUNT" not in md[1]
    assert md[0]["ROW_COUNT"] == md[2]["ROW_COUNT"] == counts
    if kind == "policy":  # the runner returns the checks, not the rows
        assert [p.get("checks") for p in res] == [1, None, 1]
    else:
        assert res == md


# -- scheduled ticks: job budget, and the benchmark's traced store ---------

# two hourly ticks over the 90-minute window; the second one's MERGE
# meets the first one's alerts
TICKS = [
    (T0 - dt.timedelta(minutes=150), T0 - dt.timedelta(minutes=60)),
    (T0 - dt.timedelta(minutes=90), T0),
]


def _tick_registry(spark):
    """One rule of each kind over 240 events from 10:00 to 12:00: the
    alert rule's groups span several actors and hosts, the
    suppressions flag part of each table."""
    spark.range(240).selectExpr(
        "concat('user:', id % 7) AS actor",
        "concat('host-', id % 11) AS object",
        "IF(id % 3 = 0, 'delete', 'read') AS action",
        "timestamp_seconds(unix_seconds(TIMESTAMP '2024-01-01 10:00:00')"
        " + id * 30) AS event_time",
        "concat('by user ', id % 5) AS description",
    ).createOrReplaceTempView("tick_events")
    reg = RuleRegistry()
    reg.create(
        "_TICK_ALERT_QUERY",
        sql="SELECT *, 'tick alert' AS title FROM tick_events",
        comment="tick alerts\n@id tick_id",
    )
    reg.create(
        "_TICK_ALERT_SUPPRESSION",
        sql=(
            "SELECT alert.ALERT_ID AS id FROM data_alerts "
            "WHERE suppressed IS NULL AND alert.OBJECT IN ('host-0', 'host-2')"
        ),
        comment="maintenance hosts",
    )
    reg.create(
        "_TICK_VIOLATION_QUERY",
        sql=(
            "SELECT concat('host-', id) AS OBJECT, 'open port' AS TITLE, "
            "concat('team-', id % 3) AS OWNER FROM range(12)"
        ),
        comment="open ports\n@id tick_v_id",
    )
    reg.create(
        "_TICK_VIOLATION_SUPPRESSION",
        sql=(
            "SELECT id FROM data_violations "
            "WHERE get_json_object(result, '$.OWNER') = 'team-0'"
        ),
        comment="team 0",
    )
    return reg


def _tick(spark, store, reg, lo, hi):
    """The steps of ``run.run_alerts`` then ``run.run_violations``,
    each called on its own so the caller can measure it."""
    return [
        ("alert_queries", lambda: alert_queries.main(
            spark, store, reg, from_ts=lo, to_ts=hi)),
        ("alert_suppressions", lambda: alert_suppressions.main(spark, store, reg)),
        ("alert_processor", lambda: alert_processor.main(spark, store, now=hi)),
        ("alert_dispatcher", lambda: alert_dispatcher.main(spark, store)),
        ("violation_query", lambda: violation_queries.main(spark, store, reg, now=hi)),
        ("violation_suppression", lambda: violation_queries.suppress(spark, store, reg)),
    ]


def _assert_ticks_outcome(store):
    """No rule failed, and two ticks left every table as the reference
    would: maintenance hosts suppressed, every other alert correlated
    and dispatched, team 0's violations suppressed."""
    md = metadata.read_metadata(store, "query_metadata")
    assert [m for m in md if "ERROR" in m] == []
    assert len(md) == 8
    alerts = store.read("alerts").select(
        F.col("alert.OBJECT").isin("host-0", "host-2").alias("maint"),
        "suppressed",
        "correlation_id",
        "handled",
    ).collect()
    assert len(alerts) >= 55  # 11 hosts x 5 descriptions
    for r in alerts:
        assert r.suppressed is r.maint
        assert (r.correlation_id is None) is (r.handled is None) is r.maint
    v = {
        r.suppressed: r.n
        for r in store.read("violations").groupBy("suppressed")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert v == {True: 8, False: 16}


# Spark jobs per step of a tick over existing alerts. Each budget is
# what the step needs: the rule's aggregate and the MERGE's target
# exchange and write for the queries (the MERGE's source keeps the
# aggregate's partitioning); the suppression's broadcast of its ids and
# the write; the processor's scalar lower bound, one exchange for its
# three windows, the MERGE's two sides and the write; the dispatcher's
# collect and its MERGE. Metadata records add none.
TICK_JOB_BUDGET = {
    "alert_queries": 3,
    "alert_suppressions": 2,
    "alert_processor": 5,
    "alert_dispatcher": 3,
    "violation_query": 1,
    "violation_suppression": 2,
}


def test_tick_job_budget(spark, store, last_job_id):
    """A tick over the alerts an earlier tick left stays within its job
    budget, step by step: metadata rows are written without Spark, each
    suppression is one existence-join write, and the processor's windows
    and the queries' MERGE run one exchange each."""
    reg = _tick_registry(spark)
    H.register("jira", H.MemoryTicketHandler().handle)
    for _, step in _tick(spark, store, reg, *TICKS[0]):
        step()
    jobs = {}
    for name, step in _tick(spark, store, reg, *TICKS[1]):
        before = last_job_id()
        step()
        jobs[name] = last_job_id() - before
    _assert_ticks_outcome(store)
    over = {k: n for k, n in jobs.items() if n > TICK_JOB_BUDGET[k]}
    assert over == {}, f"steps over budget: {over} (all: {jobs})"


def test_tick_through_traced_store(spark, store):
    """The benchmark's traced runs hand the runners its ``TracedStore``
    proxy and wrap the runner entry points. A tick through them must
    record no ERROR row (a store call the proxy cannot pass on fails
    inside the rule quarantine) and leave the same table states."""
    import importlib.util

    from snowalert_spark import run

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), os.pardir, "perfbench", "spans.py"
    )
    spec = importlib.util.spec_from_file_location("perfbench_spans", path)
    spans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(spans)

    reg = _tick_registry(spark)
    H.register("jira", H.MemoryTicketHandler().handle)
    for _, step in _tick(spark, store, reg, *TICKS[0]):
        step()
    tracer = spans.Tracer(spark)
    traced = spans.TracedStore(store, tracer)
    lo, hi = TICKS[1]
    with spans.installed(tracer), tracer.span("run"):
        run.run_alerts(spark, traced, reg, from_ts=lo, to_ts=hi)
        run.run_violations(spark, traced, reg)
    tracer.collect_jobs(tracer.spans)
    layer = spans.summarize(tracer.spans)
    _assert_ticks_outcome(store)
    assert layer["runners.metadata.record.calls"] == 4
    assert layer["store.upsert.calls"] == 5
    assert layer["handlers.calls"] >= 1 and layer["handlers.failed"] == 0
