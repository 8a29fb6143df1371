"""Regression tests for the round-1 ADVICE findings:

1. The store's upsert must accept id-only sources (sid/aid frames
   without the table's time column) — the suppression, processor, and
   dispatcher runners all send those, so the full alert lifecycle must
   run through them.
2. Correlation must never rewrite existing correlation_ids (reference
   alert_processor.py:14-17 updates one NULL row at a time), must seed
   chains from them, and must bound the scan on alert_time (not
   event_time) so backfilled alerts correlate.
3. DATEDIFF counts date-part boundary crossings (Snowflake), not
   complete elapsed units (Spark timestampdiff).
4. Dispatcher gate: default-handler alerts whose dispatch failed (no
   ticket) are retried next run — IFF(HANDLERS IS NULL, ticket IS
   NULL, handled IS NULL) (reference alert_dispatcher.py:9-16).
5. CONVERT_TIMEZONE 3-arg form (src_tz, tgt_tz, ts).
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from snowalert_spark import handlers as H
from snowalert_spark.compat import transpile
from snowalert_spark.rules import RuleRegistry
from snowalert_spark.runners import (
    alert_dispatcher,
    alert_processor,
    alert_queries,
    alert_suppressions,
)
from snowalert_spark.store import ResultsStore


def _mk_registry(t1: str, t2: str) -> RuleRegistry:
    reg = RuleRegistry()
    base = (
        "SELECT 'the-actor' AS actor, 'obj-{n}' AS object, "
        "'act-A' AS action, 'P{n}' AS title, "
        "TIMESTAMP '{t}' AS event_time, TIMESTAMP '{t}' AS alert_time, "
        "'desc {n}' AS description"
    )
    reg.create("_P1_ALERT_QUERY", sql=base.format(n=1, t=t1), comment="p1")
    reg.create("_P2_ALERT_QUERY", sql=base.format(n=2, t=t2), comment="p2")
    reg.create(
        "_P2_ALERT_SUPPRESSION",
        sql=(
            "SELECT alert.ALERT_ID AS id FROM data_alerts "
            "WHERE suppressed IS NULL AND alert.TITLE = 'P2'"
        ),
        comment="suppress p2",
    )
    return reg


def test_id_only_upserts_full_alert_lifecycle(spark, tmp_path):
    """queries → suppressions (sid-only upsert) → correlation (aid-only
    upsert) → dispatch (aid-only upsert), all against one store. An
    id-only source must merge without the table's time column: no
    stage may be quarantined or crash."""
    store = ResultsStore(spark, str(tmp_path / "results"))
    now = dt.datetime.utcnow().replace(microsecond=0)
    t1 = (now - dt.timedelta(minutes=50)).strftime("%Y-%m-%d %H:%M:%S")
    t2 = (now - dt.timedelta(minutes=20)).strftime("%Y-%m-%d %H:%M:%S")
    reg = _mk_registry(t1, t2)
    alert_queries.main(
        spark, store, reg, from_ts=now - dt.timedelta(hours=2), to_ts=now
    )
    res = alert_suppressions.main(spark, store, reg)
    assert all(r.get("ERROR") is None for r in res if isinstance(r, dict)) or all(
        "ERROR" not in r for r in res
    ), f"suppression quarantined an error: {res}"
    rows = store.read("alerts").collect()
    sup = {r.alert.TITLE: r.suppressed for r in rows}
    assert sup["P2"] is True and sup["P1"] is False

    n = alert_processor.main(spark, store, now=now)
    assert n == 1  # only unsuppressed P1
    ticketer = H.MemoryTicketHandler()
    H.register("jira", ticketer.handle)
    assert alert_dispatcher.main(spark, store) == 1
    rows = store.read("alerts").collect()
    p1 = [r for r in rows if r.alert.TITLE == "P1"][0]
    assert p1.ticket is not None
    assert p1.correlation_id is not None


def test_correlation_preserves_existing_ids(spark, tmp_path):
    """An already-correlated alert keeps its id across runs, and a new
    linked alert adopts it (seeded chain) instead of the whole chain
    being re-minted."""
    store = ResultsStore(spark, str(tmp_path / "results"))
    now1 = dt.datetime.utcnow().replace(microsecond=0)
    tA = (now1 - dt.timedelta(minutes=10)).strftime("%Y-%m-%d %H:%M:%S")
    regA = RuleRegistry()
    regA.create(
        "_CA_ALERT_QUERY",
        sql=(
            "SELECT 'actor-k' AS actor, 'obj-x' AS object, 'act-1' AS action, "
            f"'CA' AS title, TIMESTAMP '{tA}' AS event_time, "
            f"TIMESTAMP '{tA}' AS alert_time, 'da' AS description"
        ),
        comment="ca",
    )
    alert_queries.main(
        spark, store, regA, from_ts=now1 - dt.timedelta(hours=1), to_ts=now1
    )
    alert_suppressions.main(spark, store, regA)
    assert alert_processor.main(spark, store, now=now1) == 1
    cid_a = {
        r.alert.TITLE: r.correlation_id for r in store.read("alerts").collect()
    }["CA"]
    assert cid_a is not None

    # second batch 50 min later, same actor+action → links to CA
    now2 = now1 + dt.timedelta(minutes=50)
    tB = (now1 + dt.timedelta(minutes=40)).strftime("%Y-%m-%d %H:%M:%S")
    regB = RuleRegistry()
    regB.create(
        "_CB_ALERT_QUERY",
        sql=(
            "SELECT 'actor-k' AS actor, 'obj-y' AS object, 'act-1' AS action, "
            f"'CB' AS title, TIMESTAMP '{tB}' AS event_time, "
            f"TIMESTAMP '{tB}' AS alert_time, 'db' AS description"
        ),
        comment="cb",
    )
    alert_queries.main(
        spark, store, regB, from_ts=now2 - dt.timedelta(hours=1), to_ts=now2
    )
    alert_suppressions.main(spark, store, regB)
    assert alert_processor.main(spark, store, now=now2) == 1  # only CB is NULL
    cids = {r.alert.TITLE: r.correlation_id for r in store.read("alerts").collect()}
    assert cids["CA"] == cid_a, "existing correlation_id must never be rewritten"
    assert cids["CB"] == cid_a, "linked alert must adopt the seeded chain id"


def test_correlation_backfilled_alert_uses_alert_time_bound(spark, tmp_path):
    """Backfilled alert: event_time 10 days old, alert_time recent —
    the scan bounds on alert_time (reference GET_ALERTS_WITHOUT_
    CORREALTION_ID: alert_time > -2h), so it still gets an id."""
    from snowalert_spark.store import ResultsStore

    store = ResultsStore(spark, str(tmp_path / "results"))
    now = dt.datetime.utcnow().replace(microsecond=0)
    old = (now - dt.timedelta(days=10)).strftime("%Y-%m-%d %H:%M:%S")
    recent = (now - dt.timedelta(minutes=5)).strftime("%Y-%m-%d %H:%M:%S")
    reg = RuleRegistry()
    reg.create(
        "_BF_ALERT_QUERY",
        sql=(
            "SELECT 'actor-bf' AS actor, 'obj-bf' AS object, 'act-bf' AS action, "
            f"'BF' AS title, TIMESTAMP '{old}' AS event_time, "
            f"TIMESTAMP '{recent}' AS alert_time, 'dbf' AS description"
        ),
        comment="bf",
    )
    alert_queries.main(
        spark, store, reg, from_ts=now - dt.timedelta(days=11), to_ts=now
    )
    alert_suppressions.main(spark, store, reg)
    assert alert_processor.main(spark, store, now=now) == 1
    row = store.read("alerts").collect()[0]
    assert row.correlation_id is not None


@pytest.mark.parametrize(
    "unit,a,b,want",
    [
        # boundary crossed, elapsed < unit → Snowflake says 1, raw diff 0
        ("DAY", "2024-01-01 23:59:00", "2024-01-02 00:01:00", 1),
        ("HOUR", "2024-01-01 11:59:59", "2024-01-01 12:00:01", 1),
        # no boundary crossed, elapsed just under unit → 0 in both
        ("DAY", "2024-01-01 00:01:00", "2024-01-01 23:59:00", 0),
        # negative direction
        ("DAY", "2024-01-02 00:01:00", "2024-01-01 23:59:00", -1),
        # exact multi-unit span
        ("MONTH", "2024-01-31 00:00:00", "2024-03-01 00:00:00", 2),
        ("MINUTE", "2024-01-01 12:00:59", "2024-01-01 12:01:00", 1),
    ],
)
def test_datediff_boundary_semantics(spark, unit, a, b, want):
    sql = transpile(
        f"SELECT DATEDIFF({unit}, TIMESTAMP '{a}', TIMESTAMP '{b}') AS d"
    )
    assert spark.sql(sql).collect()[0].d == want


def test_datediff_quoted_unit(spark):
    sql = transpile(
        "SELECT DATEDIFF('hour', TIMESTAMP '2024-01-01 11:59:00', "
        "TIMESTAMP '2024-01-01 13:01:00') AS d"
    )
    assert spark.sql(sql).collect()[0].d == 2


def test_convert_timezone_three_arg(spark):
    # 12:00 LA wall clock == 15:00 NY wall clock (same UTC instant)
    sql = transpile(
        "SELECT CONVERT_TIMEZONE('America/Los_Angeles', 'America/New_York', "
        "TIMESTAMP '2024-01-01 12:00:00') AS t"
    )
    got = spark.sql(sql).collect()[0].t
    assert got == dt.datetime(2024, 1, 1, 15, 0, 0)
    # 2-arg form unchanged: UTC engine time rendered in tz
    sql2 = transpile(
        "SELECT CONVERT_TIMEZONE('America/New_York', "
        "TIMESTAMP '2024-01-01 12:00:00') AS t"
    )
    assert spark.sql(sql2).collect()[0].t == dt.datetime(2024, 1, 1, 7, 0, 0)


def test_dispatcher_retries_failed_default_handler(spark, tmp_path):
    """Transient handler failure: handled={success:false}, no ticket →
    the alert must be selected again next run (pre-fix it was dropped
    forever because the gate was handled IS NULL only)."""
    from snowalert_spark.store import ResultsStore

    store = ResultsStore(spark, str(tmp_path / "results"))
    now = dt.datetime.utcnow().replace(microsecond=0)
    t = (now - dt.timedelta(minutes=5)).strftime("%Y-%m-%d %H:%M:%S")
    reg = RuleRegistry()
    reg.create(
        "_RT_ALERT_QUERY",
        sql=(
            "SELECT 'actor-rt' AS actor, 'obj-rt' AS object, 'act' AS action, "
            f"'RT' AS title, TIMESTAMP '{t}' AS event_time, "
            f"TIMESTAMP '{t}' AS alert_time, 'drt' AS description"
        ),
        comment="rt",
    )
    alert_queries.main(
        spark, store, reg, from_ts=now - dt.timedelta(hours=1), to_ts=now
    )
    alert_suppressions.main(spark, store, reg)

    def failing(alert):
        raise RuntimeError("jira is down")

    H.register("jira", failing)
    assert alert_dispatcher.main(spark, store) == 1
    row = store.read("alerts").collect()[0]
    assert row.ticket is None
    assert json.loads(row.handled)[0]["success"] is False

    # service recovers → alert retried and ticketed
    ticketer = H.MemoryTicketHandler()
    H.register("jira", ticketer.handle)
    assert alert_dispatcher.main(spark, store) == 1, "failed dispatch must retry"
    row = store.read("alerts").collect()[0]
    assert row.ticket is not None
    assert json.loads(row.handled)[0]["success"] is True
    # and a successful dispatch is terminal (no infinite retry)
    assert alert_dispatcher.main(spark, store) == 0
