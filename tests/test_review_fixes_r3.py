"""Round-3 self-review fixes, pinned: the default-window alert merge,
transpiler cast/BETWEEN/JOIN-flatten/QUALIFY-UNION/clause-whitespace
repairs, connector edge guards."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from snowalert_spark import compat


def test_default_window_counter_merges_an_earlier_match(spark, tmp_path):
    """to_ts=None (production default): an existing alert from an hour
    ago whose event_time sits inside the window has to be
    counter-merged, not duplicated, although the rule's own rows carry
    CURRENT_TIMESTAMP as their event_time."""
    from snowalert_spark.rules import RuleRegistry
    from snowalert_spark.runners import alert_queries
    from snowalert_spark.schema import ALERTS
    from snowalert_spark.store import ResultsStore

    store = ResultsStore(spark, str(tmp_path))
    earlier_ts = dt.datetime.utcnow() - dt.timedelta(hours=1)
    existing = {
        "alert": {"ALERT_ID": "old-1", "OBJECT": "host-9",
                  "DESCRIPTION": "same-desc", "EVENT_TIME": earlier_ts},
        "alert_time": earlier_ts, "event_time": earlier_ts,
        "ticket": None, "suppressed": None, "suppression_rule": None,
        "counter": 1, "correlation_id": None, "handled": None,
    }
    store.append("alerts", spark.createDataFrame([existing], ALERTS))

    reg = RuleRegistry()
    reg.create(
        "RF1_ALERT_QUERY",
        sql="""
        SELECT 'a' AS actor, 'host-9' AS object, 'same-desc' AS description,
               'T' AS title, CURRENT_TIMESTAMP() AS event_time
        """,
        comment="rf1",
    )
    counts = alert_queries.create_alerts(
        spark, store, reg.rules["RF1_ALERT_QUERY"],
        from_ts=earlier_ts - dt.timedelta(minutes=30), to_ts=None,
    )
    rows = store.read("alerts").collect()
    assert counts == {"updated": 1, "inserted": 0}
    assert len(rows) == 1 and rows[0].counter == 2


def test_cast_placeholder_handles_paren_types():
    out = compat.transpile("SELECT SPLIT(rng, '-')[0]::number AS lo FROM t")
    assert "__CAST_" not in out
    assert "CAST(SPLIT(rng, '-')[0] AS DECIMAL(38,0))" in out
    out = compat.transpile("SELECT f(x)::array AS a FROM t")
    assert "CAST(f(x) AS ARRAY<STRING>)" in out


def test_between_and_not_split_as_conjunct():
    out = compat.transpile(
        "SELECT a FROM t WHERE ts BETWEEN lo AND hi AND enabled")
    assert "BETWEEN lo AND hi" in out
    assert "CAST(enabled AS BOOLEAN)" in out
    assert "CAST(hi" not in out
    # parenthesized between stays intact too
    out2 = compat.transpile(
        "SELECT a FROM t WHERE (ts BETWEEN lo AND hi) AND b = 1")
    assert "BETWEEN lo AND hi" in out2 and "CAST(" not in out2


def test_left_join_lateral_flatten(spark):
    out = compat.transpile(
        "SELECT t.id, f.value FROM t LEFT JOIN LATERAL FLATTEN(input => xs) f "
        "WHERE t.id > 0")
    assert "LEFT LATERAL" not in out and "LEFT JOIN LATERAL" not in out
    assert "LATERAL VIEW OUTER posexplode" in out
    spark.createDataFrame(
        [(1, '["a","b"]'), (2, None)], "id int, xs string"
    ).createOrReplaceTempView("t")
    rows = spark.sql(out).collect()
    # outer form keeps the row whose input is NULL
    assert sorted((r.id, r.value) for r in rows) == [
        (1, "a"), (1, "b"), (2, None)]


def test_flatten_outer_arg(spark):
    out = compat.transpile(
        "SELECT id, f.value FROM t, LATERAL FLATTEN(input => xs, outer => true) f")
    assert "LATERAL VIEW OUTER posexplode" in out


def test_qualify_union_branches(spark):
    out = compat.transpile(
        "SELECT a FROM tq QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1 "
        "UNION ALL SELECT a FROM uq")
    spark.createDataFrame([(3,), (1,)], "a int").createOrReplaceTempView("tq")
    spark.createDataFrame([(9,)], "a int").createOrReplaceTempView("uq")
    assert sorted(r.a for r in spark.sql(out).collect()) == [1, 9]


def test_flatten_placement_with_split_group_by(spark):
    out = compat.transpile(
        "SELECT value, count(*) AS n FROM t2, LATERAL FLATTEN(input => xs) f\n"
        "GROUP\nBY value")
    assert out.index("LATERAL VIEW") < out.index("GROUP")
    spark.createDataFrame([(1, '["a","a"]')], "id int, xs string"
                          ).createOrReplaceTempView("t2")
    assert spark.sql(out).collect()[0].n == 2


def test_assetpanda_collision_stays_per_device():
    from snowalert_spark.sources.inventory import replace_device_keys

    objs = [{"field_140": "aa:bb", "os": "mac"}, {"field_140": "cc:dd"}]
    out = replace_device_keys(objs, {"field_140": "os"})
    assert out[0] == {"os": "mac", "os_2": "aa:bb"}
    assert out[1] == {"os": "cc:dd"}  # no suffix leakage across devices


def test_credential_report_missing_content_lands_nulls():
    from snowalert_spark.sources.aws_collect_spec import AWS_API_SPEC
    from snowalert_spark.sources.collect import CollectTask, process_response

    rows = list(process_response(
        AWS_API_SPEC,
        CollectTask("1", "iam.get_credential_report", ()),
        {"State": "STARTED"},  # report still generating: no Content
        now=dt.datetime(2020, 1, 1),
    ))
    (entry,) = rows
    assert entry.entity["content"] is None
    assert entry.entity["content_csv_parsed"] is None


def test_multimodal_missing_format_error_is_clear(spark):
    from snowalert_spark.functions import multimodal as M

    media = spark.createDataFrame(
        [(1, "image", b"x", {"format": None, "width": 1, "height": 1,
                             "duration_ms": None}),
         (2, "image", b"y", {"format": "gif", "width": 1, "height": 1,
                             "duration_ms": None})],
        M.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="no decoder registered"):
        M.extract_features(media, decode="real").collect()


def test_list_rules_skips_unsuffixed_names(spark):
    from snowalert_spark.rules import Rule, RuleRegistry
    from snowalert_spark.runners.policies import list_rules

    reg = RuleRegistry()
    reg.create("OK_ALERT_QUERY", sql="SELECT 1 AS one", comment="x")
    # simulate a legacy/hand-injected rule without underscores
    reg.rules["FOO"] = Rule(name="FOO", sql="SELECT 1 AS one")
    listing = list_rules(spark, reg)
    assert [r["title"] for r in listing] == ["OK"]
