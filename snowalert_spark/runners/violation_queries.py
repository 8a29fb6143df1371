"""Violation pipeline (reference: violation_queries_runner.py +
violation_suppressions_runner.py + db.insert_violations_query_run).

Each ``*_VIOLATION_QUERY`` rule's rows become violations with a
content-addressed id: MD5 of the canonical (compact, key-sorted,
nulls-omitted) JSON of the row's IDENTITY or its canonical key subset
(db.py:465-492) — stable across runs for cross-day dedupe/suppression.
A 1-day alert_time cutoff applies when the rule exposes alert_time
(db.py:491,499). Each rule's run is recorded through
``metadata.run_rules``. ``suppress`` then flags by id and defaults the
rest to false through the suppression runner both tables share
(``alert_suppressions.suppress``)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snowalert_spark.functions.variant import object_construct
from snowalert_spark.rules import VIOLATION_QUERY, Rule, RuleRegistry
from snowalert_spark.runners import alert_suppressions, metadata
from snowalert_spark.store import ResultsStore

CANONICAL_KEYS = (  # db.py:470-481
    "ENVIRONMENT",
    "OBJECT",
    "TITLE",
    "ALERT_TIME",
    "DESCRIPTION",
    "EVENT_DATA",
    "DETECTOR",
    "SEVERITY",
    "OWNER",
)


def violation_rows(df: DataFrame, rule: Rule, cutoff: dt.datetime) -> DataFrame:
    cols = {c.lower(): c for c in df.columns}

    def get(key: str):
        return F.col(cols[key.lower()]) if key.lower() in cols else F.lit(None)

    # full-row document with QUERY_NAME stamped in (db.py:486-489)
    doc_fields = {c: F.col(c).cast("string") for c in df.columns}
    doc_fields["QUERY_NAME"] = F.lit(rule.name)
    doc_fields["QUERY_ID"] = F.lit(rule.rule_id)
    result = object_construct(**doc_fields)

    identity_fields = {
        k: get(k).cast("string") for k in CANONICAL_KEYS if k.lower() in cols
    }
    identity_obj = object_construct(**identity_fields) if identity_fields else result
    vid = F.md5(
        F.coalesce(get("IDENTITY").cast("string"), identity_obj)
    )

    alert_time = get("ALERT_TIME").cast("timestamp")
    out = df.select(
        result.alias("result"),
        vid.alias("id"),
        F.coalesce(alert_time, F.current_timestamp()).alias("alert_time"),
        F.lit(None).cast("string").alias("ticket"),
        F.lit(None).cast("boolean").alias("suppressed"),
        F.lit(None).cast("string").alias("suppression_rule"),
    )
    if "alert_time" in cols:
        # IFF(alert_time IS NOT NULL, alert_time > {cutoff}, TRUE)
        out = out.filter(
            F.when(alert_time.isNotNull(), alert_time > F.lit(cutoff)).otherwise(
                F.lit(True)
            )
        )
    return out


def has_no_violations(
    store: ResultsStore, query_id: str, now: dt.datetime | None = None
) -> bool:
    """rules.has_no_violations(qid) UDF analog (data-views.sql.fmt:
    293-301): no violation from this query in the last day — the
    correlated scalar-subquery becomes an aggregated existence check."""
    now = now or dt.datetime.utcnow()
    cutoff = now - dt.timedelta(days=1)
    n = (
        store.read("violations")
        .filter(
            (F.col("alert_time") > F.lit(cutoff))
            & (F.get_json_object("result", "$.QUERY_ID") == query_id)
        )
        .limit(1)
        .count()
    )
    return n == 0


def main(
    spark: SparkSession,
    store: ResultsStore,
    registry: RuleRegistry,
    run_id: str | None = None,
    now: dt.datetime | None = None,
) -> list[dict]:
    cutoff = (now or dt.datetime.utcnow()) - dt.timedelta(days=1)
    return metadata.run_rules(
        store,
        "query_metadata",
        run_id,
        registry.load_rules(VIOLATION_QUERY),
        "VIOLATION QUERY",
        lambda rule: {
            "inserted": store.append(
                "violations", violation_rows(rule.df(spark), rule, cutoff)
            )
        },
    )


def suppress(
    spark: SparkSession,
    store: ResultsStore,
    registry: RuleRegistry,
    run_id: str | None = None,
) -> list[dict]:
    """violation_suppressions_runner.py:15-28 analog: the shared
    suppression runner over the violations table."""
    return alert_suppressions.suppress(spark, store, registry, "violations", run_id)
