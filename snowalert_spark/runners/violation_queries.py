"""Violation pipeline (reference: violation_queries_runner.py +
violation_suppressions_runner.py + db.insert_violations_query_run).

Each ``*_VIOLATION_QUERY`` rule's rows become violations with a
content-addressed id: MD5 of the canonical (compact, key-sorted,
nulls-omitted) JSON of the row's IDENTITY or its canonical key subset
(db.py:465-492) — stable across runs for cross-day dedupe/suppression.
A 1-day alert_time cutoff applies when the rule exposes alert_time
(db.py:491,499). Suppressions then flag by id and default the rest to
false, the default riding on the last suppression's MERGE (see
``alert_suppressions``)."""

from __future__ import annotations

import datetime as dt
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snowalert_spark.functions.variant import object_construct
from snowalert_spark.rules import VIOLATION_QUERY, VIOLATION_SUPPRESSION, Rule, RuleRegistry
from snowalert_spark.runners import metadata
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
    run_id = run_id or uuid.uuid4().hex
    now = now or dt.datetime.utcnow()
    cutoff = now - dt.timedelta(days=1)
    results = []
    for rule in registry.load_rules(VIOLATION_QUERY):
        start = dt.datetime.utcnow()
        try:
            rows = violation_rows(rule.df(spark), rule, cutoff)
            n = store.append("violations", rows)
            counts, err = {"inserted": n}, None
        except Exception as e:
            counts, err = None, e
        results.append(
            metadata.record(
                store,
                "query_metadata",
                run_id,
                query_name=rule.name,
                run_type="VIOLATION QUERY",
                start=start,
                row_counts=counts,
                error=err,
            )
        )
    return results


def suppress(
    spark: SparkSession,
    store: ResultsStore,
    registry: RuleRegistry,
    run_id: str | None = None,
) -> list[dict]:
    """violation_suppressions_runner.py:15-28 analog."""
    run_id = run_id or uuid.uuid4().hex
    results = []
    rules = registry.load_rules(VIOLATION_SUPPRESSION)
    defaulted = False
    for rule in rules:
        last = rule is rules[-1]
        start = dt.datetime.utcnow()
        try:
            store.read("violations").createOrReplaceTempView("data_violations")
            ids = rule.df(spark)
            ids = ids.select(F.col(ids.columns[0]).alias("sid")).distinct()
            n = store.upsert(
                "violations",
                ids,
                on=lambda t, s: F.col("id") == F.col("src_sid"),
                when_matched={
                    "suppressed": F.lit(True),
                    "suppression_rule": F.lit(rule.name),
                },
                when_not_matched_insert=False,
                when_not_matched_by_source=(
                    {"suppressed": F.coalesce(F.col("suppressed"), F.lit(False))}
                    if last
                    else None
                ),
            )
            counts, err = {"suppressed": n["updated"]}, None
            defaulted = last
        except Exception as e:
            counts, err = None, e
        results.append(
            metadata.record(
                store,
                "query_metadata",
                run_id,
                query_name=rule.name,
                run_type="VIOLATION SUPPRESSION",
                start=start,
                row_counts=counts,
                error=err,
            )
        )
    if not defaulted:
        store.update(
            "violations", F.col("suppressed").isNull(), {"suppressed": F.lit(False)}
        )
    return results
