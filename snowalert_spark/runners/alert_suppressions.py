"""Suppression runner for both result tables (reference:
alert_suppressions_runner.py, violation_suppressions_runner.py).

Each ``*_ALERT_SUPPRESSION`` or ``*_VIOLATION_SUPPRESSION`` rule selects
ids of rows to suppress (over the data_alerts / data_violations views,
suppressed IS NULL); matching rows get ``suppressed=true,
suppression_rule=<rule>`` (the reference's MERGE, :24-31), and the
remainder defaults to ``suppressed=false`` (:33-38). Here the MERGE is
a key-set merge: rows whose key is IN the rule's ids, planned as one
broadcast existence join with no dedupe of the ids. The default rides
on the last rule's merge as its WHEN NOT MATCHED BY SOURCE clause, so
each rule publishes the table once; a separate UPDATE runs only when
there is no rule or the last one raised. ``main`` runs the alerts
table; ``violation_queries.suppress`` runs the violations table."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from snowalert_spark.rules import ALERT_SUPPRESSION, VIOLATION_SUPPRESSION, RuleRegistry
from snowalert_spark.runners import metadata
from snowalert_spark.store import ResultsStore

# table → (rule suffix, key column, metadata run type)
SUPPRESSIONS = {
    "alerts": (ALERT_SUPPRESSION, "alert.ALERT_ID", "ALERT SUPPRESSION"),
    "violations": (VIOLATION_SUPPRESSION, "id", "VIOLATION SUPPRESSION"),
}


def register_data_views(spark: SparkSession, store: ResultsStore) -> None:
    """data.alerts projection view analog (data-views.sql.fmt:27-74):
    suppression rules query this."""
    store.read("alerts").createOrReplaceTempView("data_alerts")
    store.read("violations").createOrReplaceTempView("data_violations")


def suppress(
    spark: SparkSession,
    store: ResultsStore,
    registry: RuleRegistry,
    table: str,
    run_id: str | None = None,
) -> list[dict]:
    """Run ``table``'s suppression rules (a ``SUPPRESSIONS`` key) and
    default its remaining rows to not-suppressed; returns the recorded
    metadata rows."""
    suffix, key, run_type = SUPPRESSIONS[table]
    rules = registry.load_rules(suffix)

    def body(rule):
        register_data_views(spark, store)
        ids = rule.df(spark)
        n = store.upsert(
            table,
            ids.select(ids.columns[0]),
            on=key,
            when_matched={
                "suppressed": F.lit(True),
                "suppression_rule": F.lit(rule.name),
            },
            when_not_matched_insert=False,
            when_not_matched_by_source=(
                {"suppressed": F.coalesce(F.col("suppressed"), F.lit(False))}
                if rule is rules[-1]
                else None
            ),
        )
        return {"suppressed": n["updated"]}

    results = metadata.run_rules(
        store, "query_metadata", run_id, rules, run_type, body
    )
    if not results or "ERROR" in results[-1]:  # default the rest (:33-38)
        store.update(table, F.col("suppressed").isNull(), {"suppressed": F.lit(False)})
    return results


def main(
    spark: SparkSession,
    store: ResultsStore,
    registry: RuleRegistry,
    run_id: str | None = None,
) -> list[dict]:
    return suppress(spark, store, registry, "alerts", run_id)
