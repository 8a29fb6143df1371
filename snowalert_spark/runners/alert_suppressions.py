"""Alert-suppressions runner (reference: alert_suppressions_runner.py).

Each ``*_ALERT_SUPPRESSION`` rule selects ids of alerts to suppress
(over the data.alerts view, suppressed IS NULL); matching alerts get
``suppressed=true, suppression_rule=<rule>`` (MERGE, :24-31), and the
remainder defaults to ``suppressed=false`` (:33-38). The default rides
on the last rule's MERGE as its WHEN NOT MATCHED BY SOURCE clause, so
each rule publishes the table once; a separate UPDATE runs only when
there is no rule or the last one raised."""

from __future__ import annotations

import datetime as dt
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from snowalert_spark.rules import ALERT_SUPPRESSION, RuleRegistry
from snowalert_spark.runners import metadata
from snowalert_spark.store import ResultsStore


def register_data_views(spark: SparkSession, store: ResultsStore) -> None:
    """data.alerts projection view analog (data-views.sql.fmt:27-74):
    suppression rules query this."""
    store.read("alerts").createOrReplaceTempView("data_alerts")
    store.read("violations").createOrReplaceTempView("data_violations")


def main(
    spark: SparkSession,
    store: ResultsStore,
    registry: RuleRegistry,
    run_id: str | None = None,
) -> list[dict]:
    run_id = run_id or uuid.uuid4().hex
    results = []
    rules = registry.load_rules(ALERT_SUPPRESSION)
    defaulted = False
    for rule in rules:
        last = rule is rules[-1]
        start = dt.datetime.utcnow()
        try:
            register_data_views(spark, store)
            ids = rule.df(spark)
            id_col = ids.columns[0]
            ids = ids.select(F.col(id_col).alias("sid")).distinct()
            n = store.upsert(
                "alerts",
                ids,
                on=lambda t, s: F.col("alert.ALERT_ID") == F.col("src_sid"),
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
            counts = {"suppressed": n["updated"]}
            err = None
            defaulted = last
        except Exception as e:
            counts, err = None, e
        results.append(
            metadata.record(
                store,
                "query_metadata",
                run_id,
                query_name=rule.name,
                run_type="ALERT SUPPRESSION",
                start=start,
                row_counts=counts,
                error=err,
            )
        )
    if not defaulted:  # default the rest to not-suppressed (:33-38)
        store.update(
            "alerts", F.col("suppressed").isNull(), {"suppressed": F.lit(False)}
        )
    return results
