"""Alert-queries runner (reference: alert_queries_runner.py).

Pipeline per rule (SURVEY §3.1):
  window → project rule output into the alert vocabulary →
  dedupe groupBy(OBJECT, DESCRIPTION) → MERGE into results.alerts
  (matched: counter += ; not matched: insert).

The reference's transient spool table is unnecessary (DataFrames are
the spool); error quarantine and per-rule metadata are
``metadata.run_rules``.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from snowalert_spark.rules import ALERT_QUERY, Rule, RuleRegistry
from snowalert_spark.runners import metadata
from snowalert_spark.schema import ALERT_DOC
from snowalert_spark.store import ResultsStore

# alert_queries_runner.py:27-34 — 90-minute trailing window default
CUTOFF_MINUTES = 90


def _to_alert_doc(df: DataFrame, rule: Rule) -> DataFrame:
    """Project arbitrary rule output onto the fixed alert vocabulary
    (alert_queries_runner.py:38-55): missing keys → NULL, ALERT_ID →
    uuid, QUERY_NAME/QUERY_ID from the rule."""
    cols = {c.lower(): c for c in df.columns}
    types = {c.lower(): f.dataType for c, f in zip(df.columns, df.schema.fields)}

    def get(key: str, default=None):
        if key.lower() not in cols:
            return F.lit(default)
        c = F.col(cols[key.lower()])
        # SP1513: arrays/objects in scalar vocabulary slots (OBJECT,
        # ACTION, ...) are JSON-stringified — not Spark's cast format —
        # so dedupe/correlation equality behaves like the reference
        # (alert_processor.py:50-56). SOURCES/HANDLERS stay arrays.
        if key.upper() not in ("SOURCES", "HANDLERS") and isinstance(
            types[key.lower()], (T.ArrayType, T.StructType, T.MapType)
        ):
            return F.to_json(c)
        return c

    fields = []
    for f in ALERT_DOC.fields:
        k = f.name
        if k == "ALERT_ID":
            c = F.expr("uuid()")
        elif k == "QUERY_NAME":
            c = F.coalesce(get("query_name"), F.lit(rule.name))
        elif k == "QUERY_ID":
            c = F.coalesce(get("query_id"), F.lit(rule.rule_id))
        elif k == "ALERT_TIME":
            c = F.coalesce(get("alert_time"), F.current_timestamp())
        elif k == "EVENT_DATA":
            c = get("event_data")
            c = F.when(c.isNull(), F.lit("null")).otherwise(c.cast("string"))
        else:
            c = get(k)
        fields.append(c.cast(f.dataType).alias(k))
    return df.select(F.struct(*fields).alias("alert"))


def create_alerts(
    spark: SparkSession,
    store: ResultsStore,
    rule: Rule,
    from_ts: dt.datetime,
    to_ts: dt.datetime | None,
) -> dict:
    """Run one alert rule over [from_ts, to_ts] and merge results.

    ``to_ts=None`` mirrors the reference default exactly: the upper
    bound is ``CURRENT_TIMESTAMP`` evaluated *inside* the query
    (alert_queries_runner.py:31,60), so a rule that emits
    ``CURRENT_TIMESTAMP()`` as its event_time — the reference's own
    sample and SP1099 rules do — still falls inside the window. A
    pre-snapshotted driver timestamp would land strictly before the
    rule's evaluation time and silently drop those alerts."""
    raw = rule.df(spark)
    upper = F.lit(to_ts) if to_ts is not None else F.current_timestamp()
    projected = _to_alert_doc(raw, rule).filter(
        F.col("alert.EVENT_TIME").between(F.lit(from_ts), upper)
    )
    run = projected.select(
        "alert",
        F.col("alert.ALERT_TIME").alias("alert_time"),
        F.col("alert.EVENT_TIME").alias("event_time"),
        F.lit(1).alias("counter"),
    )
    # dedupe within the run: one alert per (OBJECT, DESCRIPTION) group
    # (alert_queries_runner.py:64-94); deterministic representative via
    # min_by on ALERT_ID. The group keys stay top-level columns and the
    # MERGE joins on them, so its source side keeps the aggregate's
    # hash partitioning instead of shuffling again.
    grouped = run.groupBy(
        F.col("alert.OBJECT").alias("_obj"), F.col("alert.DESCRIPTION").alias("_desc")
    ).agg(
        F.min_by("alert", F.col("alert.ALERT_ID")).alias("alert"),
        F.sum("counter").alias("counter"),
        F.min("alert_time").alias("alert_time"),
        F.min("event_time").alias("event_time"),
    )

    # MERGE ON alert:OBJECT = new:OBJECT AND alert:DESCRIPTION =
    # new:DESCRIPTION AND alerts.alert:EVENT_TIME > {from}
    # (alert_queries_runner.py:74-80 — NULLs don't match, = semantics)
    match = (
        (F.col("alert.OBJECT") == F.col("src__obj"))
        & (F.col("alert.DESCRIPTION") == F.col("src__desc"))
        & (F.col("alert.EVENT_TIME") > F.lit(from_ts))
    )
    return store.upsert(
        "alerts",
        grouped,
        on=match,
        when_matched={"counter": F.col("counter") + F.col("src_counter")},
        partition_filter=F.col("event_time") > F.lit(from_ts),
    )


def main(
    spark: SparkSession,
    store: ResultsStore,
    registry: RuleRegistry,
    from_ts: dt.datetime | None = None,
    to_ts: dt.datetime | None = None,
    run_id: str | None = None,
) -> list[dict]:
    """Sequential fan-out over alert rules. The reference uses a 4-way
    process pool because each query is a blocking warehouse call; under
    Spark, rule plans share one scheduler and local[N] parallelism, so
    thread fan-out only helps overlap driver-side planning."""
    # to_ts stays None on the default path: the window's upper bound is
    # then query-time CURRENT_TIMESTAMP (reference parity, see
    # create_alerts); explicit backfill ranges pass both bounds.
    from_ts = from_ts or (
        (to_ts or dt.datetime.utcnow()) - dt.timedelta(minutes=CUTOFF_MINUTES)
    )
    return metadata.run_rules(
        store,
        "query_metadata",
        run_id,
        registry.load_rules(ALERT_QUERY),
        "ALERT QUERY",
        lambda rule: create_alerts(spark, store, rule, from_ts, to_ts),
    )
