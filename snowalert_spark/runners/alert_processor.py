"""Alert correlation (reference: alert_processor.py).

The reference walks new alerts row-at-a-time in the driver: an alert
joins the correlation of the most recent alert within 60 minutes that
shares its ACTOR and its OBJECT *or* ACTION; otherwise it starts a new
correlation id (:10-31, :42-107). Arrays in OBJECT/ACTION are
JSON-stringified before comparison (SP1513 regression, :50-56).

Distributed equivalent (SURVEY §7.3 hard-part 3): a window pass per
ACTOR ordered by event time — an alert chains to the previous alert of
the same actor when the 60-minute gap and OBJECT-or-ACTION conditions
hold; correlation groups are the resulting prefix-sums. Reference semantics
(alert_processor.py:33-39, :20-31), with one deliberate divergence
noted below:

- only alerts with ``correlation_id IS NULL`` and ``alert_time`` in
  the trailing 2-hour scan window are *assigned*; existing non-null
  correlation_ids are never rewritten (the reference's UPDATE touches
  one NULL row at a time);
- already-correlated alerts *seed* chains: a NULL alert linked (gap +
  entity match) to a prefix that contains a correlated alert adopts
  the most recent such correlation_id, like the reference's
  ``ORDER BY event_time DESC LIMIT 1`` lookup;
- chains with no correlated seed mint ``{actor-hash}-{first
  ALERT_ID}`` (deterministic; the reference mints uuid4);
- the seed pool is bounded by ``event_time >= min(todo.event_time) -
  60min`` — the exact reachable set for the reference's per-alert
  60-minute lookback, so backfilled alerts (old event_time, recent
  alert_time) still correlate.

Deliberate divergence: the reference's GET_CORRELATED_ALERT
(alert_processor.py:20-31) has only a *lower* event_time bound, so a
backfilled NULL alert there can adopt the id of a correlated alert
whose event_time is *after* its own (most-recent-first lookup); this
implementation only adopts seeds from the chain *prefix* (earlier
event_time) and mints a new id otherwise. Prefix-only seeding keeps
the window pass one-directional and deterministic under re-runs; the
affected case is a backfill race the reference resolves by driver
iteration order.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession, Window as W
from pyspark.sql import functions as F

from snowalert_spark.store import ResultsStore

CORRELATION_WINDOW_MINUTES = 60  # alert_processor.py:10
SCAN_HOURS = 2  # alert_processor.py:38


def main(
    spark: SparkSession,
    store: ResultsStore,
    now: dt.datetime | None = None,
) -> int:
    now = now or dt.datetime.utcnow()
    scan_from = now - dt.timedelta(hours=SCAN_HOURS)
    alerts = store.read("alerts")
    live = alerts.filter(~F.coalesce(F.col("suppressed"), F.lit(False)))
    # Assignment set: NULL correlation_id, alert_time in the scan
    # window (reference bounds on alert_time, not event_time, so
    # backfilled alerts are still processed).
    is_todo = F.col("correlation_id").isNull() & (
        F.col("alert_time") >= F.lit(scan_from)
    )
    todo = live.filter(is_todo)

    # Seed-pool lower bound: the earliest todo alert's event_time
    # minus the 60-minute lookback — the exact set of alerts the
    # reference's per-alert lookup could reach. Single-scalar agg.
    lo = todo.agg(F.min("event_time").alias("lo")).collect()[0]["lo"]
    if lo is None:
        return 0  # nothing to correlate
    pool_from = lo - dt.timedelta(minutes=CORRELATION_WINDOW_MINUTES)
    # ACTOR as a top-level column: hash partitioning on it then
    # satisfies all three windows below, so the pass runs one exchange
    pool = live.filter(
        is_todo
        | (
            F.col("correlation_id").isNotNull()
            & (F.col("event_time") >= F.lit(pool_from))
        )
    ).withColumn("__actor", F.col("alert.ACTOR"))

    actor = F.col("__actor")
    obj = F.col("alert.OBJECT")
    act = F.col("alert.ACTION")
    w = W.partitionBy(actor).orderBy("event_time", F.col("alert.ALERT_ID"))

    gap_s = F.col("event_time").cast("double") - F.lag(
        F.col("event_time").cast("double")
    ).over(w)
    same_entity = (obj == F.lag(obj).over(w)) | (act == F.lag(act).over(w))
    new_chain = (
        F.lag(obj).over(w).isNull()
        | (gap_s > CORRELATION_WINDOW_MINUTES * 60)
        | ~F.coalesce(same_entity, F.lit(False))
    ).cast("int")
    chain = F.sum(new_chain).over(w.rowsBetween(W.unboundedPreceding, 0))

    wchain = W.partitionBy(actor, F.col("__chain"))
    wprefix = (
        W.partitionBy(actor, F.col("__chain"))
        .orderBy("event_time", F.col("alert.ALERT_ID"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    corr = (
        pool.withColumn("__chain", chain)
        .withColumn(
            # Most recent already-assigned id in the chain prefix wins
            # (reference: ORDER BY event_time DESC LIMIT 1); a chain
            # with no seed mints a deterministic id.
            "__corr",
            F.coalesce(
                F.last(F.col("correlation_id"), ignorenulls=True).over(wprefix),
                F.concat_ws(
                    "-",
                    F.md5(F.coalesce(actor, F.lit(""))),
                    F.min(F.col("alert.ALERT_ID")).over(wchain),
                ),
            ),
        )
        .filter(F.col("correlation_id").isNull())  # never rewrite existing ids
        .select(
            F.col("alert.ALERT_ID").alias("aid"),
            F.col("__corr").alias("corr"),
        )
    )
    n = store.upsert(
        "alerts",
        corr,
        on=F.col("alert.ALERT_ID") == F.col("src_aid"),
        when_matched={"correlation_id": F.col("src_corr")},
        when_not_matched_insert=False,
    )
    return n["updated"]
