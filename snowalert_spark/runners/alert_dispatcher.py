"""Alert dispatcher (reference: alert_dispatcher.py).

Fetches ≤1000 unhandled, unsuppressed alerts oldest-first (:9-16),
reads each alert's HANDLERS list (default ['jira']), invokes the named
handler plug-ins, and writes the ``handled`` JSON result array plus
the ticket id back (:24-33, :79-102). The collect is bounded by design
— dispatch talks to external ticket systems, inherently driver-side.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from snowalert_spark import handlers as H
from snowalert_spark.store import ResultsStore, local_frame

BATCH = 1000  # alert_dispatcher.py:15
UPDATES = T.StructType(
    [T.StructField(c, T.StringType()) for c in ("aid", "handled", "ticket")]
)


def main(spark: SparkSession, store: ResultsStore) -> int:
    alerts = store.read("alerts")
    # Reference gate (alert_dispatcher.py:9-16):
    # IFF(alert:HANDLERS IS NULL, ticket IS NULL, handled IS NULL) —
    # default-handler alerts whose dispatch failed (handled written,
    # no ticket) are retried next run instead of being dropped.
    unhandled = F.when(
        F.col("alert.HANDLERS").isNull(), F.col("ticket").isNull()
    ).otherwise(F.col("handled").isNull())
    batch = (
        alerts.filter(
            unhandled & (~F.coalesce(F.col("suppressed"), F.lit(False)))
        )
        .orderBy(F.col("event_time").asc())
        .limit(BATCH)
        .collect()
    )
    updates = []
    for row in batch:
        doc = row.alert.asDict(recursive=True)
        names = doc.get("HANDLERS") or ["jira"]
        results = []
        for name in names:
            try:
                h = H.get(name)
                r = H.apply_some(
                    h,
                    alert=doc,
                    correlation_id=row.correlation_id,
                    alert_count=row.counter,
                )
                results.append(r if isinstance(r, dict) else {"success": True, "result": r})
            except Exception as e:
                results.append({"success": False, "error": str(e)})
        ticket = next((r.get("ticket") for r in results if r.get("ticket")), None)
        updates.append((doc["ALERT_ID"], json.dumps(results, default=str), ticket))

    if not updates:
        return 0
    upd = local_frame(spark, updates, UPDATES)
    store.upsert(
        "alerts",
        upd,
        on=F.col("alert.ALERT_ID") == F.col("src_aid"),
        when_matched={
            "handled": F.col("src_handled"),
            "ticket": F.col("src_ticket"),
        },
        when_not_matched_insert=False,
    )
    return len(updates)
