"""Run/query metadata recording (db.record_metadata, db.py:556-598).

Error quarantine is a core product behavior (SURVEY §4): a failing
rule writes an ERROR metadata row and the run continues.

Each record is one ``(event_time, v)`` row appended to the table. The
row is built with ``store.local_frame``, so the append is one JVM-only
job (no Python worker), and ``event_time`` is the naive ``end`` read
in the session time zone, whatever the process's local zone."""

from __future__ import annotations

import datetime as dt
import json
import traceback

from pyspark.sql import functions as F

from snowalert_spark.store import ResultsStore, local_frame


def record(
    store: ResultsStore,
    table: str,
    run_id: str,
    query_name: str | None = None,
    run_type: str = "",
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    row_counts: dict | None = None,
    error: BaseException | None = None,
) -> dict:
    end = end or dt.datetime.utcnow()
    v = {
        "RUN_ID": run_id,
        "RUN_TYPE": run_type,
        "START_TIME": start.isoformat() if start else None,
        "END_TIME": end.isoformat(),
        "DURATION": (end - start).total_seconds() if start else None,
    }
    if query_name:
        v["QUERY_NAME"] = query_name
    if row_counts:
        v["ROW_COUNT"] = row_counts
    if error is not None:
        v["ERROR"] = {
            "EXCEPTION": "".join(
                traceback.format_exception(type(error), error, error.__traceback__)
            ),
            "EXCEPTION_ONLY": str(error),
        }
    df = local_frame(
        store.spark, [(end, json.dumps(v, default=str))], store.schema(table)
    )
    store.append(table, df)
    return v


def read_metadata(store: ResultsStore, table: str) -> list[dict]:
    rows = store.read(table).orderBy(F.col("event_time")).collect()
    return [json.loads(r.v) for r in rows]
