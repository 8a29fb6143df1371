"""Run/query metadata recording (db.record_metadata, db.py:556-598).

Error quarantine is a core product behavior (SURVEY §4): a failing
rule writes an ERROR metadata row and the run continues. ``run_rules``
is that loop, for every rule kind: alert and violation queries, both
suppression tables and policies each hand it their rules and a body
that runs one rule and returns its row counts.

Each record is one ``(event_time, v)`` row appended to the table with
``ResultsStore.append_rows``: pyarrow writes it and the store publishes
it, so recording runs no Spark job, and ``event_time`` is the naive
``end`` read in the session time zone, whatever the process's local
zone."""

from __future__ import annotations

import datetime as dt
import json
import traceback
import uuid
from collections.abc import Callable

from pyspark.sql import functions as F

from snowalert_spark.rules import Rule
from snowalert_spark.store import ResultsStore


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
    store.append_rows(table, [(end, json.dumps(v, default=str))])
    return v


def run_rules(
    store: ResultsStore,
    table: str,
    run_id: str | None,
    rules: list[Rule],
    run_type: str,
    body: Callable[[Rule], dict],
) -> list[dict]:
    """Run ``body(rule)`` for each rule in turn, timed, and record one
    row per rule under ``run_id`` (a fresh one when None): its row
    counts, or an ERROR row if ``body`` raised, after which the next
    rule still runs. Returns the recorded dicts in ``rules`` order."""
    run_id = run_id or uuid.uuid4().hex
    results = []
    for rule in rules:
        start = dt.datetime.utcnow()
        try:
            counts, err = body(rule), None
        except Exception as e:  # error quarantine: record and continue
            counts, err = None, e
        results.append(
            record(
                store,
                table,
                run_id,
                query_name=rule.name,
                run_type=run_type,
                start=start,
                row_counts=counts,
                error=err,
            )
        )
    return results


def read_metadata(store: ResultsStore, table: str) -> list[dict]:
    rows = store.read(table).orderBy(F.col("event_time")).collect()
    return [json.loads(r.v) for r in rows]
