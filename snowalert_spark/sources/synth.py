"""Synthetic pack-corpus landings for benchmarking and demos.

The pack corpus (92 reference statements across 9 files) reads ~75
landing views: the AWS/Azure API-collector tables plus a dozen
file-connector and warehouse-usage shapes. The golden-pinned fixtures
live in tests/test_pack_corpus*.py; THIS module generates *generic*
rows at an arbitrary scale so the full corpus can be planned and
executed as a benchmark — every view analyzes, scans and filters real
rows, with no claim about which rows match each rule (the tests pin
that).

Collector tables derive their columns from the same specs the
collectors use (``aws_collect_spec.AWS_API_SPEC`` /
``azure_collect.API_SPECS``) — one source of truth, no transcribed
schemas. The remaining file/usage landing shapes are the column sets
the pack SQL itself reads (same shapes as the test fixtures).
"""

from __future__ import annotations

import datetime as dt
import json

# landing views the pack SQL reads that do NOT come from the API
# collectors: (view name, "col type, ..." schema)
MISC_LANDINGS: tuple[tuple[str, str], ...] = (
    ("data_cloudtrail",
     "raw string, event_time timestamp, user_identity_type string, "
     "user_identity_username string, user_identity_access_key_id string, "
     "recipient_account_id string, source_ip_address string, "
     "user_identity_invokedby string"),
    ("data_cloudtrail_v",
     "deployment string, recipient_account_id string, raw string, "
     "event_time timestamp, event_name string, "
     "user_identity_session_context_session_issuer_user_name string, "
     "user_identity_arn string, error_code string, error_message string, "
     "user_identity_type string, source_ip_address string, "
     "request_parameters string, user_identity string, affectedobject string"),
    ("prod_aws_account_map", "account_id string"),
    ("aws_inventory_snapshots_aws_account_map",
     "account_id string, deployment string, account_alias string"),
    ("aws_inventory_snapshots_instances",
     "snapshot_at timestamp, data string, accountid string"),
    ("snowflake_account_usage_query_history",
     "query_id string, query_text string, query_type string, "
     "execution_status string, user_name string, role_name string, "
     "start_time timestamp, error_code int, error_message string"),
    ("snowflake_account_usage_login_history",
     "event_id string, event_timestamp timestamp, user_name string, "
     "client_ip string, reported_client_type string, error_code int, "
     "error_message string, is_success string, "
     "first_authentication_factor string, second_authentication_factor string"),
    ("snowflake_account_usage_automatic_clustering_history",
     "table_id long, table_name string, credits_used double, end_time timestamp"),
    ("snowflake_account_usage_materialized_view_refresh_history",
     "table_id long, table_name string, credits_used double, end_time timestamp"),
    ("snowflake_account_usage_pipe_usage_history",
     "pipe_id long, pipe_name string, credits_used double, end_time timestamp"),
    ("snowflake_account_usage_warehouse_metering_history",
     "warehouse_id long, warehouse_name string, credits_used double, "
     "start_time timestamp"),
    ("data_osquery_v", "instance_id string, event_time timestamp"),
    ("data_umbrella",
     "uuid string, timestamp timestamp, host string, categories string, "
     "action string"),
    ("data_latest_umbrella_slices",
     "slice_start timestamp, slice_end timestamp, host string"),
    ("data_okta_users_connection", "event_time timestamp, raw string"),
    ("data_okta_groups_connection", "event_time timestamp, raw string"),
    ("data_okta_system_log_connection", "event_time timestamp, raw string"),
)

# string columns holding JSON documents the pack SQL path-accesses
_JSONISH = frozenset(
    {"raw", "policy", "document", "ip_permissions", "recording_group",
     "request_parameters", "user_identity", "data", "content_csv_parsed"}
)


def _now() -> dt.datetime:
    return dt.datetime.utcnow()


def _val(col: str, typ: str, i: int):
    t = typ.strip().lower()
    if t == "timestamp":
        return _now() - dt.timedelta(hours=i % 72, minutes=i % 60)
    if t in ("int", "long", "bigint"):
        return i
    if t in ("double", "float"):
        return float(i % 50)
    if col in _JSONISH:
        return "{}"
    # pack SQL casts some string landing columns to bool/number —
    # generic values must survive those casts
    c = col.lower()
    if c.startswith(("is_", "has_")) or c.endswith(
        ("_enabled", "_registered", "_active", "_success")
    ):
        return "true" if i % 2 else "false"
    if any(k in c for k in ("length", "prevention", "_age", "count",
                            "days", "port")):
        return str(i % 100)
    return f"{col[:24]}_{i % 20}"


def _generic_rows(schema: str, n: int) -> list[tuple]:
    cols = [c.strip().rsplit(" ", 1) for c in schema.split(",")]
    return [tuple(_val(c, t, i) for c, t in cols) for i in range(n)]


def synth_misc_landings(spark, n: int = 200) -> list[str]:
    """Register the non-collector landing views with ``n`` generic
    rows each."""
    from snowalert_spark.sources.collect import replace_cached_view

    out = []
    for name, schema in MISC_LANDINGS:
        # small-table layout (see collect.land_rows): one cached
        # block, not defaultParallelism near-empty partitions
        # re-parallelized by each of the 92 consuming statements;
        # replace_cached_view unpersists the prior round's snapshot
        df = spark.createDataFrame(_generic_rows(schema, n), schema).repartition(
            max(1, n // 5000 + 1)
        ).cache()
        replace_cached_view(spark, df, name)
        out.append(name)
    return out


def synth_aws_collect_landings(spark, n: int = 25) -> dict:
    """Generic rows for every AWS collector table, landed through the
    same ``land_entries`` seam the real collector uses (so view names,
    declared columns and JSON serialization match production)."""
    from snowalert_spark.sources.aws_collect_spec import AWS_API_SPEC
    from snowalert_spark.sources.collect import DBEntry, spec_columns

    entries = []
    for method, mspec in AWS_API_SPEC.items():
        table = mspec.get("table", method.replace(".", "_"))
        cols = spec_columns(mspec)
        for i in range(n):
            entries.append(
                DBEntry(table, {c: _val(c, _coltype(c), i) for c in cols})
            )
    from snowalert_spark.sources.collect import land_entries

    return land_entries(spark, entries, spec=AWS_API_SPEC)


def synth_azure_collect_landings(spark, n: int = 25) -> dict:
    """Generic rows for every Azure collector kind, landed through
    ``land_batches`` (reference landing names + aliases included)."""
    from snowalert_spark.sources import azure_collect as AZ

    def batches():
        for kind, spec in AZ.API_SPECS.items():
            cols = list(dict.fromkeys(spec["response"].values()))
            yield kind, [
                {c: _val(c, _coltype(c), i) for c in cols} for i in range(n)
            ]

    return AZ.land_batches(spark, batches())


def _coltype(col: str) -> str:
    c = col.lower()
    if c.endswith("_at") or c.endswith("_time") or c.endswith("_date") or (
        c in ("recorded", "timestamp")
    ):
        return "timestamp"
    return "string"


def synth_all_pack_landings(
    spark, misc_n: int = 200, collect_n: int = 25
) -> dict[str, object]:
    """Everything the 92-statement pack corpus reads, in one call."""
    return {
        "misc": synth_misc_landings(spark, misc_n),
        "aws": synth_aws_collect_landings(spark, collect_n),
        "azure": synth_azure_collect_landings(spark, collect_n),
    }
