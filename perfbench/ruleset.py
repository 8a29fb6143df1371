"""The rules the benchmark registers, each written twice.

``sql`` is the Snowflake-dialect body the product registers; it goes
through ``compat.transpile``, which rewrites its ``::`` casts.
``oracle`` is a hand-written DuckDB query for the same rows, used only
by the correctness check, so the check does not depend on the
transpiler it is checking. The alert oracle returns ``object,
description, action, event_time`` over table ``src``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class AlertRule:
    name: str
    sql: str
    oracle: str


# The hourly tick's alert rule; the preloaded history ends with the
# previous tick's alerts of this rule (gen.alert_history).
DELETE_RULE = AlertRule(
    "BENCH_DELETE_ALERT_QUERY",
    """
    SELECT 'user:' || user_id::string AS actor,
           'host-' || host::string AS object,
           event_type AS action,
           'DELETE alert' AS title,
           ts AS event_time,
           'delete by user ' || (user_id % 50)::string AS description,
           'medium' AS severity,
           props AS event_data
    FROM events WHERE event_type = 'delete'""",
    """
    SELECT 'host-' || CAST(host AS VARCHAR) AS object,
           'delete by user ' || CAST(user_id % 50 AS VARCHAR) AS description,
           event_type AS action, ts AS event_time
    FROM src WHERE event_type = 'delete'""",
)

# Suppresses the DELETE rule's alerts on even hosts; the oracle form
# is applied to the expected alert groups (object, description).
SUPPRESSION_NAME = "BENCH_MAINTENANCE_ALERT_SUPPRESSION"
SUPPRESSION_SQL = """
    SELECT alert.ALERT_ID AS id FROM data_alerts
    WHERE suppressed IS NULL AND alert.QUERY_NAME = 'BENCH_DELETE_ALERT_QUERY'
      AND CAST(substr(alert.OBJECT, 6) AS INT) % 2 = 0"""
SUPPRESSION_ORACLE = ("description LIKE 'delete by user %' "
                      "AND CAST(substr(object, 6) AS INTEGER) % 2 = 0")

# Violation rules over the host inventory; each tick re-reports every
# open violation (the reference's daily violation run, scheduled hourly).
VIOLATION_RULES = [
    ("BENCH_PUBLIC_SSH_VIOLATION_QUERY",
     "SELECT 'host-' || host::string AS OBJECT, 'Public SSH' AS TITLE, owner AS OWNER "
     "FROM inventory WHERE public_ssh",
     "public_ssh"),
]
VIOLATION_SUPPRESSION_NAME = "BENCH_TEAM0_VIOLATION_SUPPRESSION"
VIOLATION_SUPPRESSION_SQL = (
    "SELECT id FROM data_violations "
    "WHERE get_json_object(result, '$.OWNER') = 'team-0'")


def register_alert_rules(registry) -> list[AlertRule]:
    r = DELETE_RULE
    registry.create(r.name, sql=r.sql, comment=f"{r.name}\n@id {r.name.lower()}")
    registry.create(SUPPRESSION_NAME, sql=SUPPRESSION_SQL)
    return [r]


def register_violation_rules(registry) -> None:
    for name, sql, _ in VIOLATION_RULES:
        registry.create(name, sql=sql, comment=f"{name}\n@id {name.lower()}")
    registry.create(VIOLATION_SUPPRESSION_NAME, sql=VIOLATION_SUPPRESSION_SQL)
