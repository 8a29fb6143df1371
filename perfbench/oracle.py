"""Correctness check that does not use the code under test.

DuckDB reads the results store's published parquet and the generated
inputs directly. For each scheduled run the expected state after the
run is derived from the state before it plus the run's inputs, under
the reference semantics of each stage:

- alert queries: per rule, group the window's rows by (OBJECT,
  DESCRIPTION); a group adds its count to an existing alert with the
  same keys whose EVENT_TIME is after the window start, otherwise it
  is inserted (MERGE ... counter += / INSERT). The reference keeps
  ANY_VALUE(alert) per group, so which EVENT_TIME a later window
  compares against is unspecified; the oracle fixes it to the group's
  earliest event, the value the ``event_time`` column records;
- suppressions: new alerts matching the suppression predicate are
  suppressed, every other unflagged alert is set to not suppressed;
- processor: every unsuppressed alert carries a correlation id
  afterwards, and no existing id changes;
- dispatcher: at most 1000 alerts are handled per run, exactly 1000
  when more were waiting, and new tickets equal successful handler
  calls;
- violations: each run appends one row per violating inventory host,
  and rows of the suppressed owner are flagged.

ALERT_ID and ALERT_TIME are not compared (random and wall-clock).
Because the before-state is read back from the store, a run is checked
against the state the previous (already checked) run left.
"""

from __future__ import annotations

import os
import re

import duckdb

ALERT_COLS = """
    alert.ALERT_ID AS alert_id, alert.OBJECT AS object,
    alert.DESCRIPTION AS description, event_time, counter, suppressed, correlation_id, ticket, handled"""
EMPTY_ALERTS = """
    SELECT NULL::VARCHAR AS alert_id, NULL::VARCHAR AS object,
           NULL::VARCHAR AS description, NULL::TIMESTAMP AS event_time, NULL::INTEGER AS counter,
           NULL::BOOLEAN AS suppressed, NULL::VARCHAR AS correlation_id,
           NULL::VARCHAR AS ticket, NULL::VARCHAR AS handled WHERE false"""
VIOLATION_COLS = """
    json_extract_string(result, '$.OBJECT') AS object,
    json_extract_string(result, '$.OWNER') AS owner, suppressed"""
EMPTY_VIOLATIONS = """
    SELECT NULL::VARCHAR AS object, NULL::VARCHAR AS owner,
           NULL::BOOLEAN AS suppressed WHERE false"""


class CheckFailed(AssertionError):
    pass


def current_dir(base: str, table: str) -> str | None:
    d = os.path.join(base, table)
    if not os.path.isdir(d):
        return None
    vs = [int(m.group(1)) for n in os.listdir(d)
          if (m := re.match(r"^v=(\d+)$", n)) and os.path.exists(os.path.join(d, n, "_SUCCESS"))]
    if not vs:
        return None
    cur = os.path.join(d, f"v={max(vs)}")
    return cur if any(n.endswith(".parquet") for n in os.listdir(cur)) else None


class Oracle:
    def __init__(self, store_base: str):
        self.base = store_base
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")

    def q(self, sql: str):
        return self.con.execute(sql).fetchall()

    def one(self, sql: str):
        return self.q(sql)[0][0]

    def _load(self, table: str, cols: str, empty: str, name: str) -> None:
        d = current_dir(self.base, table)
        body = f"SELECT {cols} FROM read_parquet('{d}/*.parquet')" if d else empty
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS {body}")

    def _errors(self) -> tuple[int, int]:
        d = current_dir(self.base, "query_metadata")
        if d is None:
            return 0, 0
        return self.q(f"""SELECT count(*), count(*) FILTER (WHERE json_extract(v, '$.ERROR') IS NOT NULL)
                          FROM read_parquet('{d}/*.parquet')""")[0]

    def before(self, with_violations: bool = False) -> None:
        """Snapshot the store before a scheduled run."""
        self._load("alerts", ALERT_COLS, EMPTY_ALERTS, "b_alerts")
        if with_violations:
            self._load("violations", VIOLATION_COLS, EMPTY_VIOLATIONS, "b_viol")
        self._meta0 = self._errors()

    def source(self, sql: str) -> None:
        """Define the ``src`` rows the oracle rule queries read."""
        self.con.execute(f"CREATE OR REPLACE VIEW src AS {sql}")

    # -- checks ------------------------------------------------------------
    def check_alert_run(self, rules, lo, hi, suppress_pred: str | None,
                        handler_successes: int) -> dict:
        """Check one alert chain run; returns the operation counts."""
        con = self.con
        con.execute("CREATE OR REPLACE TABLE exp AS SELECT * FROM b_alerts")
        lo_s, hi_s = f"TIMESTAMP '{lo.isoformat(sep=' ')}'", f"TIMESTAMP '{hi.isoformat(sep=' ')}'"
        for r in sorted(rules, key=lambda r: r.name.replace("_", "{")):
            con.execute(f"""CREATE OR REPLACE TABLE new AS
                SELECT object, description, min(event_time) AS et, count(*)::INTEGER AS c
                FROM ({r.oracle}) WHERE event_time BETWEEN {lo_s} AND {hi_s}
                GROUP BY object, description""")
            con.execute(f"""UPDATE exp SET counter = exp.counter + new.c FROM new
                WHERE exp.object = new.object AND exp.description = new.description
                  AND exp.event_time > {lo_s}""")
            con.execute(f"""INSERT INTO exp (object, description, event_time, counter)
                SELECT object, description, et, c FROM new WHERE NOT EXISTS (
                  SELECT 1 FROM exp e WHERE e.object = new.object
                    AND e.description = new.description AND e.event_time > {lo_s})""")
        if suppress_pred:
            con.execute(f"UPDATE exp SET suppressed = true WHERE suppressed IS NULL AND ({suppress_pred})")
        con.execute("UPDATE exp SET suppressed = false WHERE suppressed IS NULL")
        self._load("alerts", ALERT_COLS, EMPTY_ALERTS, "a_alerts")

        key = "object, description, event_time, counter, suppressed"
        missing = self.one(f"SELECT count(*) FROM (SELECT {key} FROM exp EXCEPT ALL SELECT {key} FROM a_alerts)")
        extra = self.one(f"SELECT count(*) FROM (SELECT {key} FROM a_alerts EXCEPT ALL SELECT {key} FROM exp)")
        if missing or extra:
            sample = self.q(f"""(SELECT 'missing', {key} FROM exp EXCEPT ALL SELECT 'missing', {key} FROM a_alerts LIMIT 2)
                UNION ALL (SELECT 'unexpected', {key} FROM a_alerts EXCEPT ALL SELECT 'unexpected', {key} FROM exp LIMIT 2)""")
            raise CheckFailed(f"alerts differ from the oracle: {missing} expected rows missing, "
                              f"{extra} unexpected rows, e.g. {sample}")
        uncorrelated = self.one("""SELECT count(*) FROM a_alerts
            WHERE NOT coalesce(suppressed, false) AND correlation_id IS NULL""")
        if uncorrelated:
            raise CheckFailed(f"processor left {uncorrelated} unsuppressed alerts without a correlation id")
        rewritten = self.one("""SELECT count(*) FROM b_alerts b JOIN a_alerts a USING (alert_id)
            WHERE b.correlation_id IS NOT NULL AND a.correlation_id IS DISTINCT FROM b.correlation_id""")
        if rewritten:
            raise CheckFailed(f"processor rewrote {rewritten} existing correlation ids")
        handled = (self.one("SELECT count(handled) FROM a_alerts")
                   - self.one("SELECT count(handled) FROM b_alerts"))
        waiting = self.one("""SELECT count(*) FROM a_alerts
            WHERE NOT coalesce(suppressed, false) AND ticket IS NULL""")
        if handled > 1000 or (waiting and handled != 1000):
            raise CheckFailed(f"dispatcher handled {handled} with {waiting} still waiting")
        tickets = (self.one("SELECT count(ticket) FROM a_alerts")
                   - self.one("SELECT count(ticket) FROM b_alerts"))
        if tickets != handler_successes:
            raise CheckFailed(f"{tickets} new tickets but {handler_successes} successful handler calls")
        failed_handlers = self.one("""SELECT count(*) FROM a_alerts
            WHERE handled IS NOT NULL AND handled LIKE '%"success": false%'""")
        return self._ops(extra_attempted=handled, extra_failed=failed_handlers)

    def check_violation_run(self, inventory_path: str, rules) -> dict:
        self._load("violations", VIOLATION_COLS, EMPTY_VIOLATIONS, "a_viol")
        new = " UNION ALL ".join(
            f"SELECT 'host-' || CAST(host AS VARCHAR) AS object, owner, NULL::BOOLEAN AS suppressed "
            f"FROM read_parquet('{inventory_path}') WHERE {flag}" for _, _, flag in rules)
        exp = f"""SELECT object, CASE WHEN owner = 'team-0' THEN true
                                      ELSE coalesce(suppressed, false) END AS suppressed
                  FROM (SELECT * FROM b_viol UNION ALL {new})"""
        key = "object, suppressed"
        diff = self.one(f"""SELECT count(*) FROM ((SELECT {key} FROM ({exp}) EXCEPT ALL SELECT {key} FROM a_viol)
                            UNION ALL (SELECT {key} FROM a_viol EXCEPT ALL SELECT {key} FROM ({exp})))""")
        if diff:
            raise CheckFailed(f"violations differ from the oracle in {diff} rows")
        return {"attempted": 0, "failed": 0}

    def _ops(self, extra_attempted: int = 0, extra_failed: int = 0) -> dict:
        rows, errors = self._errors()
        return {"attempted": rows - self._meta0[0] + extra_attempted,
                "failed": errors - self._meta0[1] + extra_failed}

    def close(self) -> None:
        self.con.close()
