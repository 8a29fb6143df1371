"""Pack corpus loader (SURVEY §7.2 step 9): run the reference's rule
packs *verbatim* through the compat transpiler.

The reference ships its production workload as Snowflake view DDL in
``packs/*.sql`` (cis_aws_pack.sql 22 views, cis_azure_pack.sql 43,
okta.sql 5 data views, aws_query_pack.sql 4, snowflake_query_pack.sql
3, osquery_query_pack.sql 1, umbrella_query_pack.sql 1, plus 11 bare
monitoring/cost queries). This module reads those files from the
reference checkout at run time — the SQL text itself is the
*workload input*, deliberately not vendored into this repo — parses
the statements, and registers each view body (via
``compat.transpile``) with the :class:`~snowalert_spark.rules.RuleRegistry`
or as a Spark temp view (the okta ``data.*`` projection views).

Name flattening: Spark temp views have no schema qualifiers, so
``data.x`` → ``data_x``, ``rules.x`` → ``rules_x``, ``prod.x`` →
``prod_x``, ``snowflake.account_usage.x`` / ``account_usage.x`` →
``snowflake_account_usage_x``, ``aws_inventory.snapshots.x`` →
``aws_inventory_snapshots_x``. When a flattened relation has no alias,
the original last-part name is added as one (``FROM data.osquery_v``
→ ``FROM data_osquery_v AS osquery_v``) so Snowflake's
qualify-by-table-name references keep resolving
(osquery_query_pack.sql:31 ``osquery_v.event_time``).

FIXUPS patches three statements that are broken *as shipped* (they
fail to parse/resolve in Snowflake too); each entry documents the
reference file:line and the minimal repair that preserves the
evident intent. Everything else runs byte-identical to the pack file.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from snowalert_spark import compat
from snowalert_spark.rules import RuleRegistry

PACKS_DIR = os.environ.get("SNOWALERT_PACKS_DIR", "/root/reference/packs")

#: reference parity: alert_queries_runner.py:154 fans rules out over a
#: Pool(POOLSIZE) (config.py:7, default 4). Under Spark one JVM
#: scheduler serves every job, so THREADS (not processes) overlap the
#: per-statement driver-side planning + job-scheduling latency that
#: dominates small-view sweeps; default sized for a 92-statement sweep
#: on local[32].
POOLSIZE = int(os.environ.get("SNOWALERT_POOLSIZE", "8"))


def execute_concurrent(thunks, workers: int | None = None) -> list:
    """Run independent read-only Spark actions concurrently on the
    shared session and return their results in input order — the
    engine's analog of the reference's rule-fanout pool. Only for
    statements with no cross-dependencies and no shared-table writes
    (the alert/violation runners stay sequential: their CAS upserts
    target one results table). Exceptions propagate to the caller."""
    from concurrent.futures import ThreadPoolExecutor

    n = workers or POOLSIZE
    if n <= 1 or len(thunks) <= 1:
        return [t() for t in thunks]
    with ThreadPoolExecutor(max_workers=n) as ex:
        return list(ex.map(lambda t: t(), thunks))

PACK_FILES = (
    "cis_aws_pack.sql",
    "cis_azure_pack.sql",
    "okta.sql",
    "aws_query_pack.sql",
    "snowflake_query_pack.sql",
    "osquery_query_pack.sql",
    "umbrella_query_pack.sql",
    "snowflake_security_monitoring.sql",
    "snowflake_cost_management.sql",
)


@dataclass(frozen=True)
class PackStatement:
    name: str  # flat registry/view name (rules upper-cased, Snowflake-style)
    schema: str  # 'rules' | 'data' | '' (bare monitoring query)
    comment: str  # view COMMENT text ('@id …' '@tags …' metadata lines)
    body: str  # SELECT body, names flattened + fixups applied, pre-transpile
    kind: str  # 'view' | 'query'


# --------------------------------------------------------------------------
# Repairs for statements that are broken as shipped (see module doc).
# (view_name, must_contain, replacement) — loading asserts the target
# text is present so silent drift in the reference is caught.
# --------------------------------------------------------------------------
FIXUPS: dict[str, list[tuple[str, str]]] = {
    # aws_query_pack.sql:28 + :58 — body references `cloudtrail.…`
    # columns but the FROM clause has no `cloudtrail` alias (the other
    # two views in the file do write `AS cloudtrail`; Snowflake itself
    # errors on the unaliased form). Minimal repair: add the alias.
    "AWS_AUDIT_LOG_CONFIGURATION_CHANGES_ALERT_QUERY": [
        ("FROM data.cloudtrail_v\nWHERE", "FROM data.cloudtrail_v AS cloudtrail\nWHERE")
    ],
    "AWS_PERMISSION_MODIFICATION_DENIED_ALERT_QUERY": [
        ("FROM data.cloudtrail_v\nWHERE", "FROM data.cloudtrail_v AS cloudtrail\nWHERE")
    ],
    # osquery_query_pack.sql:9,36 — `map.deployment` / `map.account_alias`
    # but the aws_account_map join has no `map` alias. Also :39 filters
    # `id IS NULL`, a column no relation in the query provides (the
    # osquery subquery projects only instance_id); the rule's own
    # comment says the intent is "server not shipping osquery logs",
    # i.e. a null test on the left-joined osquery side — project the
    # osquery instance id as `id` so the filter means that.
    "MISSING_SERVER_OSQUERY_LOGS_VIOLATION_QUERY": [
        (
            "JOIN aws_inventory.snapshots.aws_account_map\nUSING account_id",
            "JOIN aws_inventory.snapshots.aws_account_map AS map\nUSING account_id",
        ),
        (
            "SELECT distinct instance_id::string AS instance_id\n  FROM data.osquery_v",
            "SELECT distinct instance_id::string AS instance_id\n"
            "       , instance_id::string AS id\n  FROM data.osquery_v",
        ),
    ],
    # cis_aws_pack.sql:693-696 (CIS 1.16) — description expression is
    # missing its opening paren and relies on adjacent-literal
    # concatenation; neither parses in Snowflake.
    "VQ_ASKJ865AQ9_VIOLATION_QUERY": [
        (
            "     ,\n         'The policy ' || policy_arn || ' '\n"
            "         'is attached to user ' || user_name || '.'\n"
            "       ) AS description",
            "     , (\n         'The policy ' || policy_arn || ' ' ||\n"
            "         'is attached to user ' || user_name || '.'\n"
            "       ) AS description",
        )
    ],
}


# cis_azure_pack.sql writes `CREATE VIEW snowalert.rules.x` (3-part,
# no OR REPLACE); every other pack writes `CREATE OR REPLACE VIEW
# rules.x COPY GRANTS`.
_CREATE_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+"
    r"(?:\w+\.)?(?P<schema>\w+)\.(?P<name>\w+)"
    r"(?:\s+COPY\s+GRANTS)?"
    r"(?:\s+COMMENT\s*=\s*'(?P<comment>(?:[^']|'')*)')?"
    r"\s+AS\s+(?P<body>.*)$",
    re.I | re.S,
)


def _split_statements(text: str) -> list[str]:
    """Split on top-level semicolons (quote-aware)."""
    out, cur = [], []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "'":
            cur.append(c)
            i += 1
            while i < n:
                cur.append(text[i])
                if text[i] == "'":
                    break
                i += 1
        elif c == ";":
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    if cur:
        out.append("".join(cur))
    return [s for s in out if s.strip()]


_SCHEMA_REWRITES = (
    (re.compile(r"\bsnowflake\.account_usage\.(\w+)", re.I), r"snowflake_account_usage_\1"),
    (re.compile(r"\b(?<!\.)account_usage\.(\w+)", re.I), r"snowflake_account_usage_\1"),
    (re.compile(r"\baws_inventory\.snapshots\.(\w+)", re.I), r"aws_inventory_snapshots_\1"),
    (re.compile(r"\b(data|rules|prod)\.(\w+)", re.I), r"\1_\2"),
)

# words that can follow a relation reference without being its alias
_REL_NOT_ALIAS = {
    "where", "group", "order", "qualify", "having", "limit", "union",
    "on", "join", "left", "right", "full", "inner", "cross", "outer",
    "lateral", "using", "and", "or", "select", "with", "as", "when",
}


def flatten_names(sql: str) -> str:
    """Flatten schema-qualified table names and keep table-name
    qualifiers resolving by aliasing unaliased relations to their
    original last-part name."""
    masked, lits = compat._mask_literals(sql)

    def qualify(m: re.Match, flat: str, last: str) -> str:
        # look behind for FROM/JOIN/comma context and ahead for an alias
        tail = masked[m.end():]
        nm = re.match(r"\s*(?:AS\s+)?([A-Za-z_]\w*)", tail, re.I)
        head = masked[: m.start()].rstrip()
        is_relation = bool(re.search(r"(\bFROM|\bJOIN|,)$", head, re.I))
        if not is_relation:
            return flat
        if nm and nm.group(1).lower() not in _REL_NOT_ALIAS:
            return flat  # explicit alias present
        return f"{flat} AS {last}"

    for pat, rep in _SCHEMA_REWRITES:
        def sub(m: re.Match, pat=pat, rep=rep) -> str:
            flat = pat.sub(rep, m.group(0))
            last = m.group(m.lastindex)
            return qualify(m, flat, last)

        masked = pat.sub(sub, masked)
    return compat._unmask_literals(masked, lits)


def _slug(comment: str) -> str:
    return re.sub(r"\W+", "_", comment.strip().lower()).strip("_")


def _strip_comments(sql: str) -> str:
    """Drop ``--`` line comments from a view body (literal-masked so a
    ``--`` inside a string survives). Keeps the string-level rewrites
    and alias scanners from tripping over prose."""
    masked, lits = compat._mask_literals(sql)
    masked = re.sub(r"--[^\n]*", "", masked)
    return compat._unmask_literals(masked, lits)


#: parsed-pack memo keyed on (path, mtime_ns, size) — load_pack is a
#: pure text→statements function of the file contents, and runner
#: ticks / bench sweeps re-load the same pack files every cycle (r13
#: verdict item 5: parse+flatten is ~50 ms per full-corpus sweep).
#: A touched file changes the key, so edits are picked up.
_LOAD_PACK_CACHE: dict[tuple, list] = {}


def load_pack(path: str) -> list[PackStatement]:
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    hit = _LOAD_PACK_CACHE.get(key)
    if hit is not None:
        return list(hit)  # entries are frozen, so sharing them is safe
    out = _load_pack_uncached(path)
    _LOAD_PACK_CACHE[key] = out
    return list(out)


def _load_pack_uncached(path: str) -> list[PackStatement]:
    with open(path) as f:
        text = f.read()
    out: list[PackStatement] = []
    for stmt in _split_statements(text):
        # pull leading `-- comment` lines (bare monitoring queries are
        # titled by them)
        lead_comments = re.findall(r"^\s*--\s*(.*)$", stmt, re.M)
        stripped = re.sub(r"^\s*--.*$", "", stmt, flags=re.M).strip()
        if not stripped or re.match(r"^GRANT\b", stripped, re.I):
            continue
        m = _CREATE_RE.match(stripped)
        if m:
            name = m.group("name").upper()
            body = m.group("body")
            for target, repl in FIXUPS.get(name, ()):
                assert target in body, f"fixup target drifted for {name}"
                body = body.replace(target, repl)
            out.append(
                PackStatement(
                    name=name,
                    schema=m.group("schema").lower(),
                    comment=(m.group("comment") or "").replace("''", "'"),
                    body=flatten_names(_strip_comments(body)),
                    kind="view",
                )
            )
        elif re.match(r"^SELECT\s+\*\s+FROM\s+[\w.]+$", stripped, re.I):
            continue  # okta.sql's trailing smoke selects
        elif re.match(r"^(SELECT|WITH)\b", stripped, re.I):
            title = lead_comments[0] if lead_comments else "query"
            name = _slug(title)
            for target, repl in FIXUPS.get(name, ()):
                assert target in stripped, f"fixup target drifted for {name}"
                stripped = stripped.replace(target, repl)
            out.append(
                PackStatement(
                    name=name,
                    schema="",
                    comment=title,
                    body=flatten_names(stripped),
                    kind="query",
                )
            )
        else:
            raise ValueError(f"unrecognized pack statement: {stripped[:80]!r}")
    return out


def register_pack_rules(
    registry: RuleRegistry, path: str, only: set[str] | None = None
) -> list[str]:
    """Register every ``rules.*`` view of a pack file. Returns the
    registered names (upper-cased, as Snowflake stores unquoted
    identifiers)."""
    names = []
    for st in load_pack(path):
        if st.schema != "rules":
            continue
        if only is not None and st.name not in only:
            continue
        registry.create(st.name, sql=st.body, comment=st.comment)
        names.append(st.name)
    return names


def create_pack_data_views(spark, path: str) -> list[str]:
    """Create the pack's ``data.*`` projection views (okta.sql) as
    Spark temp views, in file order (later views reference earlier
    ones)."""
    from snowalert_spark.functions.variant import register_sql_functions

    register_sql_functions(spark)
    names = []
    for st in load_pack(path):
        if st.schema != "data" or st.kind != "view":
            continue
        flat = f"data_{st.name.lower()}"
        spark.sql(compat.transpile(st.body)).createOrReplaceTempView(flat)
        names.append(flat)
    return names


def monitoring_queries(path: str) -> dict[str, str]:
    """The bare (non-view) monitoring/cost queries of a pack file,
    keyed by their comment-derived slug."""
    return {st.name: st.body for st in load_pack(path) if st.kind == "query"}
