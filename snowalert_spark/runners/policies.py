"""Policy rules (``*_POLICY_DEFINITION``): evaluated inline on read —
each policy view yields (title, passing) rows (reference:
webui/backend/webui/api/rules.py:55-59, 108-113). The runner collects
per-policy pass/fail counts and records them as ``run_metadata`` rows
through ``metadata.run_rules`` (a failing policy: an ERROR row)."""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from snowalert_spark.rules import POLICY_DEFINITION, RuleRegistry
from snowalert_spark.runners import metadata
from snowalert_spark.store import ResultsStore

_SUFFIX_RE = re.compile(
    r"_(alert|violation|policy)_(query|suppression|definition)$", re.I
)


def list_rules(
    spark: SparkSession,
    registry: RuleRegistry,
    rule_target: str | None = None,
    rule_type: str | None = None,
) -> list[dict]:
    """WebUI rule listing shape (webui/api/rules.py:40-65): one entry
    per registered rule with the suffix split into target/type, the
    body text, and — for policy definitions only — the evaluated
    (title, passing) rows inline."""
    out = []
    for name in sorted(registry.rules):
        rule = registry.rules[name]
        parts = name.split("_")
        if len(parts) < 2:
            continue  # webui filters by is_valid_rule_name (rules.py:63)
        target, typ = parts[-2].upper(), parts[-1].upper()
        if rule_target and target != rule_target.upper():
            continue
        if rule_type and typ != rule_type.upper():
            continue
        out.append(
            {
                "title": _SUFFIX_RE.sub("", name),
                "target": target,
                "type": typ,
                "body": rule.sql,
                "results": (
                    [r.asDict() for r in rule.df(spark).collect()]
                    if name.endswith(POLICY_DEFINITION)
                    else None
                ),
            }
        )
    return out


def main(
    spark: SparkSession,
    store: ResultsStore,
    registry: RuleRegistry,
    run_id: str | None = None,
) -> list[dict]:
    rules = registry.load_rules(POLICY_DEFINITION)
    checks: dict[str, list[dict]] = {}

    def body(rule):
        found = checks[rule.name] = [
            {"title": r["title"], "passing": bool(r["passing"])}
            for r in rule.df(spark).collect()
        ]
        return {"checks": len(found), "passing": sum(c["passing"] for c in found)}

    recorded = metadata.run_rules(store, "run_metadata", run_id, rules, "POLICY", body)
    return [
        {
            "rule": rule.name,
            "title": rule.title,
            "results": checks.get(rule.name, []),
            **md.get("ROW_COUNT", {}),
        }
        for rule, md in zip(rules, recorded)
    ]
