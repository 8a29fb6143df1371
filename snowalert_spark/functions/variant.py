"""VARIANT-convention helpers (SURVEY §7.3 "genuinely hard" #1).

Convention: fixed-vocabulary documents (alert) are typed structs; open
documents (EVENT_DATA, violation result, metadata v) are compact JSON
strings. Snowflake's JSON-null (``PARSE_JSON('null')``) is the literal
string ``"null"`` — distinct from SQL NULL, exactly like the
reference's sentinel (alert_queries_runner.py:41-54,
alert_processor.py:26).

Canonical identity JSON (db.py:465-492; pinned by the reference test
run_violations.py:143-146): compact, key-sorted, nulls omitted. We get
that with ``to_json(named_struct(<keys in sorted order>))`` — all
JVM-side, no UDF.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column
from pyspark.sql import functions as F

JSON_NULL = "null"

#: guards register_sql_functions' session memo flag (reached from
#: packs.execute_concurrent's thread pool)
_REGISTER_LOCK = threading.Lock()


def is_json_null(col: Column) -> Column:
    """IS_NULL_VALUE analog: JSON-null (string "null"), not SQL NULL."""
    return col == F.lit(JSON_NULL)


def object_construct(**kv: Column) -> Column:
    """OBJECT_CONSTRUCT analog → compact key-sorted JSON string with
    SQL-NULL values omitted (Snowflake semantics)."""
    return F.to_json(_named_struct_sorted(kv))


def _named_struct_sorted(kv: dict[str, Column]) -> Column:
    cols = []
    for k in sorted(kv):
        cols.append(kv[k].alias(k))
    return F.struct(*cols)


def recursive_flatten(df, json_col: str, id_cols: list[str]):
    """LATERAL FLATTEN(input => v, recursive => true) analog
    (cis_azure_pack.sql:192-217 uses it to search all paths of a
    document): yields one row per (path, value) leaf of the JSON
    document. JSON recursion isn't expressible with built-in Spark
    operators, so this is an Arrow-batched mapInPandas stage (the
    sanctioned slow path); at scale it parallelizes per record batch.
    """
    import json as _json
    from collections.abc import Iterator

    import pandas as pd

    out_schema = ", ".join(f"{c} string" for c in id_cols) + ", path string, value string"

    def walk(prefix: str, v, out: list):
        if isinstance(v, dict):
            for k, vv in v.items():
                walk(f"{prefix}.{k}" if prefix else k, vv, out)
        elif isinstance(v, list):
            for i, vv in enumerate(v):
                walk(f"{prefix}[{i}]", vv, out)
        else:
            out.append((prefix, _json.dumps(v) if not isinstance(v, str) else v))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                try:
                    doc = _json.loads(r[json_col]) if r[json_col] else None
                except ValueError:
                    doc = None
                leaves: list = []
                if doc is not None:
                    walk("", doc, leaves)
                for path, val in leaves:
                    rows.append([str(r[c]) for c in id_cols] + [path, val])
            yield pd.DataFrame(rows, columns=id_cols + ["path", "value"])

    return df.select(*id_cols, json_col).mapInPandas(batches, out_schema)


def _rflatten_rows(doc_text: str | None) -> list[dict]:
    """Walk a JSON document, yielding one row per sub-element at every
    nesting level — Snowflake ``FLATTEN(…, recursive => true)`` order
    and shape (KEY/PATH/INDEX/VALUE; compound nodes included, then
    their children). Scalar string values surface bare, other scalars
    as JSON text, JSON null as the "null" sentinel, compound values as
    compact JSON — the repo's variant-as-JSON-text convention."""
    import json as _json

    if not doc_text:
        return []
    try:
        doc = _json.loads(doc_text)
    except ValueError:
        return []

    def enc(v) -> str:
        if isinstance(v, str):
            return v
        return _json.dumps(v, separators=(",", ":"))

    out: list[dict] = []

    def walk(prefix: str, v) -> None:
        if isinstance(v, dict):
            for k, vv in v.items():
                p = f"{prefix}.{k}" if prefix else k
                out.append({"key": k, "path": p, "index": None, "value": enc(vv)})
                walk(p, vv)
        elif isinstance(v, list):
            for i, vv in enumerate(v):
                p = f"{prefix}[{i}]"
                out.append({"key": None, "path": p, "index": i, "value": enc(vv)})
                walk(p, vv)

    walk("", doc)
    return out


def register_sql_functions(spark) -> None:
    """Register the SQL-callable helpers the transpiler emits.

    ``sa_rflatten(doc)`` backs ``LATERAL FLATTEN(input => v,
    recursive => true)`` (cis_azure_pack.sql:207): the compat layer
    rewrites it to ``LATERAL VIEW inline(sa_rflatten(v)) f`` so rule
    bodies keep their ``f.path`` / ``f.value`` references. Arrow-batched
    pandas UDF (never row-at-a-time): JSON recursion is not expressible
    with built-in operators, and per-batch Python keeps the walk off
    the driver and parallel per partition at scale.

    Idempotent and memoized per session: every ``Rule.df`` call routes
    through here, and re-wrapping + re-registering the pandas UDF is a
    measurable per-statement cost in a 92-view pack sweep (r9 verdict
    item 5). Reached concurrently from ``packs.execute_concurrent``'s
    thread pool, so the check-then-set memo is guarded by a lock
    (registration itself is idempotent; the lock only keeps the shared
    session flag race-free)."""
    with _REGISTER_LOCK:
        if getattr(spark, "_sa_sql_functions_registered", False):
            return
        from pyspark.sql.functions import pandas_udf

        # hint-free form: module-wide `from __future__ import
        # annotations` turns signature hints into unresolvable strings
        sa_rflatten = pandas_udf(
            lambda docs: docs.map(_rflatten_rows),
            "array<struct<key:string,path:string,index:int,value:string>>",
        )
        spark.udf.register("sa_rflatten", sa_rflatten)
        spark._sa_sql_functions_registered = True


def object_assign(a_json: Column, b_json: Column) -> Column:
    """OBJECT_ASSIGN (shallow merge, b wins) over JSON object strings.

    Values are re-encoded via map<string,string>; requires
    ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (set by the runners'
    session). Key order of the result follows a-then-b insertion order
    (matches the reference's JS Object.assign)."""
    m = F.map_concat(
        F.from_json(a_json, "map<string,string>"),
        F.from_json(b_json, "map<string,string>"),
    )
    return F.to_json(m)
