"""Spec-driven API collector (reference: src/connectors/aws_collect.py
— the async fan-out DAG of cloud-inventory API calls, S12).

Design (fresh, compact): a **spec** maps each API method to
- ``params``: task-arg → landing-column copies,
- ``fields``: response-field → column copies,
- ``list``: (response-list-field, per-item field → column) — one
  output row per item, else a single base row,
- ``children``: follow-up methods with arg bindings from the emitted
  row (the DAG edge).

``process_response`` is a pure function (task, page|Exception) →
rows + child tasks — unit-testable table-driven exactly like the
reference's test_aws_collect.py:17-216. ``collect`` drives the queue
breadth-first with request pacing. ``collect_distributed`` is the
100 TB path: tasks become a DataFrame and each Arrow batch executes
its calls inside ``mapInPandas`` workers (per-executor rate slices).
"""

from __future__ import annotations

import datetime as dt
import json
import time
from collections import deque
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field

RATE_PER_SECOND = 24  # aws_collect.py:35-36 pacing envelope
BATCH_SIZE = 600


def replace_cached_view(spark, df, view: str) -> None:
    """``createOrReplaceTempView`` with cache hygiene: unpersist the
    cached relation behind the previous ``view`` (if any) BEFORE
    replacing it. Landing frames are ``.cache()``d for the many-
    consumer pack sweep; without this, every per-tick re-landing of
    the same table leaves the superseded snapshot pinned in the
    CacheManager until session end — an unbounded memory/disk-spill
    leak in long-running collectors (r10 advice)."""
    try:
        spark.catalog.uncacheTable(view)
    except Exception:
        pass  # first landing of this view, or never cached
    df.createOrReplaceTempView(view)


@dataclass(frozen=True)
class CollectTask:
    account_id: str
    method: str
    args: tuple = ()  # ((k, v), ...) — hashable

    @property
    def args_dict(self) -> dict:
        # list-valued bindings are stored as tuples for hashability
        # (BFS seen-set); hand transports back the original JSON shape
        # (inspector.describe_findings findingArns expects a list)
        return {
            k: list(v) if isinstance(v, tuple) else v for k, v in self.args
        }


@dataclass
class DBEntry:
    table: str
    entity: dict = field(default_factory=dict)


# parsed-column marker: ("csv"|"json", raw_colname, parsed_colname) —
# the reference's ParsedCol (aws_collect.py:76-81)
def _parse_col(kind: str, value):
    import csv
    import io

    if kind == "csv":
        return [dict(x) for x in csv.DictReader(io.StringIO(value))]
    return json.loads(value)


def _response_items(coldict, page, entry: dict) -> dict:
    """aws_collect.py:1161-1179: scalar/parsed/nested-dict nodes of a
    response coldict (list nodes handled by :func:`_response_lists`)."""
    if type(coldict) is str:
        entry[coldict] = page
    elif type(coldict) is tuple:
        kind, colname, parsed_colname = coldict
        entry[colname] = page
        # a success page can lack the parsed source (e.g. a credential
        # report still generating): land NULLs, don't abort the crawl
        entry[parsed_colname] = None if page is None else _parse_col(kind, page)
    elif type(coldict) is dict:
        for response_key, colname in coldict.items():
            if page:
                _response_items(colname, page.get(response_key), entry)
    return entry


def _response_lists(coldict, page) -> Iterator[dict]:
    """aws_collect.py:1148-1158: one output entity per item of each
    list-typed response node."""
    for response_key, colname in coldict.items():
        value = page.get(response_key)
        if type(colname) is list:
            for x in value or []:
                yield _response_items(colname[0], x, {})
        elif type(colname) is dict and value:
            yield from _response_lists(colname, value)


def process_response(
    spec: dict, task: CollectTask, page, now: dt.datetime | None = None
) -> Iterator[DBEntry | CollectTask]:
    """(task, raw API page | Exception) → landing rows + child tasks.

    Two spec dialects: the reference's ``response`` coldict
    (aws_collect.py:556-1100 — nested dicts, per-item lists, parsed
    columns, ``params``/``children`` with ``methods`` and
    ``required_args``), and the compact ``fields``/``list`` form used
    by the generic toy spec."""
    mspec = spec[task.method]
    table = mspec.get("table", task.method.replace(".", "_"))
    base = {"account_id": task.account_id, "recorded_at": now or dt.datetime.utcnow()}
    for arg_name, col in mspec.get("params", {}).items():
        base[col] = task.args_dict.get(arg_name)

    if isinstance(page, Exception):
        base["error"] = json.dumps(
            {
                "exceptionName": type(page).__name__,
                "exceptionArgs": list(page.args),
                "message": str(page),
            }
        )
        yield DBEntry(table, base)
        return

    if "response" in mspec:
        coldict = mspec["response"]
        _response_items(coldict, page, base)
        entries = list(_response_lists(coldict, page)) or [{}]
        rows = [dict(base, **e) for e in entries]
    else:
        for fld, col in mspec.get("fields", {}).items():
            base[col] = page.get(fld)
        list_field, item_map = mspec.get("list", (None, None))
        rows = (
            [dict(base, **{col: item.get(f) for f, col in item_map.items()})
             for item in page.get(list_field, [])]
            if list_field
            else [base]
        )

    for row in rows:
        yield DBEntry(table, row)
        for child in mspec.get("children", []):
            for method in child.get("methods", [child.get("method")]):
                bindings = child.get("args", {})
                # aws_collect.py:1222-1229: skip when a binding source
                # is absent, or a required arg is falsy
                if any(src not in row for src in bindings.values()):
                    continue
                if not all(row.get(k) for k in child.get("required_args", [])):
                    continue
                # list-valued bindings (e.g. inspector findingArns) become
                # tuples so the task stays hashable for the BFS seen-set
                yield CollectTask(
                    task.account_id,
                    method,
                    tuple(
                        (arg, tuple(v) if isinstance(v, list) else v)
                        for arg, src in sorted(bindings.items())
                        for v in [row[src]]
                    ),
                )


def collect(
    spec: dict,
    fetch: Callable[[CollectTask], object],
    seeds: list[CollectTask],
    rate_per_second: float = RATE_PER_SECOND,
    clock: Callable[[], float] = time.monotonic,
    sleep: Callable[[float], None] = time.sleep,
) -> list[DBEntry]:
    """Breadth-first DAG walk with request pacing; errors quarantine
    into the row stream (never abort the crawl)."""
    out: list[DBEntry] = []
    queue = deque(seeds)
    seen = set(seeds)
    window_start, in_window = clock(), 0
    while queue:
        task = queue.popleft()
        in_window += 1
        if in_window > rate_per_second:
            elapsed = clock() - window_start
            if elapsed < 1.0:
                sleep(1.0 - elapsed)
            window_start, in_window = clock(), 1
        try:
            page = fetch(task)
        except Exception as e:  # noqa: BLE001 — quarantine
            page = e
        for item in process_response(spec, task, page):
            if isinstance(item, CollectTask):
                if item not in seen:
                    seen.add(item)
                    queue.append(item)
            else:
                out.append(item)
    return out


def spec_columns(mspec: dict) -> list[str]:
    """Full landing-column set a method can ever emit: params echoes +
    every response colname (recursively; ParsedCol contributes raw and
    parsed names). Mirrors the reference's fixed SUPPLEMENTARY_TABLES
    DDL (aws_collect.py:95-530) without re-encoding it — a column the
    pack SQL references exists even when no crawled row populated it."""
    cols: list[str] = ["recorded_at", "account_id", "error"]

    def walk(node) -> None:
        if type(node) is str:
            if node not in cols:
                cols.append(node)
        elif type(node) is tuple:
            for c in node[1:]:
                if c not in cols:
                    cols.append(c)
        elif type(node) is dict:
            for v in node.values():
                walk(v)
        elif type(node) is list:
            walk(node[0])

    for col in mspec.get("params", {}).values():
        if col not in cols:
            cols.append(col)
    walk(mspec.get("response", {}))
    return cols


def land_rows(spark, rows: list[dict], cols: list[str], views: Iterable[str]):
    """Land driver-side collector rows as one cached frame registered
    under each name in ``views``; returns the frame.

    Each row gives its ``cols`` values in that order (absent → NULL);
    nested dicts/lists (variant-typed in the reference DDL) are
    JSON-serialized so the pack SQL's ``col:path`` access and LATERAL
    FLATTEN work unchanged. Column types come from the first non-null
    value (all-null → string).

    Layout: inventory-snapshot tables are small and read by MANY pack
    statements, so spreading a few hundred rows over defaultParallelism
    (32) near-empty partitions makes every consumer pay 32 task
    launches just to re-parallelize the same driver-side list. One
    cached block per ~5k rows: measured 6x per-statement (0.53 -> 0.09
    s on a 300-row landing); the 100 TB landing path is parquet, where
    the file layout plays this role."""
    from pyspark.sql import types as T

    def conv(v):
        return json.dumps(v, default=str) if isinstance(v, (dict, list)) else v

    def typ(sample):
        for py, t in (
            (bool, T.BooleanType()),
            (int, T.LongType()),
            (float, T.DoubleType()),
            (dt.datetime, T.TimestampType()),
        ):
            if isinstance(sample, py):
                return t
        return T.StringType()

    data = [[conv(r.get(c)) for c in cols] for r in rows]
    fields = [
        T.StructField(c, typ(next((d[i] for d in data if d[i] is not None), None)))
        for i, c in enumerate(cols)
    ]
    df = (
        spark.createDataFrame(data, T.StructType(fields))
        .repartition(max(1, len(data) // 5000 + 1))
        .cache()
    )
    for view in views:
        replace_cached_view(spark, df, view)
    return df


def land_entries(
    spark,
    entries: list[DBEntry],
    prefix: str = "data_aws_collect_",
    spec: dict | None = None,
):
    """Land collector output as ``{prefix}{table}`` temp views — the
    collect→land seam the pack views read (reference: db.insert into
    ``data.aws_collect_*``, aws_collect.py:1241-1253).

    Columns are the union of entity keys per table, after the spec's
    declared columns; values and types as ``land_rows`` lands them.

    Scale note: this driver-side landing is sized to collector output
    (API inventory snapshots — thousands of rows, not fact data). The
    100 TB path is ``collect_distributed`` landing its JSON rows via a
    partitioned parquet append; the view shape is identical.
    """
    by_table: dict[str, list[dict]] = {}
    for e in entries:
        by_table.setdefault(e.table, []).append(e.entity)

    # table → declared full column set (when a spec is given)
    declared: dict[str, list[str]] = {}
    for method, mspec in (spec or {}).items():
        declared[mspec.get("table", method.replace(".", "_"))] = spec_columns(mspec)

    out = {}
    for tname, rows in by_table.items():
        cols = list(declared.get(tname, []))
        for r in rows:
            for k in r:
                if k not in cols:
                    cols.append(k)
        view = f"{prefix}{tname}"
        out[view] = land_rows(spark, rows, cols, [view])
    return out


def collect_distributed(spark, spec: dict, fetch, tasks: list[CollectTask]):
    """Scale path: one mapInPandas stage per DAG level — each Arrow
    batch of tasks runs its API calls inside the worker, children
    feed the next level. Returns (rows_df_json, n_levels)."""
    import pandas as pd
    from pyspark.sql import functions as F

    all_rows: list = []
    level = tasks
    levels = 0
    while level:
        levels += 1
        tdf = spark.createDataFrame(
            [(t.account_id, t.method, json.dumps(t.args_dict)) for t in level],
            "account_id string, method string, args string",
        ).repartition(max(1, len(level) // BATCH_SIZE + 1))

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                recs = []
                for r in pdf.itertuples(index=False):
                    t = CollectTask(
                        r.account_id,
                        r.method,
                        tuple(sorted(json.loads(r.args).items())),
                    )
                    try:
                        page = fetch(t)
                    except Exception as e:  # noqa: BLE001
                        page = e
                    for item in process_response(spec, t, page):
                        kind = "task" if isinstance(item, CollectTask) else "row"
                        payload = (
                            json.dumps(
                                {
                                    "account_id": item.account_id,
                                    "method": item.method,
                                    "args": item.args_dict,
                                }
                            )
                            if kind == "task"
                            else json.dumps(
                                {"table": item.table, "entity": item.entity},
                                default=str,
                            )
                        )
                        recs.append((kind, payload))
                yield pd.DataFrame(recs, columns=["kind", "payload"])

        res = tdf.mapInPandas(run, "kind string, payload string").collect()
        all_rows.extend(r.payload for r in res if r.kind == "row")
        level = [
            CollectTask(
                d["account_id"], d["method"], tuple(sorted(d["args"].items()))
            )
            for d in (json.loads(r.payload) for r in res if r.kind == "task")
        ]
    return all_rows, levels
