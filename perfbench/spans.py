"""Tracing shim, used only by the traced run.

Spans are recorded from the benchmark's own files around calls into
the product's layers: a ``TracedStore`` proxy handed to the runners,
and wrappers installed for one run around the runner stages,
``compat.transpile``, ``Rule.df``, ``metadata.record`` and the
registered handlers. Spans (name, start, end, parent, run id) stay in
memory and are written out when the benchmark ends.

Each span sets a Spark job group, so a job is attributed to the span
whose id is its group; jobs started under another group (a streaming
query sets its own) go to the innermost span whose interval holds
their submission time. Job intervals come from the status store,
which is kept with the UI disabled.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict

import pyarrow.parquet as pq

RUNNER_LAYERS = (
    "runners.alert_queries",
    "runners.alert_suppressions",
    "runners.alert_processor",
    "runners.alert_dispatcher",
    "runners.violation_queries",
)
STORE_OPS = ("upsert", "update", "append", "overwrite")
TIERS = ("curation", "neardup", "substring")
FAMILIES = ("eval", "store", "runners", "metadata", "rules", "handlers", "streaming",
            "uncovered")

# every per-layer metric a traced run reports (0 where a workload does
# not reach the layer), in the order BENCHMARK.json lists them
PER_LAYER = (
    [f"{layer}.{m}" for layer in RUNNER_LAYERS
     for m in ("s", "jobs", "job_s", "rows_out", "eval_s")]
    + [f"store.{op}.{m}" for op in STORE_OPS for m in ("s", "calls")]
    + ["store.jobs", "store.publishes", "store.rows_rewritten", "store.rows_changed",
       "store.useful_ratio", "store.bytes_written"]
    + [f"runners.metadata.record.{m}" for m in ("s", "calls", "jobs", "job_s")]
    + ["rules.df.s", "rules.df.calls", "compat.transpile.s", "compat.transpile.calls",
       "handlers.s", "handlers.calls", "handlers.failed",
       "streaming.file_stream_ingest.s", "streaming.file_stream_ingest.jobs",
       "sources.rows_landed", "sources.landing_bytes", "sources.landing_files"]
    + [f"streaming.{t}.{m}" for t in TIERS for m in ("s", "rows_in", "rows_out")]
    + ["streaming.state_rows", "streaming.state_bytes", "streaming.state_files",
       "driver.gap_s", "driver.peak_rss_mb", "spark.jobs", "trace.uncovered_s"]
    + [f"self_s.{f}" for f in FAMILIES]
    + ["trace.run_s"]
)


class NullTracer:
    """Untraced runs: every hook is a no-op."""

    enabled = False

    def span(self, name, **tags):
        return contextlib.nullcontext({})


def parquet_stats(root: str) -> tuple[int, int, int]:
    """(rows, bytes, files) of the parquet files under ``root``, rows
    read from the footers."""
    rows = size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                rows += pq.read_metadata(p).num_rows
                size += os.path.getsize(p)
                files += 1
    return rows, size, files


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.run_id = None
        self._next_job = self._first_unseen_job()

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name, **tags):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"pb{len(self.spans)}", "name": name,
               "parent": parent["id"] if parent else None, "run": self.run_id,
               "start": time.time(), "end": None, "jobs": [], **tags}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # -- jobs ------------------------------------------------------------
    def _first_unseen_job(self) -> int:
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        jobs = self._jsc.statusStore().jobsList(None)
        return 1 + max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def collect_jobs(self, run_spans: list[dict]) -> None:
        """Attach every job submitted since the last call to a span."""
        from py4j.protocol import Py4JJavaError

        self._jsc.listenerBus().waitUntilEmpty(10_000)
        st = self._jsc.statusStore()
        by_id = {s["id"]: s for s in run_spans}
        while True:
            try:
                jd = st.job(self._next_job)
            except Py4JJavaError:
                break
            self._next_job += 1
            sub, comp = jd.submissionTime(), jd.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            s, e = sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0
            grp = jd.jobGroup()
            owner = by_id.get(grp.get()) if grp.isDefined() else None
            if owner is None:  # streaming jobs: innermost enclosing span
                inside = [x for x in run_spans if x["start"] - 0.002 <= s <= x["end"] + 0.002]
                owner = max(inside, key=lambda x: x["start"]) if inside else None
            if owner is not None:
                owner["jobs"].append((s, e))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- wrappers ------------------------------------------------------------

class TracedStore:
    """Proxy over ``ResultsStore``: each mutation is a ``store.<op>``
    span carrying rows changed and, from the parquet footers of the
    files it published, rows rewritten and bytes written. ``upsert``
    first materializes its incoming rows in an ``eval`` span, so rule
    evaluation and the merge are timed apart (this adds one job per
    upsert, which is part of the tracing overhead)."""

    def __init__(self, store, tracer: Tracer):
        self._store = store
        self._tr = tracer

    def __getattr__(self, name):
        return getattr(self._store, name)

    def _snapshot(self, table: str) -> tuple[str | None, set]:
        cur = self._store._current(table)
        if cur is None:
            return None, set()
        return cur, {n for n in os.listdir(cur) if n.endswith(".parquet")}

    def _account(self, sp: dict, table: str, before, changed: int | None) -> None:
        cur, files = self._snapshot(table)
        new = files if cur != before[0] else files - before[1]
        rows = size = 0
        for n in new:
            p = os.path.join(cur, n)
            rows += pq.read_metadata(p).num_rows
            size += os.path.getsize(p)
        sp.update(table=table, rows_rewritten=rows, bytes_written=size,
                  rows_changed=rows if changed is None else changed,
                  published=int(cur != before[0]))

    def upsert(self, table, incoming, *a, **kw):
        with self._tr.span("eval", table=table):
            incoming = incoming.cache()
            incoming.count()
        try:
            with self._tr.span("store.upsert") as sp:
                before = self._snapshot(table)
                out = self._store.upsert(table, incoming, *a, **kw)
                self._account(sp, table, before, out["updated"] + out["inserted"])
            return out
        finally:
            incoming.unpersist()

    def update(self, table, condition, updates):
        with self._tr.span("store.update") as sp:
            before = self._snapshot(table)
            n = self._store.update(table, condition, updates)
            self._account(sp, table, before, n)
        return n

    def append(self, table, df):
        with self._tr.span("store.append") as sp:
            before = self._snapshot(table)
            self._store.append(table, df)
            self._account(sp, table, before, None)

    def overwrite(self, table, df, expect_version=None):
        with self._tr.span("store.overwrite") as sp:
            before = self._snapshot(table)
            self._store.overwrite(table, df, expect_version=expect_version)
            self._account(sp, table, before, None)


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapped(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)
    return wrapped


@contextlib.contextmanager
def installed(tracer: Tracer):
    """Wrap the product's layer entry points for the duration of one
    traced run, and restore them after. The benchmark registers one
    handler where it dispatches alerts, the dispatcher's default ``jira``."""
    from snowalert_spark import compat, handlers, rules
    from snowalert_spark.runners import (
        alert_dispatcher, alert_processor, alert_queries, alert_suppressions,
        metadata, violation_queries,
    )

    patches = [
        (compat, "transpile", "compat.transpile"),
        (rules.Rule, "df", "rules.df"),
        (metadata, "record", "runners.metadata.record"),
        (alert_queries, "main", "runners.alert_queries"),
        (alert_suppressions, "main", "runners.alert_suppressions"),
        (alert_processor, "main", "runners.alert_processor"),
        (alert_dispatcher, "main", "runners.alert_dispatcher"),
        (violation_queries, "main", "runners.violation_queries"),
        (violation_queries, "suppress", "runners.violation_queries"),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
    try:
        saved_handlers = {"jira": handlers.get("jira")}
    except KeyError:  # a workload that dispatches no alerts
        saved_handlers = {}
    try:
        for obj, attr, name in patches:
            setattr(obj, attr, _wrap(tracer, name, getattr(obj, attr)))
        for n, h in saved_handlers.items():
            handlers.register(n, _traced_handler(tracer, h))
        yield
    finally:
        for obj, attr, orig in saved:
            setattr(obj, attr, orig)
        for n, h in saved_handlers.items():
            handlers.register(n, h)


def _traced_handler(tracer: Tracer, h):
    @functools.wraps(h)
    def wrapped(*a, **kw):
        with tracer.span("handlers") as sp:
            try:
                r = h(*a, **kw)
            except Exception:
                sp["failed"] = 1
                raise
            sp["failed"] = int(isinstance(r, dict) and r.get("success") is False)
            return r
    return wrapped


# -- per-run summary ------------------------------------------------------

def summarize(run_spans: list[dict]) -> dict[str, float]:
    """Per-layer numbers of one traced run (its root span first)."""
    kids = defaultdict(list)
    for s in run_spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)

    def dur(s):
        return s["end"] - s["start"]

    def subtree(s):
        out = [s]
        for k in kids[s["id"]]:
            out.extend(subtree(k))
        return out

    def self_time(s):
        return dur(s) - sum(dur(k) for k in kids[s["id"]])

    root = run_spans[0]
    by_id = {s["id"]: s for s in run_spans}
    m: dict[str, float] = defaultdict(float)
    root_jobs = [j for s in run_spans for j in s["jobs"]]
    m["driver.gap_s"] = dur(root) - _union([(max(a, root["start"]), min(b, root["end"]))
                                            for a, b in root_jobs])
    m["trace.uncovered_s"] = self_time(root)
    m["spark.jobs"] = len(root_jobs)

    def nested_in_same(s):
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == s["name"]:
                return True
            p = by_id[p]["parent"]
        return False

    def outermost(name):
        # a layer span nested in a span of the same name is counted once
        return [s for s in run_spans if s["name"] == name and not nested_in_same(s)]

    for layer in RUNNER_LAYERS + ("runners.metadata.record",):
        for s in outermost(layer):
            sub = subtree(s)
            jobs = [j for x in sub for j in x["jobs"]]
            m[f"{layer}.s"] += dur(s)
            m[f"{layer}.jobs"] += len(jobs)
            m[f"{layer}.job_s"] += _union(jobs)
            if layer == "runners.metadata.record":
                m[f"{layer}.calls"] += 1
                continue
            meta = {x["id"] for y in sub if y["name"] == "runners.metadata.record"
                    for x in subtree(y)}
            m[f"{layer}.rows_out"] += sum(x.get("rows_changed", 0) for x in sub
                                          if x["name"].startswith("store.") and x["id"] not in meta)
            m[f"{layer}.eval_s"] += sum(dur(x) for x in sub if x["name"] == "eval")

    for op in STORE_OPS:
        for s in outermost(f"store.{op}"):
            m[f"store.{op}.s"] += dur(s)
            m[f"store.{op}.calls"] += 1
    for s in run_spans:
        if s["name"].startswith("store."):
            m["store.jobs"] += len(s["jobs"])
            m["store.rows_rewritten"] += s.get("rows_rewritten", 0)
            m["store.rows_changed"] += s.get("rows_changed", 0)
            m["store.bytes_written"] += s.get("bytes_written", 0)
            m["store.publishes"] += s.get("published", 0)
    for name, key in (("rules.df", "rules.df"), ("compat.transpile", "compat.transpile")):
        for s in outermost(name):
            m[f"{key}.s"] += dur(s)
            m[f"{key}.calls"] += 1
    for s in outermost("handlers"):
        m["handlers.s"] += dur(s)
        m["handlers.calls"] += 1
        m["handlers.failed"] += s.get("failed", 0)
    for s in outermost("streaming.file_stream_ingest"):
        m["streaming.file_stream_ingest.s"] += dur(s)
        m["streaming.file_stream_ingest.jobs"] += sum(len(x["jobs"]) for x in subtree(s))
        m["sources.rows_landed"] += s.get("rows_landed", 0)
    for t in TIERS:
        for s in outermost(f"streaming.{t}"):
            m[f"streaming.{t}.s"] += dur(s)
            m[f"streaming.{t}.rows_in"] += s.get("rows_in", 0)
            m[f"streaming.{t}.rows_out"] += s.get("rows_out", 0)

    # self time by layer family: where a run's wall clock goes
    for s in run_spans[1:]:
        n = s["name"]
        fam = ("store" if n.startswith("store.") else
               "metadata" if n == "runners.metadata.record" else
               "streaming" if n.startswith("streaming.") else
               "runners" if n.startswith("runners.") else
               "rules" if n in ("rules.df", "compat.transpile") else n)
        m[f"self_s.{fam}"] += self_time(s)
    m["self_s.uncovered"] = m["trace.uncovered_s"]
    return dict(m)
