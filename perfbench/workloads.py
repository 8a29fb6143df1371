"""The workloads. Each one builds its inputs from the seed in
``setup``; ``prepare`` generates the next run's input outside the timed
region; ``run_once`` moves that input into place (its arrival stamp)
and performs one scheduled run through the product's public entry
points; ``check`` verifies that run's outputs (outside the timed
region).

Sizes are chosen so that a full benchmark invocation (session start,
set-up, the measured run and its checks) fits the time budget of the
standard runs on a 4-core host; see README.md for the reasoning.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import ruleset
from oracle import CheckFailed, Oracle
from spans import NullTracer, TracedStore, parquet_stats

# -- sizes ---------------------------------------------------------------
TICK_EVENTS_PER_HOUR = 4_000
TICK_ALERT_HISTORY = 20_000
TICK_RECENT_ALERTS = 300  # the previous tick's alerts, re-matched by MERGE
TICK_VIOLATION_HISTORY = 5_000
DEDUP_DOCS_PER_TICK = 50
# the substring tier's state buckets, sized to the 4-core host (the
# function's default of 64 is sized for a cluster)
DEDUP_STATE_BUCKETS = 4

HOUR = dt.timedelta(hours=1)
WINDOW = dt.timedelta(minutes=90)


def arrive(staged: str, dest: str) -> float:
    """Move a staged input file into the directory the product reads
    (a rename, so it appears complete or not at all) and return the
    arrival stamp detection latency starts from."""
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    os.rename(staged, dest)
    return time.time()


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        os.makedirs(work, exist_ok=True)
        self.dimensions: dict = {}
        self.tick = 0

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed work before a run: generate its input, snapshot state."""
        raise NotImplementedError

    def run_once(self, tracer) -> dict:
        """One scheduled run; returns the input events it covered and
        its detection latency."""
        raise NotImplementedError

    def check(self) -> dict:
        """Check the last run; returns its operation counts."""
        raise NotImplementedError

    def final_check(self) -> None:
        """Untimed check over the whole invocation, after the last run."""

    def layer_extras(self) -> dict:
        """Per-layer numbers read from the workload's own files."""
        return {}


class TicksHistory(Workload):
    """Hourly ticks of the CLI ``all`` target over a store preloaded
    with history. Each tick the hour's events arrive, the file-stream
    ingest lands them next to the earlier hours, then ``run_alerts``
    runs over a 90-minute window and ``run_violations`` follows. The
    history ends with the previous tick's alerts, so the first tick's
    MERGE increments them. Each tick adds few rows, so store publishes
    dominate."""

    name = "ticks_history"
    START = gen.T0 + dt.timedelta(days=31)

    def setup(self) -> None:
        from snowalert_spark import handlers
        from snowalert_spark.rules import RuleRegistry
        from snowalert_spark.schema import ALERTS, VIOLATIONS
        from snowalert_spark.store import ResultsStore

        self.ticket_handler = handlers.MemoryTicketHandler()
        # the dispatcher's default handler name is 'jira'
        handlers.register("jira", self.ticket_handler.handle)
        self.registry = RuleRegistry()
        self.rules = ruleset.register_alert_rules(self.registry)
        ruleset.register_violation_rules(self.registry)

        inv = gen.inventory(self.seed)
        self.inventory_path = self.path("inventory.parquet")
        pq.write_table(inv, self.inventory_path)
        self.spark.read.parquet(self.inventory_path).createOrReplaceTempView("inventory")
        self.store = ResultsStore(self.spark, self.path("store"))
        hist_end = self.START - WINDOW + HOUR
        for table, rows, schema in (
                ("alerts", gen.alert_history(self.seed, TICK_ALERT_HISTORY, hist_end,
                                             TICK_RECENT_ALERTS), ALERTS),
                ("violations", gen.violation_history(self.seed, TICK_VIOLATION_HISTORY, hist_end),
                 VIOLATIONS)):
            pq.write_table(rows, self.path(f"{table}_history.parquet"))
            self.store.overwrite(table, self.spark.read.schema(schema).parquet(
                self.path(f"{table}_history.parquet")))
        # the hours before the first tick's window ends are landed
        self._hours = []
        for h in (-2, -1):
            arrive(self._stage_hour(h), self._raw(h))
        self.event_schema = self.spark.read.parquet(self.path("raw")).schema
        self._ingest()
        self.oracle = Oracle(self.path("store"))
        self.oracle.source(f"SELECT * FROM read_parquet('{self.path('raw')}/*.parquet')")
        self.dimensions = {"alert_history": TICK_ALERT_HISTORY,
                           "recent_alerts_in_window": TICK_RECENT_ALERTS,
                           "violation_history": TICK_VIOLATION_HISTORY,
                           "events_per_hour": TICK_EVENTS_PER_HOUR}

    def _raw(self, h: int) -> str:
        return self.path("raw", f"hour={h + 10:05d}.parquet")

    def _stage_hour(self, h: int) -> str:
        """Generate the events of hour ``h`` (ending at START + h hours)
        into the staging directory."""
        start = self.START + (h - 1) * HOUR
        ev = gen.events(self.seed, 1000 + h, TICK_EVENTS_PER_HOUR, start, 3600)
        path = self.path("incoming", f"hour={h + 10:05d}.parquet")
        gen.write_events(path, ev)
        self._hours.append(ev)
        return path

    def _ingest(self) -> None:
        from snowalert_spark import streaming

        streaming.file_stream_ingest(self.spark, self.path("raw"), self.path("events"),
                                     self.path("ckpt"), self.event_schema, fmt="parquet")

    def _window(self, k: int):
        hi = self.START + k * HOUR
        return hi - WINDOW, hi

    def ticket_calls(self) -> int:
        return sum(len(v) for v in self.ticket_handler.tickets.values())

    def prepare(self) -> None:
        self._staged = self._stage_hour(self.tick)
        self.dimensions[f"tick{self.tick}"] = gen.event_dimensions(
            pa.concat_tables(self._hours), self._window(self.tick))
        self.oracle.before(with_violations=True)
        self._calls0 = self.ticket_calls()

    def run_once(self, tracer) -> dict:
        from snowalert_spark import run

        k = self.tick
        stamp = arrive(self._staged, self._raw(k))
        before = parquet_stats(self.path("events")) if tracer.enabled else None
        with tracer.span("streaming.file_stream_ingest") as sp:
            self._ingest()
        if tracer.enabled:
            self._landing = parquet_stats(self.path("events"))
            sp["rows_landed"] = self._landing[0] - before[0]
        lo, hi = self._window(k)
        self.spark.read.parquet(self.path("events")).createOrReplaceTempView("events")
        store = TracedStore(self.store, tracer) if tracer.enabled else self.store
        run.run_alerts(self.spark, store, self.registry, from_ts=lo, to_ts=hi)
        detect = time.time() - stamp  # the hour's alerts now carry tickets
        run.run_violations(self.spark, store, self.registry)
        self.tick += 1
        # events inside the tick's window: the last 1.5 generated hours
        return {"events": int(1.5 * TICK_EVENTS_PER_HOUR), "detect_s": detect}

    def layer_extras(self) -> dict:
        _, size, files = self._landing
        return {"sources.landing_bytes": size, "sources.landing_files": files}

    def check(self) -> dict:
        lo, hi = self._window(self.tick - 1)
        ops = self.oracle.check_alert_run(self.rules, lo, hi, ruleset.SUPPRESSION_ORACLE,
                                          self.ticket_calls() - self._calls0)
        self.oracle.check_violation_run(self.inventory_path, ruleset.VIOLATION_RULES)
        return ops


DOC_SCHEMA = "doc_id long, text string, lang string, source string"
GATE_OUT = ("doc_id long, text string, lang string, source string, "
            "n_tokens long, quality double, top_word_frac double")


class StreamDedup(Workload):
    """Micro-batch ticks through the streaming chain: curation gate ->
    MinHash near-dup -> substring dedup. The first tick lands during
    set-up, so the measured tick matches against accumulated state."""

    name = "stream_dedup"

    def setup(self) -> None:
        self.prior: list[str] = []
        self.next_id = 1
        self.all_rows: list[dict] = []
        self.dimensions = {"docs_per_tick": DEDUP_DOCS_PER_TICK, "ticks": []}
        self.prepare()
        self.run_once(NullTracer())
        self.check()

    def _chain(self, root: str, tracer) -> None:
        from pyspark.sql import types as T

        from snowalert_spark import streaming

        gate_schema = T._parse_datatype_string(GATE_OUT)
        stages = [
            ("curation", "gate_out", lambda: streaming.curation_stream_ingest(
                self.spark, f"{root}/src", f"{root}/gate_out", f"{root}/ckpt1",
                T._parse_datatype_string(DOC_SCHEMA))),
            ("neardup", "near_out", lambda: streaming.neardup_stream_ingest(
                self.spark, f"{root}/gate_out", f"{root}/near_out", f"{root}/ckpt2",
                f"{root}/state2", gate_schema, fmt="parquet")),
            ("substring", "final", lambda: streaming.substring_stream_ingest(
                self.spark, f"{root}/near_out", f"{root}/final", f"{root}/ckpt3",
                f"{root}/state3", gate_schema, fmt="parquet", window=40,
                state_buckets=DEDUP_STATE_BUCKETS)),
        ]
        rows_in = len(self.last_rows)
        for tier, dst, call in stages:
            before = parquet_stats(f"{root}/{dst}")[0] if tracer.enabled else 0
            with tracer.span(f"streaming.{tier}") as sp:
                call()
            if tracer.enabled:
                sp["rows_in"] = rows_in
                sp["rows_out"] = rows_in = parquet_stats(f"{root}/{dst}")[0] - before

    def prepare(self) -> None:
        k = self.tick
        rows, dims = gen.doc_batch(self.seed, k, DEDUP_DOCS_PER_TICK, self.next_id, self.prior,
                                   self.path("incoming", f"tick-{k:05d}.json"))
        self.next_id += len(rows)
        self.all_rows.extend(rows)
        self.prior.extend(r["text"] for r in rows if not r["text"].startswith("spam"))
        self.last_rows = rows
        self.dimensions["ticks"].append(dims)

    def run_once(self, tracer) -> dict:
        k = self.tick
        stamp = arrive(self.path("incoming", f"tick-{k:05d}.json"),
                       self.path("chain", "src", f"tick-{k:05d}.json"))
        self._chain(self.path("chain"), tracer)
        self.tick += 1
        # the tick's surviving documents are now in the last tier's output
        return {"events": len(self.last_rows), "detect_s": time.time() - stamp}

    def layer_extras(self) -> dict:
        rows = size = files = 0
        for d in ("state2", "state3"):
            r, s, f = parquet_stats(self.path("chain", d))
            rows, size, files = rows + r, size + s, files + f
        return {"streaming.state_rows": rows, "streaming.state_bytes": size,
                "streaming.state_files": files}

    @staticmethod
    def _final(root: str) -> dict[int, str]:
        """The last tier's output (one ``batch_id=`` directory per
        micro-batch), read with pyarrow rather than the Spark under test."""
        out: dict[int, str] = {}
        for p in glob.glob(f"{root}/final/batch_id=*/*.parquet"):
            t = pq.read_table(p, columns=["doc_id", "clean_text"])
            out.update(zip(t.column("doc_id").to_pylist(), t.column("clean_text").to_pylist()))
        return out

    def check(self) -> dict:
        """The measured tick against what the generator knows: gate
        rejects and exact copies of kept documents are dropped, fresh
        documents survive, and a boilerplate sentence survives only in
        the first surviving document that carries it (the substring
        tier's keep-one rule, across ticks through its state)."""
        out = self._final(self.path("chain"))
        earlier = self.all_rows[: -len(self.last_rows)]
        seen = {r["text"] for r in earlier}
        kept = {r["text"] for r in earlier if r["doc_id"] in out}
        keeper: dict[str, int] = {}
        for r in self.all_rows:  # in doc_id order
            if r["doc_id"] in out:
                for b in gen.BOILERPLATE:
                    if b in r["text"]:
                        keeper.setdefault(b, r["doc_id"])
        for r in self.last_rows:
            did = r["doc_id"]
            junk = r["text"].startswith("spam")
            if junk and did in out:
                raise CheckFailed(f"gate reject {did} reached the final stage")
            if r["text"] in kept and did in out:
                raise CheckFailed(f"exact copy {did} of a kept document reached the final stage")
            # near-duplicates carry a mutation marker; every other
            # document is new content and must survive
            fresh = not junk and r["text"] not in seen and "mut" not in r["text"]
            if fresh and did not in out:
                raise CheckFailed(f"fresh document {did} was dropped")
            for b in gen.BOILERPLATE:
                if did in out and b in r["text"] and (b in out[did]) != (keeper[b] == did):
                    raise CheckFailed(f"document {did}: repeated sentence {b[:16]!r} "
                                      f"{'kept' if b in out[did] else 'cut'}, first kept by {keeper[b]}")
        return {"attempted": 1, "failed": 0}

    def final_check(self) -> None:
        """The tick-by-tick output (the set-up tick and the measured
        ones) must equal the same chain run once over the concatenated
        input. This replays the whole chain, so only traced invocations
        run it (see README.md, Correctness check)."""
        once = self.path("once")
        os.makedirs(f"{once}/src", exist_ok=True)
        with open(f"{once}/src/all.json", "w") as f:
            for r in self.all_rows:
                f.write(json.dumps(r) + "\n")
        self._chain(once, NullTracer())
        a, b = self._final(self.path("chain")), self._final(once)
        if a != b:
            diff = sorted(set(a.items()) ^ set(b.items()))[:3]
            raise CheckFailed(f"tick-by-tick output differs from the one-shot chain: {diff}")


WORKLOADS = {w.name: w for w in (TicksHistory, StreamDedup)}
