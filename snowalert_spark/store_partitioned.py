"""Date-partitioned results store: the 100 TB merge path.

``ResultsStore`` (store.py) publishes whole-table versions — correct,
but a merge rewrite costs O(table). At cluster scale the alerts table
is append-mostly with updates confined to the trailing ingest window
(the 90-minute re-scan + 1-day violation cutoff), so this variant
partitions each table by a date derived from its time column and
versions **per partition**: ``{base}/{table}/date=D/v=N``.

- ``append`` writes only the partitions present in the incoming batch.
- ``upsert`` computes the set of *hot* dates (incoming dates ∪ match
  window) and runs the join-merge against those partitions only; cold
  partitions are untouched files — zero read, zero shuffle, zero
  rewrite. Merge cost is O(hot window), independent of table size.
- readers union the latest complete version of every partition, and
  partition pruning applies to date-bounded queries.

The merge semantics (match condition, src_ columns, counters) are
shared with ResultsStore via the same merge-plan builder,
``store.merge_plan``.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from snowalert_spark.schema import RESULT_TABLES
from snowalert_spark.store import ConcurrentWriteError, local_frame, merge_plan

TIME_COLS = {
    "alerts": "event_time",
    "violations": "alert_time",
    "query_metadata": "event_time",
    "run_metadata": "event_time",
    "ingestion_metadata": "event_time",
}


class PartitionedResultsStore:
    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base

    def schema(self, table: str):
        return RESULT_TABLES[table]

    def _tdir(self, table: str) -> str:
        if not re.match(r"^\w+$", table):
            raise ValueError(f"bad table name {table!r}")
        return os.path.join(self.base, table)

    def _partitions(self, table: str) -> list[str]:
        d = self._tdir(table)
        if not os.path.isdir(d):
            return []
        return sorted(
            n[len("date=") :] for n in os.listdir(d) if n.startswith("date=")
        )

    def _versions(self, table: str, date: str) -> list[int]:
        d = os.path.join(self._tdir(table), f"date={date}")
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            m = re.match(r"^v=(\d+)$", name)
            if m and os.path.exists(os.path.join(d, name, "_SUCCESS")):
                out.append(int(m.group(1)))
        return sorted(out)

    def _current(self, table: str, date: str) -> str | None:
        vs = self._versions(table, date)
        return (
            os.path.join(self._tdir(table), f"date={date}", f"v={vs[-1]}")
            if vs
            else None
        )

    def _with_date(self, table: str, df: DataFrame) -> DataFrame:
        tc = TIME_COLS[table]
        return df.withColumn(
            "__date",
            F.coalesce(
                F.date_format(F.col(tc), "yyyy-MM-dd"), F.lit("0000-00-00")
            ),
        )

    # -- read ------------------------------------------------------------
    def read(self, table: str, dates: list[str] | None = None) -> DataFrame:
        parts = self._partitions(table)
        if dates is not None:
            parts = [p for p in parts if p in set(dates)]
        paths = [p for p in (self._current(table, d) for d in parts) if p]
        if not paths:
            return local_frame(self.spark, [], self.schema(table))
        return self.spark.read.schema(self.schema(table)).parquet(*paths)

    # -- write -----------------------------------------------------------
    def _publish(
        self,
        table: str,
        date: str,
        df: DataFrame,
        expect_version: int | None = None,
    ) -> None:
        """CAS-rename publication per partition (same contract as
        ``ResultsStore.overwrite``): write to a hidden temp dir, rename
        atomically to ``v=N+1``; a concurrent writer racing the same
        partition loses the rename and raises
        :class:`~snowalert_spark.store.ConcurrentWriteError` with its
        temp output removed. ``expect_version`` guards read-merge-write
        callers against lost updates (-1 = partition did not exist at
        read time)."""
        vs = self._versions(table, date)
        cur = vs[-1] if vs else -1
        if expect_version is not None and cur != expect_version:
            raise ConcurrentWriteError(
                f"{table} date={date}: merge read v={expect_version} "
                f"but v={cur} is now current; re-run the merge"
            )
        nxt = cur + 1
        aligned = df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in self.schema(table)]
        )
        import uuid

        pdir = os.path.join(self._tdir(table), f"date={date}")
        tmp = os.path.join(pdir, f".inflight-{uuid.uuid4().hex}")
        aligned.write.mode("overwrite").parquet(tmp)
        out = os.path.join(pdir, f"v={nxt}")
        try:
            os.rename(tmp, out)
        except OSError as e:
            shutil.rmtree(tmp, ignore_errors=True)
            raise ConcurrentWriteError(
                f"{table} date={date}: another writer published v={nxt} first"
            ) from e
        for v in vs[:-1]:
            shutil.rmtree(
                os.path.join(pdir, f"v={v}"),
                ignore_errors=True,
            )

    # NOTE on the distinct-date collect()s below: partitions are
    # date-grained, so the collected set is bounded by the span of the
    # data in days (~365 rows/year of driver memory) — not by row
    # count. This is a driver-protocol collect, not a data collect; if
    # the partition grain ever becomes finer (hour, key), switch the
    # publish loop to a partitionBy writer.
    def append(self, table: str, df: DataFrame) -> int:
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        dated = self._with_date(table, df).cache()
        for (date,) in dated.select("__date").distinct().collect():
            part = dated.filter(F.col("__date") == date).drop("__date")
            cur = self._current(table, date)
            if cur is None:
                self._publish(table, date, part)
            else:
                part.select(
                    *[
                        F.col(f.name).cast(f.dataType).alias(f.name)
                        for f in self.schema(table)
                    ]
                ).write.mode("append").parquet(cur)
        dated.unpersist()
        return obs.get["n"]

    # -- partition-pruned merge -----------------------------------------
    def upsert(
        self,
        table: str,
        incoming: DataFrame,
        on: Callable[[DataFrame, DataFrame], Column],
        when_matched: dict[str, Column] | None = None,
        when_not_matched_insert: bool = True,
        window_from: dt.datetime | None = None,
        window_to: dt.datetime | None = None,
        prune_to_window: bool = False,
        when_not_matched_by_source: dict[str, Column] | None = None,
    ) -> dict[str, int]:
        """Join-merge against hot partitions only.

        Hot dates = dates of incoming rows ∪ [window_from, window_to]
        (the match window: a target row outside it can never match —
        same contract as the MERGE's EVENT_TIME bound).

        Keyed updates (suppression flags, handled markers, correlation
        ids) arrive as id-only frames without the table's time column;
        those derive hot dates from the window args alone, or fall back
        to every partition when no window is given (correct, just not
        pruned). ``__date`` for publishing is always computed on the
        merged output, which carries the full table schema.

        ``when_not_matched_by_source`` (updates for target rows no
        source row matched) makes every partition hot, and raises
        ValueError with a merge window: the pruned partitions would
        silently miss it."""
        if when_not_matched_by_source and (window_from or window_to):
            raise ValueError(
                f"upsert({table!r}): when_not_matched_by_source would miss "
                "the partitions outside the merge window"
            )
        tc = TIME_COLS[table]
        has_time = tc in incoming.columns
        incoming = incoming.cache()
        if has_time:
            dated_in = self._with_date(table, incoming)
            hot = {d for (d,) in dated_in.select("__date").distinct().collect()}
        else:
            if window_from and window_to and not prune_to_window:
                # An id-only source gives no evidence its matches lie
                # inside [window_from, window_to]; pruning hot dates to
                # the window alone would silently skip matches in other
                # partitions. Callers whose on-condition is genuinely
                # window-bounded opt in with prune_to_window=True.
                raise ValueError(
                    f"upsert({table!r}): incoming frame lacks the "
                    f"{tc!r} time column but a merge window was given; "
                    "pass prune_to_window=True only if the on-condition "
                    "cannot match outside the window"
                )
            hot = set() if (window_from and window_to) else set(self._partitions(table))
        if window_from and window_to:
            d = window_from.date()
            while d <= window_to.date():
                if self._current(table, d.isoformat()):
                    hot.add(d.isoformat())
                d += dt.timedelta(days=1)
        if when_not_matched_by_source:
            hot |= set(self._partitions(table))
        hot = sorted(hot)
        # lost-update guard: remember each hot partition's version as
        # read; publish CAS-fails if a concurrent writer moved it.
        # Partition publication stays per-date atomic — a conflict
        # aborts the remaining dates and the (idempotent) merge can be
        # re-run on top of the winner's state.
        base = {
            d: (self._versions(table, d)[-1] if self._versions(table, d) else -1)
            for d in hot
        }

        target = self.read(table, dates=hot).cache()
        out, obs = merge_plan(
            target,
            incoming,
            on,
            self.schema(table),
            when_matched,
            when_not_matched_insert,
            when_not_matched_by_source,
        )
        merged = self._with_date(table, out).cache()
        for date in {d for (d,) in merged.select("__date").distinct().collect()} | set(
            hot
        ):
            self._publish(
                table,
                date,
                merged.filter(F.col("__date") == date).drop("__date"),
                expect_version=base.get(date, -1),
            )
        merged.unpersist()
        target.unpersist()
        incoming.unpersist()
        return obs.get

    def update(
        self, table: str, condition: Column, updates: dict[str, Column]
    ) -> int:
        """UPDATE t SET ... WHERE cond, rewriting only partitions that
        contain matching rows (cold partitions untouched)."""
        full = self.read(table)
        hits = self._with_date(table, full.filter(condition)).cache()
        hot = {d for (d,) in hits.select("__date").distinct().collect()}
        n = hits.count()
        hits.unpersist()
        for date in sorted(hot):
            vs = self._versions(table, date)
            bv = vs[-1] if vs else -1
            part = self.read(table, dates=[date])
            cols = []
            for f in self.schema(table):
                c = F.col(f.name)
                if f.name in updates:
                    c = F.when(condition, updates[f.name]).otherwise(c)
                cols.append(c.cast(f.dataType).alias(f.name))
            self._publish(table, date, part.select(*cols), expect_version=bv)
        return n

    def touched_partitions(self, table: str) -> dict[str, int]:
        """Observability: partition → current version (lets tests prove
        cold partitions were not rewritten)."""
        return {
            d: self._versions(table, d)[-1]
            for d in self._partitions(table)
            if self._versions(table, d)
        }
