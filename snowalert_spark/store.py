"""Results store: Parquet-backed tables with append / overwrite / upsert.

The reference leans on warehouse ``MERGE INTO`` for alert dedupe and
suppression flagging (alert_queries_runner.py:64-94,
alert_suppressions_runner.py:24-31). Plain Parquet has no MERGE, so
this module provides the one genuinely new "physical" piece of the
port (SURVEY §7.2 step 1): a join-based read-merge-write upsert with
versioned atomic publication.

Layout: ``{base}/{table}/v=N/…parquet``. A writer publishes version
N+1 by writing the full new content into a fresh directory (Spark
emits _SUCCESS on completion) and readers always pick the highest
*complete* version — a crashed writer leaves an ignored partial dir.
Appends write additional part-files into the current version (parquet
append is file-atomic).

Single-pass commits: a MERGE (``upsert``) or ``update`` is one lazy
plan — scan the version it read, join, write the next version — run by
the write itself. Nothing is cached and nothing is counted up front:
the returned row counts come from a ``pyspark.sql.Observation`` on the
frame being written, which Spark fills during that same write job.
A merge's ``when_not_matched_by_source`` map (SQL ``WHEN NOT MATCHED BY
SOURCE``) updates target-only rows in that same pass, so a MERGE
followed by an UPDATE of the rows it did not match publishes once.

Frames built on the driver (metadata rows, dispatcher results, the
empty frame of an absent table) go through ``local_frame``: an Arrow
table handed straight to the JVM, so writing them starts no Python
worker, and naive datetimes are read in the session time zone.

100 TB note: rewriting a whole results table per merge is the
reference's own semantic (it rewrites matched rows warehouse-side),
but at scale the store should partition results by event date and
rewrite only partitions containing matches; ``upsert`` takes an
optional ``partition_filter`` for exactly that — rows outside the
filter are carried over untouched without being shuffled.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable
from functools import reduce

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from snowalert_spark.schema import RESULT_TABLES


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType
) -> DataFrame:
    """A small driver-built frame as an Arrow table typed by ``schema``.

    ``spark.createDataFrame(list)`` ships rows through a ``PythonRDD``,
    so every job over the frame starts Python workers; an Arrow table
    goes to the JVM as record batches instead. Timestamps are typed
    tz-naive, so Spark reads naive datetimes as wall-clock time in the
    session time zone (not the Python process's local zone)."""
    arrow_schema = to_arrow_schema(schema, timestamp_utc=False)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)


def merge_plan(
    target: DataFrame,
    incoming: DataFrame,
    on: list[str] | Column | Callable[[DataFrame, DataFrame], Column],
    schema: T.StructType,
    when_matched: dict[str, Column] | None,
    when_not_matched_insert: bool,
    when_not_matched_by_source: dict[str, Column] | None = None,
) -> tuple[DataFrame, Observation]:
    """The MERGE INTO statement as one lazy frame, shared by both stores.

    ``incoming`` columns are renamed ``src_<c>`` and joined to
    ``target`` on ``on`` (key names, a Column, or a function
    ``(target, source) -> Column``). The result has ``schema``'s
    columns: matched rows take ``when_matched`` updates, target-only
    rows take ``when_not_matched_by_source`` updates (as-is when
    absent), and source-only rows are inserted when
    ``when_not_matched_insert`` — otherwise the join is a left join, so
    no source-only row exists. The Observation yields
    ``{"updated", "inserted"}`` once the frame has been written."""
    src = incoming.select(
        *[F.col(c).alias(f"src_{c}") for c in incoming.columns]
    ).withColumn("__src", F.lit(True))
    if isinstance(on, list):
        cond = reduce(Column.__and__, [F.col(k) == F.col(f"src_{k}") for k in on])
    elif isinstance(on, Column):
        cond = on
    else:
        cond = on(target, src)
    how = "full_outer" if when_not_matched_insert else "left"
    joined = target.withColumn("__tgt", F.lit(True)).join(src, cond, how)
    has_tgt = F.col("__tgt").isNotNull()
    matched = has_tgt & F.col("__src").isNotNull()
    obs = Observation()
    joined = joined.observe(
        obs,
        F.count_if(matched).alias("updated"),
        F.count_if(~has_tgt).alias("inserted"),
    )
    upd = when_matched or {}
    by_src = when_not_matched_by_source or {}
    in_cols = set(incoming.columns)
    cols = [
        F.when(matched, upd.get(f.name, F.col(f.name)))
        .when(has_tgt, by_src.get(f.name, F.col(f.name)))
        .otherwise(F.col(f"src_{f.name}") if f.name in in_cols else F.lit(None))
        .cast(f.dataType)
        .alias(f.name)
        for f in schema
    ]
    return joined.select(*cols), obs


class ConcurrentWriteError(RuntimeError):
    """Another writer published a version this writer's merge did not
    see. The losing writer's output is discarded; the table on disk is
    the winner's complete version — never a mix. Re-run the merge to
    retry on top of the new current version."""


class ResultsStore:
    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base

    # -- layout ----------------------------------------------------------
    def _tdir(self, table: str) -> str:
        if not re.match(r"^\w+$", table):  # db.py:271-283 analog
            raise ValueError(f"bad table name {table!r}")
        return os.path.join(self.base, table)

    def _versions(self, table: str) -> list[int]:
        d = self._tdir(table)
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            m = re.match(r"^v=(\d+)$", name)
            if m and os.path.exists(os.path.join(d, name, "_SUCCESS")):
                out.append(int(m.group(1)))
        return sorted(out)

    def _current(self, table: str) -> str | None:
        vs = self._versions(table)
        return os.path.join(self._tdir(table), f"v={vs[-1]}") if vs else None

    def schema(self, table: str) -> T.StructType:
        return RESULT_TABLES[table]

    # -- read ------------------------------------------------------------
    def read(self, table: str) -> DataFrame:
        cur = self._current(table)
        if cur is None:
            return local_frame(self.spark, [], self.schema(table))
        return self.spark.read.schema(self.schema(table)).parquet(cur)

    def _align(self, table: str, df: DataFrame) -> DataFrame:
        return df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in self.schema(table)]
        )

    # -- write -----------------------------------------------------------
    def append(self, table: str, df: DataFrame) -> int:
        """Add ``df``'s rows to the current version; returns how many,
        counted during the write job."""
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        cur = self._current(table)
        if cur is None:
            self.overwrite(table, df)
        else:
            self._align(table, df).write.mode("append").parquet(cur)
        return obs.get["n"]

    def overwrite(
        self, table: str, df: DataFrame, expect_version: int | None = None
    ) -> None:
        """Publish the next version via CAS-rename: the new content is
        written to a hidden temp dir, then atomically renamed to
        ``v=N+1``. Two concurrent writers race the rename — posix
        refuses to rename onto a non-empty directory, so exactly one
        wins and the loser raises :class:`ConcurrentWriteError` with
        its temp output removed (no corrupt or merged state).

        ``expect_version`` (read-merge-write callers: the version the
        merge was computed FROM; -1 for an empty table) additionally
        fails the publish if any newer version appeared since the
        read — the lost-update guard for ``upsert``."""
        df = self._align(table, df)
        vs = self._versions(table)
        cur = vs[-1] if vs else -1
        if expect_version is not None and cur != expect_version:
            raise ConcurrentWriteError(
                f"{table}: merge read v={expect_version} but v={cur} is "
                "now current; re-run the merge"
            )
        nxt = cur + 1
        import uuid

        tmp = os.path.join(self._tdir(table), f".inflight-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(tmp)
        out = os.path.join(self._tdir(table), f"v={nxt}")
        try:
            os.rename(tmp, out)
        except OSError as e:
            shutil.rmtree(tmp, ignore_errors=True)
            raise ConcurrentWriteError(
                f"{table}: another writer published v={nxt} first"
            ) from e
        # retire superseded versions (best-effort; readers of the old
        # version already hold its file handles on posix)
        for v in vs[:-1]:
            shutil.rmtree(os.path.join(self._tdir(table), f"v={v}"), ignore_errors=True)

    def retain(self, table: str, keep: Column) -> dict[str, int]:
        """CAS-safe retention pass: republish the table keeping only
        rows satisfying ``keep``. Reads the current version, publishes
        the filtered set with ``expect_version`` pinned to it — a
        concurrent writer racing the pass loses exactly one side
        (ConcurrentWriteError, table never a mix), the same contract
        as ``upsert``. No-op (no new version) when nothing would be
        evicted. Returns {kept, evicted} row counts."""
        vs = self._versions(table)
        if not vs:
            return {"kept": 0, "evicted": 0}
        cur = vs[-1]
        df = self.read(table)
        kept = df.filter(keep)
        n_all = df.count()
        n_keep = kept.count()
        if n_keep == n_all:
            return {"kept": n_all, "evicted": 0}
        self.overwrite(table, kept, expect_version=cur)
        return {"kept": n_keep, "evicted": n_all - n_keep}

    # -- merge (the MERGE INTO replacement) ------------------------------
    def upsert(
        self,
        table: str,
        incoming: DataFrame,
        on: list[str] | Column | Callable[[DataFrame, DataFrame], Column],
        when_matched: dict[str, Column] | None = None,
        when_not_matched_insert: bool = True,
        partition_filter: Column | None = None,
        when_not_matched_by_source: dict[str, Column] | None = None,
    ) -> dict[str, int]:
        """Join-based MERGE, committed in one pass (see ``merge_plan``):

        - ``on``: join keys (list of column names) or a function
          ``(target, source) -> Column`` for theta-matches (the alert
          dedupe matches on document paths + a time bound, J8).
        - ``when_matched``: target-column updates as expressions over
          the joined row; source columns are available with ``src_``
          prefix.
        - rows of the target not matched stay as-is; unmatched source
          rows are inserted (reference WHEN NOT MATCHED ... INSERT).
        - ``partition_filter``: target rows NOT satisfying it are
          guaranteed unmatched and carried over without joining — the
          partition-pruned rewrite path at scale.
        - ``when_not_matched_by_source``: updates for the target rows
          no source row matched (SQL WHEN NOT MATCHED BY SOURCE). Not
          combinable with ``partition_filter`` (ValueError): the
          carried-over rows would silently miss it.

        Returns {"updated": n, "inserted": n}; ``updated`` counts
        matched rows only. The version read, the join and the write
        of the next version are one Spark job
        (plus the join's shuffle stages): nothing is cached, and the
        counts are observed on the joined rows as they are written.

        Concurrency: the merge is computed from the version current at
        read time; publish CAS-fails (:class:`ConcurrentWriteError`)
        if another writer got there first — one writer wins, the other
        discards cleanly and can re-run.
        """
        if when_not_matched_by_source and partition_filter is not None:
            raise ValueError(
                f"upsert({table!r}): when_not_matched_by_source would miss "
                "the rows outside partition_filter"
            )
        vs0 = self._versions(table)
        base_version = vs0[-1] if vs0 else -1
        target = self.read(table)
        if partition_filter is not None:
            hot = target.filter(partition_filter)
            cold = target.filter(~F.coalesce(partition_filter, F.lit(False)))
        else:
            hot, cold = target, None
        result, obs = merge_plan(
            hot,
            incoming,
            on,
            self.schema(table),
            when_matched,
            when_not_matched_insert,
            when_not_matched_by_source,
        )
        if cold is not None:
            result = result.unionByName(cold)
        self.overwrite(table, result, expect_version=base_version)
        return obs.get

    def export_chunks(self, table: str, chunk_rows: int = 100_000):
        """Large-result export (sars/run.py:55-72 analog). The
        reference pages with LIMIT/OFFSET — O(n²) re-scans; here
        ``toLocalIterator`` streams partitions to the driver once,
        re-chunked to the requested size."""
        buf: list = []
        for row in self.read(table).toLocalIterator():
            buf.append(row)
            if len(buf) >= chunk_rows:
                yield buf
                buf = []
        if buf:
            yield buf

    def update(
        self, table: str, condition: Column, updates: dict[str, Column]
    ) -> int:
        """UPDATE t SET ... WHERE cond — rewrite via when/otherwise in
        one pass; the returned match count is observed during the
        write. Publishes with ``expect_version`` pinned to the version
        read, so a concurrent writer's version is never overwritten."""
        vs0 = self._versions(table)
        base_version = vs0[-1] if vs0 else -1
        obs = Observation()
        target = self.read(table).observe(obs, F.count_if(condition).alias("n"))
        cols = []
        for f in self.schema(table):
            c = F.col(f.name)
            if f.name in updates:
                c = F.when(condition, updates[f.name]).otherwise(c)
            cols.append(c.cast(f.dataType).alias(f.name))
        self.overwrite(table, target.select(*cols), expect_version=base_version)
        return obs.get["n"]
