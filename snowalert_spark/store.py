"""Results store: Parquet-backed tables with append / overwrite / upsert.

The reference leans on warehouse ``MERGE INTO`` for alert dedupe and
suppression flagging (alert_queries_runner.py:64-94,
alert_suppressions_runner.py:24-31). Plain Parquet has no MERGE, so
this module provides the one genuinely new "physical" piece of the
port (SURVEY §7.2 step 1): a join-based read-merge-write upsert with
versioned atomic publication.

Layout: ``{base}/{table}/v=N/…parquet``. Every write publishes
version N+1 through one routine (``_publish``): the new version's files
are filled into a hidden ``.inflight-*`` dir, which is then renamed to
``v=N+1``. Readers always pick the highest complete version, and a
crashed writer leaves only an ignored hidden dir. A superseded version
is retired to a tombstone (its ``_SUCCESS`` and data files removed, a
``_RETIRED`` marker left), so its slot stays non-empty and no late
rename can publish into it. An ``append`` writes its rows once into a
staging dir; the publish hard-links the current version's files and
the staged ones into the next version, so no row is rewritten and a
merge that read ``v=N`` can never drop them.

Single-pass commits: a MERGE (``upsert``) or ``update`` is one lazy
plan — scan the version it read, join, write the next version — run by
the write itself. Nothing is cached and nothing is counted up front:
the returned row counts come from a ``pyspark.sql.Observation`` on the
frame being written, which Spark fills during that same write job.
A merge's ``when_not_matched_by_source`` map (SQL ``WHEN NOT MATCHED BY
SOURCE``) updates target-only rows in that same pass, so a MERGE
followed by an UPDATE of the rows it did not match publishes once. A
merge whose source is only a set of keys (``on`` a single target
column) is planned as ``key IN (source)``: an existence join with the
source broadcast, so neither side is deduplicated or shuffled.

Rows built on the driver take one of two Arrow paths, and neither
starts a Python worker; naive datetimes are read in the session time
zone on both. ``append_rows`` (metadata records) writes them with
pyarrow as one parquet file and publishes it, so it runs no Spark job.
``local_frame`` (dispatcher results, the empty frame of an absent
table) hands them to the JVM as a frame that joins a Spark plan.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import uuid
from collections.abc import Callable
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from snowalert_spark.schema import RESULT_TABLES


def _arrow_rows(rows: list[tuple], schema: T.StructType) -> pa.Table:
    """``rows`` as an Arrow table typed by ``schema``, timestamps tz-naive."""
    return pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema, timestamp_utc=False),
    )


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType
) -> DataFrame:
    """A small driver-built frame as an Arrow table typed by ``schema``.

    ``spark.createDataFrame(list)`` ships rows through a ``PythonRDD``,
    so every job over the frame starts Python workers; an Arrow table
    goes to the JVM as record batches instead. Timestamps are typed
    tz-naive, so Spark reads naive datetimes as wall-clock time in the
    session time zone (not the Python process's local zone)."""
    return spark.createDataFrame(_arrow_rows(rows, schema), schema)


def merge_plan(
    target: DataFrame,
    incoming: DataFrame,
    on: str | list[str] | Column,
    schema: T.StructType,
    when_matched: dict[str, Column] | None,
    when_not_matched_insert: bool,
    when_not_matched_by_source: dict[str, Column] | None = None,
) -> tuple[DataFrame, Observation]:
    """The MERGE INTO statement as one lazy frame.

    ``incoming`` columns are renamed ``src_<c>`` and joined to
    ``target`` on ``on``: key names, or a Column over the target's
    columns and the ``src_``-prefixed source's. The result has
    ``schema``'s columns: matched rows take ``when_matched`` updates,
    target-only rows take ``when_not_matched_by_source`` updates (as-is
    when absent), and source-only rows are inserted when
    ``when_not_matched_insert`` — otherwise the join is a left join, so
    no source-only row exists. The Observation yields
    ``{"updated", "inserted"}`` once the frame has been written.

    ``on`` as a single name (a target column or nested field) makes
    ``incoming`` a key set: a target row matches when its key is IN
    ``incoming``'s one column. That is an existence join, so a key
    repeated in the source still matches its row once, and
    ``when_matched`` sees no source column. Nothing is inserted."""
    upd = when_matched or {}
    by_src = when_not_matched_by_source or {}
    if isinstance(on, str):
        if when_not_matched_insert:
            raise ValueError("a key-set merge inserts nothing")
        # the subquery is planned once, as a column the observation reads
        hit = target.withColumn(
            "__hit", F.coalesce(F.col(on).isin(incoming), F.lit(False))
        )
        obs = Observation()
        hit = hit.observe(
            obs, F.count_if("__hit").alias("updated"), F.lit(0).alias("inserted")
        )
        cols = [
            F.when(F.col("__hit"), upd.get(f.name, F.col(f.name)))
            .otherwise(by_src.get(f.name, F.col(f.name)))
            .cast(f.dataType)
            .alias(f.name)
            for f in schema
        ]
        return hit.select(*cols), obs
    src = incoming.select(
        *[F.col(c).alias(f"src_{c}") for c in incoming.columns]
    ).withColumn("__src", F.lit(True))
    if isinstance(on, list):
        on = reduce(Column.__and__, [F.col(k) == F.col(f"src_{k}") for k in on])
    how = "full_outer" if when_not_matched_insert else "left"
    joined = target.withColumn("__tgt", F.lit(True)).join(src, on, how)
    has_tgt = F.col("__tgt").isNotNull()
    matched = has_tgt & F.col("__src").isNotNull()
    obs = Observation()
    joined = joined.observe(
        obs,
        F.count_if(matched).alias("updated"),
        F.count_if(~has_tgt).alias("inserted"),
    )
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


def _link_parquet(srcs: list[str | None], dst: str) -> None:
    """A complete version dir at ``dst`` holding hard links to the
    parquet files of every dir in ``srcs`` (``None`` entries skipped)."""
    os.makedirs(dst)
    for src in filter(None, srcs):
        for name in os.listdir(src):
            if name.endswith(".parquet"):
                os.link(os.path.join(src, name), os.path.join(dst, name))
    open(os.path.join(dst, "_SUCCESS"), "w").close()


def _retire(vdir: str) -> None:
    """Turn a published version into a tombstone: readers stop picking
    it once ``_SUCCESS`` is gone, its data files are removed, and the
    ``_RETIRED`` marker keeps the dir non-empty, so posix refuses a
    late writer's rename into the slot."""
    try:
        os.unlink(os.path.join(vdir, "_SUCCESS"))
        open(os.path.join(vdir, "_RETIRED"), "w").close()
        names = os.listdir(vdir)
    except FileNotFoundError:  # another publish retired it first
        return
    for name in names:
        if name != "_RETIRED":
            with contextlib.suppress(OSError):
                os.unlink(os.path.join(vdir, name))


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
    def _inflight(self, table: str) -> str:
        return os.path.join(self._tdir(table), f".inflight-{uuid.uuid4().hex}")

    def _publish(
        self,
        table: str,
        fill: Callable[[str, str | None], None],
        expect_version: int | None = None,
    ) -> None:
        """The one commit of every write: ``fill(tmp, current_dir)``
        writes the complete next version into a fresh hidden dir, which
        is then renamed to ``v=N+1``. Two writers race the rename —
        posix refuses to rename onto a non-empty directory, so exactly
        one wins and the loser raises :class:`ConcurrentWriteError` with
        its hidden dir removed (no corrupt or merged state).

        A failure counts as lost to another writer only when a newer
        version is listed afterwards (that covers a version retired
        while ``fill`` read it); any other error is re-raised as is. A
        version that appeared while ``fill`` ran fails the publish
        before the rename. One that appears between that re-list and
        the rename may already have retired ``v=N+1``; the slot is then
        a non-empty tombstone, so the rename fails the same way instead
        of publishing a version no reader picks.

        ``expect_version`` (read-merge-write callers: the version the
        merge was computed FROM; -1 for an empty table) additionally
        fails the publish if any newer version appeared since the
        read — the lost-update guard for ``upsert`` and ``update``."""
        vs = self._versions(table)
        cur = vs[-1] if vs else -1
        if expect_version is not None and cur != expect_version:
            raise ConcurrentWriteError(
                f"{table}: merge read v={expect_version} but v={cur} is "
                "now current; re-run the merge"
            )
        tdir = self._tdir(table)
        out = os.path.join(tdir, f"v={cur + 1}")
        tmp = self._inflight(table)
        try:
            fill(tmp, os.path.join(tdir, f"v={cur}") if vs else None)
            if self._versions(table)[-1:] != vs[-1:]:
                raise FileExistsError(out)  # never rename into a retired slot
            os.rename(tmp, out)
        except BaseException as e:
            shutil.rmtree(tmp, ignore_errors=True)
            if isinstance(e, Exception) and self._versions(table)[-1:] != vs[-1:]:
                raise ConcurrentWriteError(
                    f"{table}: another writer published v={cur + 1} first"
                ) from e
            raise
        # retire superseded versions (best-effort). The previous one stays
        # for readers that planned on it; a write still reading an older
        # one fails above as lost.
        for v in vs[:-1]:
            _retire(os.path.join(tdir, f"v={v}"))

    def append(self, table: str, df: DataFrame) -> int:
        """Publish the current rows plus ``df``'s as the next version;
        returns how many rows ``df`` added, counted during its write.

        ``df`` is written once into a hidden staging dir, and the
        publish hard-links the current version's files and the staged
        ones into the next version. Appends commute, so an append that
        loses the publish to a newer version relinks on top of it. An
        empty append publishes nothing once the table exists."""
        obs = Observation()
        df = self._align(table, df.observe(obs, F.count(F.lit(1)).alias("n")))
        staged = self._inflight(table)
        try:
            df.write.parquet(staged)
            return self._publish_staged(table, staged, obs.get["n"])
        finally:
            shutil.rmtree(staged, ignore_errors=True)

    def append_rows(self, table: str, rows: list[tuple]) -> int:
        """``append`` for a few flat rows built on the driver, with no
        Spark job: pyarrow writes them as one parquet file into the
        staging dir. Naive datetimes are read in the session time zone,
        as ``local_frame`` reads them, and stored as UTC instants."""
        arrow = _arrow_rows(rows, self.schema(table))
        tz = self.spark.conf.get("spark.sql.session.timeZone")
        for i, col in enumerate(arrow.columns):
            if pa.types.is_timestamp(col.type):
                instants = pc.assume_timezone(col, tz).cast(pa.timestamp("us", "UTC"))
                arrow = arrow.set_column(i, arrow.field(i).name, instants)
        staged = self._inflight(table)
        try:
            os.makedirs(staged)
            pq.write_table(
                arrow, os.path.join(staged, f"part-{uuid.uuid4().hex}.parquet")
            )
            return self._publish_staged(table, staged, len(rows))
        finally:
            shutil.rmtree(staged, ignore_errors=True)

    def _publish_staged(self, table: str, staged: str, n: int) -> int:
        """Publish the ``n`` rows staged in ``staged`` on top of the
        current version, relinking while newer versions beat it."""
        if n == 0 and self._versions(table):
            return 0
        while True:
            try:
                self._publish(
                    table, lambda tmp, cur: _link_parquet([cur, staged], tmp)
                )
                return n
            except ConcurrentWriteError:
                continue

    def overwrite(
        self, table: str, df: DataFrame, expect_version: int | None = None
    ) -> None:
        """Publish ``df`` as the whole next version (see ``_publish``
        for the CAS and ``expect_version`` contract)."""
        df = self._align(table, df)
        self._publish(table, lambda tmp, _cur: df.write.parquet(tmp), expect_version)

    def retain(self, table: str, keep: Column) -> dict[str, int]:
        """CAS-safe retention pass: republish the table keeping only
        rows satisfying ``keep``. Reads the current version, publishes
        the filtered set with ``expect_version`` pinned to it — a
        concurrent writer racing the pass loses exactly one side
        (ConcurrentWriteError, table never a mix), the same contract
        as ``upsert``. No-op (no new version) when nothing would be
        evicted. Returns {kept, evicted} row counts: both are observed
        in one scan with no exchange, so a no-op pass is one job."""
        vs = self._versions(table)
        if not vs:
            return {"kept": 0, "evicted": 0}
        cur = vs[-1]
        df = self.read(table)
        obs = Observation()
        df.observe(
            obs, F.count(F.lit(1)).alias("n"), F.count_if(keep).alias("kept")
        ).write.format("noop").mode("overwrite").save()
        n_all, n_keep = obs.get["n"], obs.get["kept"]
        if n_keep == n_all:
            return {"kept": n_all, "evicted": 0}
        self.overwrite(table, df.filter(keep), expect_version=cur)
        return {"kept": n_keep, "evicted": n_all - n_keep}

    # -- merge (the MERGE INTO replacement) ------------------------------
    def upsert(
        self,
        table: str,
        incoming: DataFrame,
        on: str | list[str] | Column,
        when_matched: dict[str, Column] | None = None,
        when_not_matched_insert: bool = True,
        partition_filter: Column | None = None,
        when_not_matched_by_source: dict[str, Column] | None = None,
    ) -> dict[str, int]:
        """Join-based MERGE, committed in one pass (see ``merge_plan``):

        - ``on``: join keys (list of column names) or a Column over
          the target's columns and the ``src_``-prefixed source's, for
          theta-matches (the alert dedupe matches on document paths +
          a time bound, J8); or
          one target column name, for a key-set merge: ``incoming``'s
          one column lists the keys to match, tested as ``key IN
          (incoming)`` (the suppression runners flag ids this way).
        - ``when_matched``: target-column updates as expressions over
          the joined row; source columns are available with ``src_``
          prefix.
        - rows of the target not matched stay as-is; unmatched source
          rows are inserted (reference WHEN NOT MATCHED ... INSERT).
        - ``partition_filter``: target rows NOT satisfying it are
          guaranteed unmatched and carried over without joining.
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
