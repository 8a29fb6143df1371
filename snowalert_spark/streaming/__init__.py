"""Incremental / streaming ingest (reference §2.10: stage → pipe →
stream → task wiring).

Two equivalents, matching the reference's observable micro-batch
semantics (SURVEY §2.10: idempotent windowed batch + upsert instead of
watermarks):

- ``watermark_batch``: high-watermark incremental reads over an
  append-only table (the reference's stream-on-table consumed by a
  task); the cursor column is ``insert_id``/``event_time`` and the
  watermark persists in a checkpoint file.
- ``file_stream_ingest``: Structured Streaming file source with
  ``availableNow`` trigger + checkpoint — the pipe/auto-ingest analog:
  each invocation picks up exactly the files that arrived since the
  last one.
"""

from __future__ import annotations

import json
import operator
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def windowed_counts(
    events,
    time_col: str,
    group_cols: list[str],
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
):
    """Streaming tumbling/sliding windowed counts with late-data
    watermark (§2.10): the streaming form of baselines.hourly_counts.
    Append-mode emits a window once the watermark passes its end."""
    w = (
        F.window(time_col, window)
        if slide is None
        else F.window(time_col, window, slide)
    )
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(w.alias("w"), *group_cols)
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("slice_start"),
            F.col("w.end").alias("slice_end"),
            *group_cols,
            "n",
        )
    )


def sessionize_stream(
    events,
    key_col: str,
    time_col: str,
    gap_minutes: int = 60,
    idle_timeout: bool = False,
):
    """Custom stateful streaming operator: per-key session assembly
    with a gap threshold via ``applyInPandasWithState`` — the
    streaming analog of the correlation runner's 60-minute chaining
    (alert_processor.py:10-31). Each closed session emits one row
    (key, session_start, session_end, n_events); the open session per
    key lives in state.

    ``idle_timeout=True`` adds a ProcessingTimeTimeout that flushes
    sessions idle past the gap — for long-running production streams
    only. Leave it off for drain-style runs: a pending timeout makes
    the engine schedule batches forever, so
    ``query.processAllAvailable()`` never settles.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_s = gap_minutes * 60

    def fn(key, pdfs, state: GroupState):
        rows = []
        if idle_timeout and state.hasTimedOut:
            (s0, last, n) = state.get
            rows.append((key[0], s0, last, n))
            state.remove()
        else:
            ts = sorted(
                t.timestamp()
                for pdf in pdfs
                for t in pd.to_datetime(pdf[time_col])
            )
            if ts:
                if state.exists:
                    s0, last, n = state.get
                else:
                    s0, last, n = ts[0], ts[0], 0
                for t in ts:
                    if t - last > gap_s:
                        rows.append((key[0], s0, last, n))
                        s0, n = t, 0
                    last = t
                    n += 1
                state.update((s0, last, n))
                if idle_timeout:
                    state.setTimeoutDuration(gap_s * 1000)
        yield pd.DataFrame(
            rows, columns=[key_col, "session_start", "session_end", "n_events"]
        )

    return (
        events.groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=(
                f"{key_col} long, session_start double, session_end double, "
                "n_events long"
            ),
            stateStructType="session_start double, last_seen double, n long",
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if idle_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


class WatermarkBatch:
    """Exactly-once-per-row incremental batch consumption keyed on a
    monotonically increasing cursor column."""

    def __init__(self, checkpoint_path: str, cursor_col: str):
        self.path = checkpoint_path
        self.cursor_col = cursor_col

    def _load(self):
        if os.path.exists(self.path):
            with open(self.path) as f:
                return json.load(f)["watermark"]
        return None

    def _save(self, wm) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "w") as f:
            json.dump({"watermark": wm}, f, default=str)

    def read_increment(self, df: DataFrame) -> DataFrame:
        wm = self._load()
        return df if wm is None else df.filter(F.col(self.cursor_col) > F.lit(wm))

    def commit(self, df: DataFrame) -> None:
        row = df.agg(F.max(self.cursor_col).alias("m")).collect()[0]
        if row.m is not None:
            self._save(row.m)


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    time_col: str = "ts",
    watermark: str = "10 minutes",
    within_watermark: bool = True,
) -> DataFrame:
    """Streaming deduplication: drop repeat deliveries of the same
    logical event (at-least-once sources — SQS/Kinesis redelivery, the
    reference's re-scanned S3 window) keyed on ``key_cols``.

    ``within_watermark=True`` uses ``dropDuplicatesWithinWatermark``:
    state for a key is evictable once the watermark passes its event
    time + delay, so state size is bounded by the watermark horizon —
    the only form that survives an unbounded 100 TB stream. With
    ``False`` it falls back to plain ``dropDuplicates`` (exact, but
    state grows with distinct keys forever; only for bounded replays).
    """
    ev = events.withWatermark(time_col, watermark)
    if within_watermark:
        return ev.dropDuplicatesWithinWatermark(key_cols)
    return ev.dropDuplicates(key_cols)


def _batch_dir(path: str, batch_id: int) -> str:
    return os.path.join(path, f"batch_id={batch_id}")


def _read_batched_state(
    spark, path: str, schema_str: str, batch_id: int, retention_batches
) -> DataFrame:
    """State rows visible to micro-batch ``batch_id``, without the
    ``batch_id`` column: everything previously committed — rows from
    the CURRENT batch id are excluded, so a crashed attempt's partially
    written state can never match against its own replay — bounded
    below by the retention horizon. ``batch_id`` is a partition column in the batched layout,
    so both bounds prune whole directories instead of filtering rows.

    Pre-r10 state dirs used flat appended part files carrying batch_id
    as a DATA column; mixing those with batch_id= partition dirs makes
    Spark's partition discovery fail with an opaque 'conflicting
    directory structures' error, and the flat files could never be
    compacted away — so legacy layouts are rejected up front with a
    migration message instead (r10 advice)."""
    if os.path.isdir(path):
        legacy = [
            n
            for n in os.listdir(path)
            if os.path.isfile(os.path.join(path, n))
            and not n.startswith((".", "_"))
        ]
        if legacy:
            raise ValueError(
                f"legacy flat-layout state files under {path} "
                f"(e.g. {legacy[0]}): pre-r10 streams appended part "
                "files with batch_id as a data column, which cannot "
                "coexist with the batch_id= partition layout. Migrate "
                "each flat file into its batch_id=<b> directory (its "
                "batch_id column is constant per file) or start a "
                "fresh state_dir."
            )
        df = spark.read.schema(schema_str).parquet(path)
    else:
        df = spark.createDataFrame([], schema_str)
    df = df.filter(F.col("batch_id") < batch_id)
    if retention_batches is not None:
        df = df.filter(F.col("batch_id") > batch_id - retention_batches)
    return df.drop("batch_id")


def _compact_expired_state(
    paths, batch_id: int, retention_batches: int
) -> None:
    """Drop state partition directories past the retention horizon.
    A directory delete is idempotent and per-batch atomic — unlike the
    previous rewrite-then-swap compaction, there is no window where a
    crash loses live state (r9 advice)."""
    import shutil

    for path in paths:
        if not os.path.isdir(path):
            continue
        for name in os.listdir(path):
            if not name.startswith("batch_id="):
                continue
            try:
                b = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if b <= batch_id - retention_batches:
                shutil.rmtree(os.path.join(path, name), ignore_errors=True)


def _reader(spark: SparkSession, fmt: str, schema: T.StructType):
    """File-source stream reader; a CSV file's first line is its
    header, never a row."""
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader


def _run_batches(spark, src_path, fmt, schema, checkpoint, body) -> None:
    """Run ``body(batch, batch_id, cached)`` on each micro-batch of the
    files under ``src_path`` the checkpoint has not seen, then return
    (``availableNow``: the scheduler owns the cadence). Every frame the
    body appends to ``cached`` is unpersisted when its micro-batch
    ends, whether it succeeded or raised, so a failed batch leaks no
    cached blocks."""

    def process(batch: DataFrame, batch_id: int) -> None:
        cached: list[DataFrame] = []
        try:
            body(batch, batch_id, cached)
        finally:
            for df in cached:
                df.unpersist()

    (
        _reader(spark, fmt, schema)
        .load(src_path)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _tagged(batch_rows: DataFrame, state_rows: DataFrame) -> DataFrame:
    """The batch's rows together with the state's, each tagged with
    its side in ``in_state``."""
    return batch_rows.withColumn("in_state", F.lit(False)).unionByName(
        state_rows.withColumn("in_state", F.lit(True))
    )


def _candidate_pairs(
    batch_keys: DataFrame, state_keys: DataFrame, on: list[str], id_col: str
) -> DataFrame:
    """``(id_col, dup_of, in_state)`` candidates of one near-dup
    micro-batch: its key rows equi-join, on the columns ``on``, its own
    key rows together with the state's. A match counts when it comes
    from state, or from the batch with a smaller id, so an in-batch
    pair drops only its larger id."""
    same_key = reduce(
        operator.and_, [F.col(f"a.{c}") == F.col(f"b.{c}") for c in on]
    )
    return (
        batch_keys.alias("a")
        .join(
            _tagged(batch_keys, state_keys).alias("b"),
            same_key
            & (F.col("b.in_state") | (F.col(f"b.{id_col}") < F.col(f"a.{id_col}"))),
        )
        .select(
            F.col(f"a.{id_col}").alias(id_col),
            F.col(f"b.{id_col}").alias("dup_of"),
            F.col("b.in_state").alias("in_state"),
        )
        .distinct()
    )


def _verified_ids(cands, batch_rows, state_rows, id_col, payload, match):
    """Distinct ids of ``cands`` (:func:`_candidate_pairs`) whose
    ``match`` holds, for tiers with one payload row per id: ``match``
    is a Column over ``pa``, the candidate's own payload, and ``pb``,
    its ``dup_of``'s payload read from the side ``in_state`` names."""
    return (
        cands.join(batch_rows.select(id_col, F.col(payload).alias("pa")), id_col)
        .join(
            _tagged(batch_rows, state_rows).select(
                F.col(id_col).alias("dup_of"),
                "in_state",
                F.col(payload).alias("pb"),
            ),
            ["dup_of", "in_state"],
        )
        .filter(match)
        .select(id_col)
        .distinct()
    )


def _publish_survivors(sinks, dups, id_col: str, batch_id: int) -> None:
    """Write each ``(rows, path)`` sink, less the dropped ids ``dups``,
    to its ``batch_id={b}`` directory with per-directory OVERWRITE, so
    a replayed micro-batch rewrites exactly its own output and state
    (idempotent)."""
    for rows, path in sinks:
        rows.join(dups, id_col, "left_anti").write.mode("overwrite").parquet(
            _batch_dir(path, batch_id)
        )


def neardup_stream_ingest(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    checkpoint: str,
    state_dir: str,
    schema: T.StructType,
    fmt: str = "json",
    threshold: float = 0.8,
    k: int = 3,
    n_hashes: int = 24,
    rows_per_band: int = 4,
    retention_batches: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Streaming NEAR-dup ingest: the micro-batch form of
    :func:`~snowalert_spark.functions.dedup.cross_snapshot_minhash`.
    Each arriving file's documents are dropped when they are near-dups
    (shingle-Jaccard >= ``threshold``) of anything already ingested —
    boilerplate-mutated recrawls, not just byte-identical redeliveries
    (which :func:`dedup_stream` already handles with exact keys).

    Mechanics per micro-batch (``foreachBatch`` — the candidate join
    against accumulated state is not expressible with the built-in
    streaming dedup operators):

    1. exact-text dups inside the batch keep the smallest ``id_col``
       (one window over ``md5(text)``);
    2. the batch is shingled and band-bucketed ONCE, by the MinHash
       bucket builder the batch operators use
       (``dedup._shingle_buckets``); both frames are cached and feed
       every step below — the accumulated corpus is NEVER re-shingled
       or all-paired;
    3. one candidate join (:func:`_candidate_pairs`, shared with the
       embedding and media tiers) on (band, band_hash) against the
       batch's smaller ids and the persisted state buckets;
    4. one verification: candidates count shared shingles against the
       batch's own shingles together with the persisted state
       shingles, and set sizes are taken per (id, side) — so a doc
       re-delivered under an id already in state never mixes its
       shingles with the stored ones; a doc with any verified match
       (shingle-Jaccard >= ``threshold``) is dropped;
    5. survivors publish to ``dst_path``, and the batch's cached
       shingle and bucket rows of the survivors append to the state
       store, stamped with the micro-batch id (buckets depend only on
       a doc's own shingles, so no signature is recomputed).

    State is bounded: with ``retention_batches=N`` only state rows
    from the last N micro-batches participate in (and survive)
    matching — the band-state analog of a streaming watermark. The
    CURRENT batch counts toward N: state written in batch ``b``
    participates in batches ``b+1 .. b+N-1``, so ``N=1`` means
    in-batch dedup only (no cross-batch lookback) and ``N=2`` is a
    one-previous-batch horizon. A doc re-arriving after its original
    fell out of retention is ingested again, exactly like a late
    event past the watermark. Each batch compacts expired state away,
    so the stores hold at most N batches of shingle/bucket rows.

    Crash safety (r9 advice): every sink — the survivor output and
    both state stores — is laid out as one ``batch_id={b}`` partition
    directory per micro-batch, written with per-directory OVERWRITE.
    A batch replayed after a crash (foreachBatch is at-least-once)
    rewrites exactly its own directories, so output and state stay
    exactly-once at the directory level; state reads exclude the
    current batch id, so a crashed attempt's partial state can never
    self-match its own replay. Retention compaction deletes whole
    expired partition directories (no rewrite), which is idempotent
    and cannot lose live state mid-copy. Readers of ``dst_path`` see
    the micro-batch id as a ``batch_id`` provenance partition column.

    100 TB shape: state lives as two parquet relations keyed on
    8-byte hashes (band_hash md5 strings / xxhash-free shingle
    strings at this tier match the batch operator for oracle parity);
    the candidate join is hash-partitioned on (band, band_hash) and
    only candidate doc pairs touch the verification join. Mirrors the
    reference's stream->task incremental pattern
    (aws_cloudtrail.py:253-275: each tick processes only new files
    against results-table state).
    """
    from snowalert_spark.functions.dedup import _shingle_buckets, doc_shingles
    from snowalert_spark.functions.numeric import quantize

    sh_dir = os.path.join(state_dir, "base_shingles")
    bk_dir = os.path.join(state_dir, "base_buckets")

    def process(batch: DataFrame, batch_id: int, cached: list) -> None:
        # -- 1. in-batch exact dups keep the smallest id (cached: it
        # feeds the shingles and the survivors' write) ---------------------
        keep = batch.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
            ),
        ).filter(F.col("_rk") == 1).drop("_rk").cache()
        cached.append(keep)
        # -- 2. shingle and bucket the batch once --------------------------
        sh = doc_shingles(
            keep.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
            k,
        ).withColumnRenamed("doc_id", id_col).cache()
        bk = _shingle_buckets(sh, n_hashes, rows_per_band, id_col).cache()
        cached += [sh, bk]

        # -- 3. one candidate join: the batch's smaller ids and the
        # accumulated state together, each row tagged with its side ------
        base_sh = _read_batched_state(
            spark, sh_dir, f"{id_col} long, s string, batch_id long",
            batch_id, retention_batches,
        )
        base_bk = _read_batched_state(
            spark, bk_dir,
            f"{id_col} long, band int, band_hash string, batch_id long",
            batch_id, retention_batches,
        )
        cands = _candidate_pairs(bk, base_bk, ["band", "band_hash"], id_col)
        other_sh = _tagged(sh, base_sh)
        # -- 4. one verification; sizes per (id, side) keep a same-id
        # re-delivery apart from its stored namesake ----------------------
        sizes = other_sh.groupBy(id_col, "in_state").agg(F.count("*").alias("n"))
        na_ = sizes.filter(~F.col("in_state")).select(id_col, F.col("n").alias("na"))
        nb_ = sizes.select(
            F.col(id_col).alias("dup_of"), "in_state", F.col("n").alias("nb")
        )
        common = (
            cands.join(sh.select(id_col, F.col("s").alias("sa")), id_col)
            .join(
                other_sh.select(
                    F.col(id_col).alias("dup_of2"),
                    F.col("in_state").alias("in_state2"),
                    F.col("s").alias("sb"),
                ),
                (F.col("dup_of") == F.col("dup_of2"))
                & (F.col("in_state") == F.col("in_state2"))
                & (F.col("sa") == F.col("sb")),
            )
            .groupBy(id_col, "dup_of", "in_state")
            .agg(F.count("*").alias("c"))
        )
        j = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
        dups = (
            common.join(na_, id_col)
            .join(nb_, ["dup_of", "in_state"])
            .filter(quantize(j, 6) >= threshold)
            .select(id_col)
            .cache()
        )
        cached.append(dups)

        # -- 5. publish survivors + their state. sh and bk hold keep's
        # ids only, so the anti-join on dups leaves exactly the
        # survivors' rows
        _publish_survivors(
            [(keep, dst_path), (sh, sh_dir), (bk, bk_dir)], dups, id_col, batch_id
        )
        # drop expired state directories so the stores stay bounded
        if retention_batches is not None:
            _compact_expired_state((sh_dir, bk_dir), batch_id, retention_batches)

    _run_batches(spark, src_path, fmt, schema, checkpoint, process)


def neardup_embedding_stream_ingest(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    checkpoint: str,
    state_dir: str,
    schema: T.StructType,
    fmt: str = "json",
    threshold: float = 0.99,
    n_planes: int = 48,
    bands: int = 4,
    dim: int = 64,
    retention_batches: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Streaming EMBEDDING near-dup ingest — the vector-space arm of
    :func:`neardup_stream_ingest` (which covers exact + MinHash text).
    Each arriving file's vectors are dropped when their exact cosine
    to anything already ingested, or to a smaller id in the same
    micro-batch, reaches ``threshold``; candidates come from the
    deterministic rplsh band buckets (``similarity.rplsh_band_rows`` —
    fixed multiplicative-hash hyperplanes, so buckets computed in
    different micro-batches or sessions collide exactly like
    same-session ones).

    Mechanics per micro-batch (``foreachBatch``), the text tier's
    shape for one payload row per id:

    1. the batch is signed into band rows ONCE (cached for the
       candidate join and the state write);
    2. one candidate join (:func:`_candidate_pairs`) on (b, h) against
       the batch's smaller ids and the persisted band rows — the
       accumulated corpus is NEVER re-signed or all-paired;
    3. one verification (:func:`_verified_ids`): quantized exact cosine
       >= ``threshold`` against the match's vector, from the side the
       candidate came from, drops a vector;
    4. survivors append to ``dst_path``; their vectors + band rows
       append to the state store stamped with the micro-batch id.

    State is bounded exactly like the text tier: with
    ``retention_batches=N`` only the last N micro-batches' state rows
    participate in (and survive) matching — the current batch counts
    toward N (state from batch ``b`` participates in ``b+1..b+N-1``;
    ``N=1`` = in-batch dedup only) — and each batch drops expired
    state directories. A vector re-arriving after its original fell
    out of retention is ingested again, like a late event past a
    watermark. Output and state use the same per-batch
    ``batch_id={b}`` overwrite layout as the text tier (idempotent
    under foreachBatch replay; see :func:`neardup_stream_ingest`).
    100 TB shape: state is (id, 4-int band rows) + the vectors
    themselves; the candidate join moves ids only."""
    from snowalert_spark.functions.numeric import quantize
    from snowalert_spark.functions.similarity import cosine, rplsh_band_rows

    vec_dir = os.path.join(state_dir, "base_vectors")
    bk_dir = os.path.join(state_dir, "base_buckets")
    vec_schema = f"{id_col} long, {vec_col} array<double>, batch_id long"
    bk_schema = f"{id_col} long, b int, h int, batch_id long"

    def process(batch: DataFrame, batch_id: int, cached: list) -> None:
        batch = batch.cache()
        cached.append(batch)
        # -- 1. sign the batch once --------------------------------------
        vecs = batch.select(id_col, vec_col)
        bk = rplsh_band_rows(
            vecs, n_planes, bands, dim, id_col, vec_col
        ).withColumnRenamed("vid", id_col).cache()
        cached.append(bk)

        # -- 2. one candidate join, 3. one verification -------------------
        base_vec = _read_batched_state(
            spark, vec_dir, vec_schema, batch_id, retention_batches
        )
        base_bk = _read_batched_state(
            spark, bk_dir, bk_schema, batch_id, retention_batches
        )
        cands = _candidate_pairs(bk, base_bk, ["b", "h"], id_col)
        dups = _verified_ids(
            cands, vecs, base_vec, id_col, vec_col,
            quantize(cosine("pa", "pb"), 6) >= threshold,
        ).cache()
        cached.append(dups)

        # -- 4. publish survivors + their state -------------------------
        _publish_survivors(
            [(batch, dst_path), (vecs, vec_dir), (bk, bk_dir)], dups, id_col, batch_id
        )
        # drop expired state directories so the stores stay bounded
        if retention_batches is not None:
            _compact_expired_state((vec_dir, bk_dir), batch_id, retention_batches)

    _run_batches(spark, src_path, fmt, schema, checkpoint, process)


def neardup_media_stream_ingest(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    checkpoint: str,
    state_dir: str,
    schema: T.StructType,
    fmt: str = "json",
    threshold: int = 3,
    blocks: int = 6,
    combo: int = 3,
    retention_batches: int | None = None,
    id_col: str = "media_id",
    fingerprint=None,
) -> None:
    """Streaming MEDIA near-dup ingest — the perceptual-hash arm of
    :func:`neardup_stream_ingest` (text) / :func:`neardup_embedding_
    stream_ingest` (vectors), completing the incremental tier for all
    three modalities. Each arriving file's media rows are dropped when
    their 64-bit perceptual hash is within hamming ``threshold`` of
    anything already ingested, or of a smaller id in the same
    micro-batch; candidates come from the multi-block composite keys
    (``dedup.multiblock_key_rows`` — the Manku WWW'07 engine the batch
    tiers share), which are deterministic, so buckets computed in
    different micro-batches or sessions collide exactly like
    same-session ones.

    ``fingerprint`` maps a micro-batch DataFrame to ``(id_col,
    band_0..band_7)`` rows; default = the image dHash over the
    synthetic-parity decode (``multimodal.image_dhash(df, 'fake')``) —
    pass e.g. ``lambda b: multimodal.audio_fingerprint(b, 'real')``
    for other modalities. The (blocks, combo) shape is FIXED per
    stream (state holds key rows, so the shape cannot auto-reschedule
    mid-stream); the (6,3) default holds chance candidates O(n) to
    ~10^8 rows — start a fresh state dir at (8,5) beyond that.

    Mechanics per micro-batch (``foreachBatch``), the text tier's
    shape for one payload row per id:

    1. the batch is hashed ONCE (checkpointed), and exact copies keep
       the smallest ``id_col`` per hash, as the text tier does per
       ``md5(text)``: hamming 0 always verifies, so the drop set is the
       same, and a re-upload-heavy tick sends one id per distinct hash
       on (the batch engine's exact collapse). Only a LARGER id is a
       copy: rows that repeat the smallest id with its hash all stay,
       as the batch engine never pairs an id with itself;
    2. one candidate join (:func:`_candidate_pairs`) of the kept rows'
       composite keys on (ci, kv) against the batch's smaller ids and
       the persisted keys — the accumulated corpus is NEVER re-hashed
       or all-paired;
    3. one verification (:func:`_verified_ids`): popcount hamming
       within ``threshold`` of the match's hash bytes, from the side
       the candidate came from, drops a row;
    4. survivors publish to ``dst_path``; their hash rows + key rows
       land in the state stores.

    Retention, crash safety, and state layout follow the other two
    tiers exactly: ``retention_batches=N`` counts the current batch
    (N=1 = in-batch dedup only), every sink is a per-batch
    ``batch_id={b}`` overwrite directory (idempotent under replay),
    expired state dirs are deleted whole. 100 TB shape: state is
    (id, 8 bytes) + C(blocks,combo) longs per row — payloads never
    enter the stream's state or shuffles."""
    from snowalert_spark.functions import multimodal as MM
    from snowalert_spark.functions.dedup import hamming_bd, multiblock_key_rows

    if blocks - combo < threshold:
        raise ValueError(
            f"(blocks={blocks}, combo={combo}) loses recall at "
            f"hamming {threshold}: need blocks - combo >= threshold"
        )
    if fingerprint is None:
        def fingerprint(b: DataFrame) -> DataFrame:
            # image_dhash reads and emits a fixed media_id column
            return MM.image_dhash(
                b.select(F.col(id_col).alias("media_id"), "meta", "data"),
                decode="fake",
            ).withColumnRenamed("media_id", id_col)

    hash_dir = os.path.join(state_dir, "base_hashes")
    key_dir = os.path.join(state_dir, "base_keys")
    hash_schema = f"{id_col} long, bd array<int>, batch_id long"
    key_schema = f"{id_col} long, ci int, kv long, batch_id long"

    def process(batch: DataFrame, batch_id: int, cached: list) -> None:
        batch = batch.cache()
        cached.append(batch)
        # -- 1. hash once; exact copies keep the smallest id --------------
        bd = F.array(*[F.col(f"band_{r}") for r in range(8)])
        hashed = fingerprint(batch).select(
            id_col,
            bd.alias("bd"),
            (F.col(id_col) > F.min(id_col).over(Window.partitionBy(bd)))
            .alias("copy"),
        ).localCheckpoint()
        keep_h = hashed.filter(~F.col("copy")).select(id_col, "bd")

        # -- 2. one candidate join, 3. one verification -------------------
        base_h = _read_batched_state(
            spark, hash_dir, hash_schema, batch_id, retention_batches
        )
        base_k = _read_batched_state(
            spark, key_dir, key_schema, batch_id, retention_batches
        )
        keys = multiblock_key_rows(keep_h, blocks, combo, id_col)
        cands = _candidate_pairs(keys, base_k, ["ci", "kv"], id_col)
        dups = (
            _verified_ids(
                cands, keep_h, base_h, id_col, "bd",
                hamming_bd("pa", "pb") <= threshold,
            )
            .unionByName(hashed.filter("copy").select(id_col))
            .cache()
        )
        cached.append(dups)

        # -- 4. publish survivors + their state -------------------------
        _publish_survivors(
            [(batch, dst_path), (keep_h, hash_dir), (keys, key_dir)],
            dups, id_col, batch_id,
        )
        if retention_batches is not None:
            _compact_expired_state((hash_dir, key_dir), batch_id, retention_batches)

    _run_batches(spark, src_path, fmt, schema, checkpoint, process)


#: per-bucket ceiling on the tick membership probe's BUILD side (the
#: tick's distinct hashes / bucket count). A ShuffledHashJoin build
#: cannot spill, so past this the probe falls back to a sort-merge
#: join: the state side is still the bucketed in-place scan (no
#: Exchange — the flat-cost property), it just gains a spillable Sort,
#: and the batch side's sort spills too, so any tick size completes.
#: ~100 B/row in the UnsafeHashedRelation puts the default near 50 MB
#: of build memory per task — found empirically when a 500k-row sf10
#: tick (123M hashes over 64 buckets ≈ 1.9M rows/bucket) died with
#: SparkOutOfMemoryError("not enough memory to build hash map") while
#: the 100k-row ticks (≈380k rows/bucket) ran flat. Scale knob, not a
#: local[32] constant: it bounds per-task build memory, which is the
#: same contract on a cluster executor.
PROBE_BUILD_ROWS_PER_BUCKET_MAX = 512_000


def _probe_join_hint(n_batch_hashes: int | None, buckets: int) -> str:
    """Join-strategy dispatch for the tick's batch-vs-state membership
    probe (the PPJoin/BPE-style cost-based choice): ``shuffle_hash``
    while the per-bucket build fits comfortably in task memory,
    ``merge`` (sort-merge — spills gracefully, guide §3.1) past it.
    Pure function so tests pin both branches without running Spark."""
    if (
        n_batch_hashes is not None
        and n_batch_hashes > PROBE_BUILD_ROWS_PER_BUCKET_MAX * buckets
    ):
        return "merge"
    return "shuffle_hash"


class _BucketedFingerprintState:
    """Hash-bucketed persistent state for the streaming substring tier
    (r12 verdict item 1): one external Spark-catalog table of 16-byte
    fingerprint pairs, ``CLUSTERED BY (ha, hb) INTO buckets`` and
    ``PARTITIONED BY (batch_id)``.

    Why a catalog table: the r12 layout (plain per-batch parquet dirs)
    made every tick's batch-vs-state join re-shuffle the WHOLE state
    relation — per-tick cost grew with distinct-hashes-ever (2.15x
    last/first at ~104M accumulated fingerprints in the sf10 double
    run). A bucketed scan satisfies the join's hashpartitioning
    requirement by itself, so the tick join plans as a ShuffledHashJoin
    whose only Exchange is the (tick-sized) batch side: the state is
    scanned in place, one task per bucket, never re-shuffled or sorted
    (pinned by tests/test_streaming_substring.py). Per-tick cost is
    then O(state scan I/O) + O(batch shuffle) — flat in tick count.

    Layout properties the tiers rely on, preserved from the dir-based
    stores: ``batch_id={b}`` partition directories (state reads exclude
    the current batch id, so a crashed attempt never self-matches);
    per-batch replay overwrite (``overwrite_batch`` deletes the
    partition's files, drops its metadata, then appends — ALTER TABLE
    DROP PARTITION alone is metadata-only on external tables);
    retention expiry as whole-partition deletes.

    ``fold`` (compaction) bounds file count for long unbounded streams:
    every committed partition below the current batch rewrites into ONE
    partition labelled ``batch_id = -b`` (negative = folded at batch b;
    always below any live batch id, so reads keep seeing it). The fold
    write goes to a FRESH label before the source partitions drop, so
    no crash window loses state; a replayed fold that finds its label
    already registered only re-drops the sources. The fold itself is
    Exchange-free: bucketed scan → distinct (clustering already
    satisfied) → bucketed write. ``distinct`` also heals the one
    double-write window (crash between a fold's commit and its source
    drops), which is why duplicates can never accumulate.

    The bucket count is pinned in ``_meta.json`` at the table location:
    bucket ids live in file names, so re-creating the catalog entry
    (new session) MUST declare the count the files were written with —
    the persisted value always wins over the constructor's.
    """

    def __init__(self, spark: SparkSession, location: str, buckets: int):
        import hashlib

        self.spark = spark
        self.location = os.path.abspath(location)
        self.meta_path = os.path.join(self.location, "_meta.json")
        self.buckets = int(buckets)
        self.table = (
            "substring_state_"
            + hashlib.md5(self.location.encode()).hexdigest()[:12]
        )

    # -- setup ---------------------------------------------------------
    def ensure(self) -> None:
        if os.path.exists(self.meta_path):
            with open(self.meta_path) as f:
                self.buckets = int(json.load(f)["buckets"])
        elif os.path.isdir(self.location) and any(
            n.startswith("batch_id=") for n in os.listdir(self.location)
        ):
            raise ValueError(
                f"state location {self.location} holds pre-r13 unbucketed "
                "batch_id= directories but no _meta.json: the bucketed "
                "store cannot adopt them (bucket ids live in file names, "
                "so a bucketed scan over unbucketed files would silently "
                "miss matches). Rewrite each old partition through "
                "overwrite_batch on a fresh location, or start a fresh "
                "state_dir."
            )
        os.makedirs(self.location, exist_ok=True)
        exists = self.spark.catalog.tableExists(self.table)
        if not exists:
            self.spark.sql(
                f"""CREATE TABLE {self.table} (ha BIGINT, hb BIGINT)
                USING PARQUET
                PARTITIONED BY (batch_id BIGINT)
                CLUSTERED BY (ha, hb) SORTED BY (ha, hb)
                INTO {self.buckets} BUCKETS
                LOCATION '{self.location}'"""
            )
            # session restart over an existing store: re-adopt its
            # partitions into the fresh catalog entry
            self.spark.sql(f"ALTER TABLE {self.table} RECOVER PARTITIONS")
        if not os.path.exists(self.meta_path):
            os.makedirs(self.location, exist_ok=True)
            with open(self.meta_path, "w") as f:
                json.dump({"buckets": self.buckets}, f)

    # -- reads ---------------------------------------------------------
    def read_before(self, batch_id: int, retention_batches) -> DataFrame:
        """State rows visible to micro-batch ``batch_id``: everything
        previously committed (current batch excluded — replay safety),
        bounded below by the retention horizon. Both bounds are
        partition filters; fold labels (negative) pass the upper bound
        by construction and are only used on unbounded streams."""
        df = self.spark.table(self.table).filter(F.col("batch_id") < batch_id)
        if retention_batches is not None:
            df = df.filter(F.col("batch_id") > batch_id - retention_batches)
        return df.select("ha", "hb")

    def seen_in_state(self, batch_hashes: DataFrame, batch_id: int,
                      retention_batches,
                      n_batch_hashes: int | None = None) -> DataFrame:
        """The subset of ``batch_hashes`` (distinct (ha, hb) rows)
        already present in state — the tick's ONE state-relation pass.
        Shaped so the state side never exchanges: state is the stream
        side of the LeftSemi join (bucketed scan satisfies the join's
        distribution), the batch side shuffles into the bucket count.
        Normal ticks plan as a ShuffledHashJoin building per-partition
        hash maps over the batch side; when the caller reports a batch
        hash count past :data:`PROBE_BUILD_ROWS_PER_BUCKET_MAX` per
        bucket, the probe switches to a sort-merge join
        (:func:`_probe_join_hint`) — the hash build cannot spill and
        OOMs on very large ticks, the sorts spill — identical output
        either way (a hint only picks the physical strategy). State
        holds one row per hash, so the output IS the matched hash set;
        the defensive ``dropDuplicates`` costs only an output-sized
        (tick-bounded) exchange and makes even a mid-fold-crash
        double-row harmless to downstream counts."""
        hint = _probe_join_hint(n_batch_hashes, self.buckets)
        return (
            self.read_before(batch_id, retention_batches)
            .join(batch_hashes.hint(hint), ["ha", "hb"], "left_semi")
            .dropDuplicates(["ha", "hb"])
        )

    # -- writes --------------------------------------------------------
    def _append(self, df: DataFrame, batch_id: int) -> None:
        (
            df.select("ha", "hb")
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .partitionBy("batch_id")
            .bucketBy(self.buckets, "ha", "hb")
            .sortBy("ha", "hb")
            .format("parquet")
            .saveAsTable(self.table)
        )

    def _drop_partition(self, batch_id: int) -> None:
        import shutil

        shutil.rmtree(
            os.path.join(self.location, f"batch_id={batch_id}"),
            ignore_errors=True,
        )
        self.spark.sql(
            f"ALTER TABLE {self.table} DROP IF EXISTS "
            f"PARTITION (batch_id={batch_id})"
        )

    def overwrite_batch(self, df: DataFrame, batch_id: int) -> None:
        """Idempotent per-batch state write: a replayed batch first
        deletes its own partition (files AND metadata), then appends —
        per-partition overwrite semantics on the bucketed table."""
        self._drop_partition(batch_id)
        self._append(df, batch_id)

    def partitions(self) -> list[int]:
        return sorted(
            int(r[0].split("=", 1)[1])
            for r in self.spark.sql(f"SHOW PARTITIONS {self.table}").collect()
        )

    def expire(self, batch_id: int, retention_batches: int) -> None:
        for b in self.partitions():
            if b <= batch_id - retention_batches:
                self._drop_partition(b)

    def fold(self, batch_id: int) -> None:
        """Compact every committed partition below ``batch_id`` into
        one ``batch_id = -batch_id`` partition (file-count hygiene for
        unbounded streams; content unchanged). Write-new-then-drop-old:
        no crash window loses state, and a replayed fold whose label
        already exists skips straight to re-dropping sources."""
        target = -int(batch_id)
        parts = [b for b in self.partitions() if b < batch_id]
        sources = [b for b in parts if b != target]
        if not sources:
            return
        if target not in parts:
            folded = (
                self.spark.table(self.table)
                .filter(F.col("batch_id") < batch_id)
                .select("ha", "hb")
                .dropDuplicates(["ha", "hb"])
            )
            self._append(folded, target)
        for b in sources:
            self._drop_partition(b)


def substring_stream_ingest(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    checkpoint: str,
    state_dir: str,
    schema: T.StructType,
    fmt: str = "json",
    window: int = 40,
    retention_batches: int | None = None,
    retention_refresh: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    state_buckets: int = 64,
    compact_every: int | None = 16,
) -> None:
    """Streaming SUBSTRING dedup ingest — the incremental form of
    :func:`~snowalert_spark.functions.dedup.remove_repeated_substrings`
    (Lee et al. arXiv:2107.06499 keep-one removal) for a continuously
    growing corpus. Each arriving doc's length-``window`` sliding
    windows are cut from the text when their fingerprint has been seen
    before — in the accumulated state (an earlier micro-batch kept
    that content once already) or earlier in this batch by the same
    global (doc_id, pos) rule the batch operator uses. Docs are never
    DROPPED at this tier (that's the near-dup tiers' job): every doc
    lands, with its already-seen substrings excised.

    Equivalence: if the corpus arrives in ``(doc_id)`` order (any tick
    split), the concatenated output equals the batch operator run on
    the whole corpus, because the keep-one rule is prefix-monotone —
    a window's cut decision depends only on occurrences ordered before
    it (pinned by tests/test_streaming_substring.py). Out-of-id-order
    arrival is still deterministic per arrival order; it just answers
    "first SEEN" rather than "smallest id".

    Mechanics per micro-batch (``foreachBatch``):

    1. the batch's stride-1 window fingerprints (the shared
       ``_window_fingerprints`` 16-byte xxhash64 pair, flattened to
       two longs for the parquet state) aggregate to per-hash
       (n_occ, first occurrence) — map-side combined, so a hot
       boilerplate hash collapses per partition before the shuffle;
    2. a window is flagged for excision iff its hash exists in state
       (one membership probe of the batch's distinct hashes against
       the bucketed state table — the state side never exchanges) OR
       it repeats within the batch and is not the batch-first
       occurrence (and the hash is absent from state);
    3. the flagged windows, every one marked cut, run the batch
       operators' per-doc step (``dedup._substring_rows``: one groupBy,
       then the sorted excision fold); every doc publishes (clean_text,
       removed_chars, n_removed_windows) to a ``batch_id={b}`` output
       partition;
    4. the batch's DISTINCT fingerprints append to state (distinct —
       the kept-first occurrence's content survives in the output, so
       one state row per hash serves every future match).

    Crash safety follows the other tiers: output is one ``batch_id={b}``
    partition directory with per-directory OVERWRITE; state reads
    exclude the current batch id (a crashed attempt can't self-match)
    and state writes are per-partition overwrites. Retention note
    (r12 advice): because only hashes NEW to the store are written, a
    state row's batch_id is its FIRST-KEPT tick — with
    ``retention_batches`` set, expiry is a *first-kept-age* horizon,
    not a last-seen recency watermark: content that recurs every tick
    still expires at first-kept + retention, and exactly one duplicate
    occurrence is reintroduced per expiry cycle before its hash
    re-registers. That is the intended trade (state stays at distinct
    hashes per horizon, the minimum); use an unbounded store when
    recurrence must never slip through, or set
    ``retention_refresh=True`` for a true LAST-SEEN recency watermark:
    every tick re-appends all of its distinct hashes (not just the
    new-to-state ones) under its own batch_id, so a hash recurring
    within the horizon keeps sliding forward and never expires while
    it stays hot. The cost is state rows = sum over the horizon's
    ticks of each tick's distinct hashes (duplicates across
    partitions are harmless to the semi-join membership probe and are
    dropped whole with their partition at expiry) instead of the
    distinct-per-horizon minimum.

    100 TB shape (r12 verdict item 1): state is ONE catalog table of
    16-byte hash pairs, ``CLUSTERED BY (ha, hb) INTO state_buckets``
    (:class:`_BucketedFingerprintState`). The tick's batch-vs-state
    membership probe plans as a ShuffledHashJoin whose only Exchange
    is the tick's own (distinct) fingerprints — the state side is a
    bucketed scan, read in place, never re-shuffled and never sorted,
    so per-tick cost is O(state scan) I/O plus O(tick) shuffle instead
    of an O(state) exchange every tick (the r12 curve doubled by
    ~104M accumulated fingerprints; the plan is pinned by
    tests/test_streaming_substring.py). Giant ticks (batch hashes past
    :data:`PROBE_BUILD_ROWS_PER_BUCKET_MAX` per bucket — the hash
    build cannot spill and a 500k-row sf10 tick OOM'd it) dispatch the
    probe to a sort-merge join instead: the state side stays an
    Exchange-free bucketed scan, it just gains a spillable Sort, so
    any tick size completes (r13). ``compact_every`` folds committed
    partitions into one (Exchange-free bucketed rewrite) so file count
    stays bounded on unbounded streams.
    """
    from snowalert_spark.functions.dedup import (
        _REMOVAL_COLS,
        _substring_rows,
        _window_fingerprints,
    )

    if retention_refresh and retention_batches is None:
        raise ValueError(
            "retention_refresh only applies with retention_batches set "
            "(an unbounded store already never forgets)"
        )
    L = int(window)
    state = _BucketedFingerprintState(
        spark, os.path.join(state_dir, "seen_fingerprints"), state_buckets
    )
    state.ensure()

    def process(batch: DataFrame, batch_id: int, cached: list) -> None:
        if (
            compact_every
            and retention_batches is None
            and batch_id > 0
            and batch_id % compact_every == 0
        ):
            state.fold(batch_id)
        batch = batch.cache()
        cached.append(batch)
        wins = _window_fingerprints(
            batch.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            ),
            L,
            "doc_id",
            "text",
        ).select(
            "doc_id", "pos", F.col("h.a").alias("ha"), F.col("h.b").alias("hb")
        ).cache()
        cached.append(wins)

        # per-hash in-batch totals: count + batch-first occurrence
        totals = wins.groupBy("ha", "hb").agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("doc_id", "pos")).alias("first"),
        ).cache()
        cached.append(totals)
        # hashes already in state: every batch occurrence is cut. ONE
        # state pass per tick (cached; the state-append anti-join below
        # runs against this tick-sized set, not the state again). The
        # count materializes the cached totals (work every consumer
        # below needs anyway) and sizes the probe's join strategy —
        # giant ticks must sort-merge, not hash-build (see
        # _probe_join_hint; a 500k-row sf10 tick OOM'd the build).
        n_hashes = totals.count()
        seen = state.seen_in_state(
            totals.select("ha", "hb"), batch_id, retention_batches,
            n_batch_hashes=n_hashes,
        ).cache()
        cached.append(seen)
        # relevant hashes = repeated-in-batch ∪ already-in-state: only
        # their windows can be cut, so join the window stream against
        # THIS table instead of the full per-hash totals (r14, the
        # same shape r13 gave the batch substring ops): on a giant
        # tick the totals table is ≈ the window stream (near-unique
        # hashes), and wins ⋈ totals exchanged BOTH at stream size —
        # the relevant table is small whenever duplication is sparse,
        # so AQE broadcasts it and the window stream never exchanges
        # for this join (worst case it degrades to exactly the old
        # sort-merge). totals is already hash-partitioned by its own
        # groupBy, so the rel build adds no exchange either. Windows
        # of non-relevant hashes (n_occ = 1, unseen) were dropped by
        # the old filter; the inner join drops them earlier —
        # identical rows out (pinned by the streaming batch-equality
        # e2e tests).
        rel = (
            totals.join(
                seen.withColumn("all_cut", F.lit(True)), ["ha", "hb"], "left"
            )
            .filter((F.col("n_occ") >= 2) | F.col("all_cut").isNotNull())
        )
        flagged = (
            wins.join(rel, ["ha", "hb"])
            .filter(
                F.coalesce(F.col("all_cut"), F.lit(False))
                | (
                    (F.col("n_occ") >= 2)
                    & (F.struct("doc_id", "pos") != F.col("first"))
                )
            )
            .select("doc_id", "pos", F.lit(True).alias("cut"))
        )
        out = _substring_rows(batch, flagged, L, id_col, text_col).select(
            *_REMOVAL_COLS
        )
        out.write.mode("overwrite").parquet(_batch_dir(dst_path, batch_id))
        # state append: one row per batch hash NOT already in state
        # (totals is one row per hash; seen is the tick-sized subset
        # already present, so the anti-join never touches the state
        # relation a second time). A hash present in state cuts every
        # future occurrence regardless, so re-writing it only grows
        # the store — this keeps it at distinct-hashes-EVER, the
        # minimum. Deterministic under replay: the state read excludes
        # the current batch id, so a replayed batch computes the same
        # result and overwrites its own partition. With
        # retention_refresh, EVERY tick hash re-registers under this
        # batch_id so recurring content's horizon slides forward
        # (last-seen watermark) instead of anchoring at first-kept.
        state.overwrite_batch(
            totals.select("ha", "hb")
            if retention_refresh
            else totals.select("ha", "hb").join(
                seen, ["ha", "hb"], "left_anti"
            ),
            batch_id,
        )
        if retention_batches is not None:
            state.expire(batch_id, retention_batches)

    _run_batches(spark, src_path, fmt, schema, checkpoint, process)


def file_stream_ingest(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    checkpoint: str,
    schema: T.StructType,
    fmt: str = "json",
    transform=None,
) -> None:
    """Pipe analog: ingest newly-arrived files exactly once into a
    parquet landing dir. ``availableNow`` processes the backlog and
    stops — the reference's 1-minute task cadence is the scheduler's
    job, not the stream's."""
    stream = _reader(spark, fmt, schema).load(src_path)
    if transform is not None:
        stream = transform(stream)
    q = (
        stream.writeStream.format("parquet")
        .option("path", dst_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def file_stream_ingest_continuous(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    checkpoint: str,
    schema: T.StructType,
    fmt: str = "json",
    transform=None,
    processing_interval: str = "60 seconds",
):
    """Continuous pipe analog (reference: the 1-minute CloudTrail
    ingest task, src/connectors/aws_cloudtrail.py:270-275): a long-
    running ``processingTime`` micro-batch stream that picks up
    newly-arrived files each tick, exactly once per file across
    restarts (file-source + checkpoint guarantee).

    Returns the StreamingQuery — the caller owns its lifecycle
    (``stop()``), matching the reference where the warehouse task
    scheduler owns the cadence. At cluster scale the same code runs
    against an object-store prefix; ``maxFilesPerTrigger`` bounds a
    tick's intake so one giant backlog can't blow a micro-batch."""
    stream = (
        _reader(spark, fmt, schema)
        .option("maxFilesPerTrigger", "1000")
        .load(src_path)
    )
    if transform is not None:
        stream = transform(stream)
    return (
        stream.writeStream.format("parquet")
        .option("path", dst_path)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=processing_interval)
        .start()
    )


def curation_stream_ingest(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    checkpoint: str,
    schema: T.StructType,
    fmt: str = "json",
    audit_dir: str | None = None,
    eval_docs: DataFrame | None = None,
    k: int = 5,
    langs: tuple[str, ...] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
) -> None:
    """Streaming curation + decontamination gate — the micro-batch
    form of the batch funnel (workload.textops
    ``curation_filter_pipeline`` / ``curation_funnel_stats`` +
    ``functions.dedup.decontaminate_ngram``): every arriving document
    passes the composite quality gate (token count, composite quality,
    repetition, language allowlist — the SHARED rule chain in
    functions.text, so this path cannot drift from the batch oracle)
    and, when ``eval_docs`` is supplied, an n-gram decontamination
    rule (any distinct k-token shingle shared with the held-out eval
    set rejects the doc as ``contaminated`` — GPT-3 appendix C / The
    Pile collision rule, same shingling as the batch operator).

    Survivors land in ``batch_id={b}`` partitions of ``dst_path``
    carrying their gate signals; when ``audit_dir`` is set, each tick
    also writes its funnel accounting (source x outcome -> docs,
    tokens) so per-source loss rates are live per tick, not a
    day-later batch job.

    This tier is STATELESS by design: the gate rules are pure
    per-document expressions and the eval shingle set is fixed for
    the life of the stream (an eval suite is MBs against a growing
    corpus), loaded once and broadcast into every tick's probe. Tick
    cost is therefore O(tick) with NO dependence on how much corpus
    has passed — the flat-cost property the stateful dedup tiers have
    to earn with bucketed state comes free here. Chain this gate's
    output dir into a dedup tier's ``src_path`` for the full
    streaming corpus-ingestion pipeline (gate -> exact/near-dup ->
    substring), each stage picking up the previous stage's partitions
    exactly once via its own checkpoint.

    Crash safety matches the other tiers: one ``batch_id={b}``
    output (and audit) partition per micro-batch, written with
    per-directory OVERWRITE, so an at-least-once foreachBatch replay
    rewrites exactly its own directories. With no cross-batch state
    there is no self-match hazard at all.
    """
    from snowalert_spark.functions import text as X
    from snowalert_spark.functions.dedup import doc_shingles

    langs = tuple(langs) if langs else X.GATE_LANGS
    bench = None
    if eval_docs is not None:
        # fixed eval shingle set: hash once, keep hot for every tick
        bench = (
            doc_shingles(
                eval_docs.select(
                    F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("text"),
                ),
                k,
            )
            .select(F.xxhash64("s").alias("h"))
            .distinct()
            .cache()
        )
        bench.count()

    def process(batch: DataFrame, batch_id: int, cached: list) -> None:
        has_src = source_col in batch.columns
        src = (
            F.col(source_col) if has_src else F.lit("default")
        ).alias("source")
        sig = batch.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            F.col(lang_col).alias("lang"),
            src,
            *X.curation_signals(F.length(text_col), X.tokens(text_col)),
        )
        contaminated = None
        if bench is not None:
            hits = (
                doc_shingles(batch.select(
                    F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("text"),
                ), k)
                .select("doc_id", F.xxhash64("s").alias("h"))
                .join(F.broadcast(bench), "h", "left_semi")
                .select("doc_id")
                .distinct()
                .withColumn("chit", F.lit(True))
            )
            sig = sig.join(hits, "doc_id", "left")
            contaminated = F.coalesce(F.col("chit"), F.lit(False))
        out = sig.select(
            "doc_id",
            "text",
            "lang",
            "source",
            "n_tokens",
            "quality",
            "top_word_frac",
            F.coalesce(
                X.curation_outcome(langs, contaminated), F.lit("kept")
            ).alias("outcome"),
        ).cache()
        cached.append(out)
        out.filter(F.col("outcome") == "kept").drop("outcome").write.mode(
            "overwrite"
        ).parquet(_batch_dir(dst_path, batch_id))
        if audit_dir is not None:
            (
                out.groupBy("source", "outcome")
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_tokens").alias("n_tokens"),
                )
                .write.mode("overwrite")
                .parquet(_batch_dir(audit_dir, batch_id))
            )

    _run_batches(spark, src_path, fmt, schema, checkpoint, process)


def semantic_decontam_stream_ingest(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    checkpoint: str,
    schema: T.StructType,
    eval_vecs: DataFrame,
    threshold: float = 0.9,
    fmt: str = "json",
    audit_dir: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Streaming SEMANTIC decontamination — the embedding-space
    companion to :func:`curation_stream_ingest`'s n-gram rule
    (n-gram overlap misses paraphrased or template-rewritten eval
    leakage; embedding similarity catches it; production pipelines
    run both). Each arriving vector is scored by
    :func:`~snowalert_spark.functions.similarity.decontaminate_semantic`
    against a FIXED eval-set (max cosine to any eval vector);
    vectors reaching ``threshold`` are dropped, survivors land in
    ``batch_id={b}`` partitions, and ``audit_dir`` (when set) records
    every tick row's (nearest_eval_id, max_sim, contaminated) — the
    per-doc score table that makes threshold sweeps free.

    STATELESS like the curation gate: the eval suite is MBs and fixed
    for the stream's life (cached once here, broadcast into every
    tick's scoring join), so tick cost is O(tick × eval) with no
    dependence on corpus history. Chain after an embedding near-dup
    tier (``neardup_embedding_stream_ingest``) for the full streaming
    vector-ingestion pipeline.

    Crash safety: one ``batch_id={b}`` output (and audit) partition
    per micro-batch with per-directory OVERWRITE; no cross-batch
    state, so no self-match hazard.
    """
    from snowalert_spark.functions.similarity import decontaminate_semantic

    ev = eval_vecs.select(
        F.col(id_col).cast("long").alias(id_col), vec_col
    ).cache()
    ev.count()

    def process(batch: DataFrame, batch_id: int, cached: list) -> None:
        batch = batch.cache()
        cached.append(batch)
        scores = decontaminate_semantic(
            batch, ev, threshold, id_col=id_col, vec_col=vec_col
        ).cache()
        cached.append(scores)
        if audit_dir is not None:
            scores.write.mode("overwrite").parquet(_batch_dir(audit_dir, batch_id))
        keeps = batch.join(
            scores.filter("contaminated").select(id_col), id_col, "left_anti"
        )
        keeps.write.mode("overwrite").parquet(_batch_dir(dst_path, batch_id))

    _run_batches(spark, src_path, fmt, schema, checkpoint, process)


def bpe_encode_stream_ingest(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    checkpoint: str,
    schema: T.StructType,
    merges: list,
    fmt: str = "json",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Streaming BPE tokenization — the last stage of the streaming
    corpus-ingestion pipeline (gate -> near-dup -> substring ->
    TOKENIZE): every arriving document is encoded with a FIXED,
    previously-trained merge table (``functions.bpe`` trainer output)
    via the production vocab-join path
    (:func:`~snowalert_spark.functions.bpe.encode_docs_via_vocab`),
    landing ``(id, n_words, toks)`` in ``batch_id={b}`` partitions
    ready for shard packing.

    STATELESS like the gate tiers: the merge table is training-time
    state, fixed for the stream's life — a tokenizer must not drift
    mid-corpus — so tick cost is O(tick distinct words) segmentation
    plus one tick-sized encode exchange, independent of corpus
    history. Per-doc encoding is a pure function of (text, merges),
    so the streamed output over any tick split equals the batch
    encode of the whole corpus (pinned by the e2e test).

    Crash safety: one ``batch_id={b}`` output partition per
    micro-batch with per-directory OVERWRITE; no cross-batch state.
    """
    from snowalert_spark.functions.bpe import encode_docs_via_vocab

    merges = list(merges)

    def process(batch: DataFrame, batch_id: int, cached: list) -> None:
        out = encode_docs_via_vocab(
            batch, merges, id_col=id_col, text_col=text_col
        )
        out.write.mode("overwrite").parquet(_batch_dir(dst_path, batch_id))

    _run_batches(spark, src_path, fmt, schema, checkpoint, process)
