"""Streaming MEDIA near-dup tier e2e (r9 verdict item 8): a planted
perceptual near-duplicate arriving in a LATER file must be dropped
against the accumulated multi-block key state (the base corpus is
never re-hashed), state stays bounded by the retention horizon, and
the tier agrees with the batch multi-block operator on the same split
— completing the incremental dedup story for all three modalities
(text / embeddings / media).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from snowalert_spark.streaming import neardup_media_stream_ingest

SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

BASE = ("the quick brown fox jumps over the lazy dog while the "
        "bright sun shines over the green quiet valley today")
# first 5 payload bytes uppercased: a byte-local perturbation like a
# recompression artifact — shifts at most the first pooling cells
# (hamming <= ~2), the same plant the batch tier's oracle pins
NEAR = BASE[:5].upper() + BASE[5:]
OTHER = ("completely different content about spark structured "
         "streaming joins state stores and watermark semantics here")
FRESH = ("numbers 12345 alphabets qwerty zxcvb entirely unrelated "
         "payload bytes for a genuinely distinct perceptual hash!!")


def _fingerprint(batch):
    """documents-as-media fingerprint for the (media_id, text) test
    stream: utf-8 payload bytes through the synthetic-parity dHash."""
    from snowalert_spark.functions import multimodal as MM

    media = batch.select(
        "media_id",
        F.encode("text", "utf-8").alias("data"),
        F.lit(None).cast("struct<format:string>").alias("meta"),
    )
    return MM.image_dhash(media, decode="fake")


def _write(src, name, rows, col="text"):
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as f:
        for media_id, payload in rows:
            f.write(json.dumps({"media_id": media_id, col: payload}) + "\n")


def _run(spark, tmp, retention=None, schema=SCHEMA, fingerprint=_fingerprint):
    neardup_media_stream_ingest(
        spark,
        src_path=f"{tmp}/src",
        dst_path=f"{tmp}/out",
        checkpoint=f"{tmp}/ckpt",
        state_dir=f"{tmp}/state",
        schema=schema,
        threshold=3,
        retention_batches=retention,
        fingerprint=fingerprint,
    )


def _out_ids(spark, tmp):
    return sorted(
        r["media_id"]
        for r in spark.read.schema(SCHEMA).parquet(f"{tmp}/out").collect()
    )


def test_cross_file_media_neardup_dropped(spark, tmp_path):
    tmp = str(tmp_path)
    _write(f"{tmp}/src", "f1.json", [(1, BASE), (2, OTHER)])
    _run(spark, tmp)
    assert _out_ids(spark, tmp) == [1, 2]

    # later file: 3 is a perceptual near-dup of 1, 4 is fresh
    _write(f"{tmp}/src", "f2.json", [(3, NEAR), (4, FRESH)])
    _run(spark, tmp)
    assert _out_ids(spark, tmp) == [1, 2, 4]


def test_in_batch_media_neardup_keeps_min_id(spark, tmp_path):
    tmp = str(tmp_path)
    _write(f"{tmp}/src", "f1.json", [(7, NEAR), (3, BASE), (9, OTHER)])
    _run(spark, tmp)
    assert _out_ids(spark, tmp) == [3, 9]


def test_media_state_bounded_by_retention(spark, tmp_path):
    tmp = str(tmp_path)
    _write(f"{tmp}/src", "f1.json", [(1, BASE)])
    _run(spark, tmp, retention=2)
    # within the horizon (current batch + one previous): dropped
    _write(f"{tmp}/src", "f2.json", [(3, NEAR)])
    _run(spark, tmp, retention=2)
    assert _out_ids(spark, tmp) == [1]
    _write(f"{tmp}/src", "f3.json", [(4, OTHER)])
    _run(spark, tmp, retention=2)
    # batch 0's state (media 1) has expired: its near-dup re-ingests
    _write(f"{tmp}/src", "f4.json", [(5, NEAR)])
    _run(spark, tmp, retention=2)
    assert _out_ids(spark, tmp) == [1, 4, 5]

    # state stores hold only the retention window's batch dirs
    hs = spark.read.schema("media_id long, bd array<int>, batch_id long").parquet(
        f"{tmp}/state/base_hashes"
    )
    assert {r["batch_id"] for r in hs.select("batch_id").distinct().collect()} <= {2, 3}


def test_matches_batch_multiblock_operator(spark, tmp_path):
    """Streaming tier agrees with the batch multi-block pair engine on
    the same split: survivors = batch minus media flagged against the
    already-ingested base at the same threshold."""
    from snowalert_spark.functions.dedup import hamming_pairs_multiblock

    tmp = str(tmp_path)
    f1 = [(1, BASE), (2, OTHER)]
    f2 = [(10, NEAR), (11, FRESH)]
    _write(f"{tmp}/src", "f1.json", f1)
    _run(spark, tmp)
    _write(f"{tmp}/src", "f2.json", f2)
    _run(spark, tmp)

    both = spark.createDataFrame(f1 + f2, "media_id long, text string")
    hashed = _fingerprint(both).select(
        "media_id", *[f"band_{r}" for r in range(8)]
    )
    pairs = hamming_pairs_multiblock(hashed, 3, blocks=6, combo=3).collect()
    base_ids = {d for d, _ in f1}
    flagged = {r["dup_of"] for r in pairs if r["media_id"] in base_ids} | {
        r["media_id"] for r in pairs if r["dup_of"] in base_ids
    }
    expected = sorted(
        [d for d, _ in f1] + [d for d, _ in f2 if d not in flagged]
    )
    assert _out_ids(spark, tmp) == expected


HASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("h", T.LongType()),
    ]
)


def _hash_bytes(batch):
    """fingerprint of a stream that carries its 64-bit hash as ``h``:
    the hash's eight bytes, high byte first."""
    return batch.select(
        "media_id",
        *[
            F.shiftright("h", 8 * (7 - r)).bitwiseAND(255).cast("int").alias(f"band_{r}")
            for r in range(8)
        ],
    )


# in-batch chain 1 < 2 < 3: each hash is its predecessor with three
# low bits flipped, so 2 ~ 1 and 3 ~ 2 at hamming 3, but 3 vs 1 is
# hamming 6 — a chain the smaller-id rule cuts at both links
CHAIN = 0x0123456789ABCDEF
CHAIN2 = CHAIN ^ 0b111
CHAIN3 = CHAIN2 ^ 0b111000
X, Y, Z = 0x5A17C0FFEE00D1CE, 0x3E8B9D2F61A4C705, 0x7FD0413B29E6A88C

# split name -> (files in arrival order, surviving ids); the two-file
# split is test_matches_batch_multiblock_operator
SPLITS = {
    # chain, exact copies in-batch and across batches, a same-id
    # re-delivery of a near hash, and a later exact copy of a hash the
    # first batch dropped (state holds survivors only)
    "chain_redelivery_exact": ([
        [(1, CHAIN), (2, CHAIN2), (3, CHAIN3), (4, X), (5, Y), (7, Y)],
        [(4, X ^ 1), (8, Y), (10, CHAIN3), (11, Z)],
    ], [1, 4, 5, 10, 11]),
    # one file carries the same (id, hash) twice next to a larger-id
    # exact copy: both rows of the smallest id stay, only the larger id
    # is a copy; the id's later re-delivery matches its own state row
    "same_id_twice": ([
        [(1, X), (6, Y), (6, Y), (8, Y), (9, Z)],
        [(6, Y), (12, X ^ 1)],
    ], [1, 6, 6, 9]),
}


def _batch_operator_survivors(spark, files):
    """Per file in arrival order: drop the larger id of every
    hamming_pairs_multiblock pair among the file's hashes together with
    the earlier files' survivors. The survivors join re-keyed to
    negative ids, so every cross pair has its batch hash on the larger
    side, a re-delivered id included."""
    from snowalert_spark.functions.dedup import hamming_pairs_multiblock

    survivors = []
    for rows in files:
        both = spark.createDataFrame(
            rows + [(-1 - d, h) for d, h in survivors], "media_id long, h long"
        )
        drop = {
            r["dup_of"]
            for r in hamming_pairs_multiblock(
                _hash_bytes(both), 3, blocks=6, combo=3
            ).collect()
            if r["dup_of"] >= 0
        }
        survivors += [(d, h) for d, h in rows if d not in drop]
    return sorted(d for d, _ in survivors)


@pytest.mark.parametrize("split", sorted(SPLITS))
def test_matches_batch_operator(spark, tmp_path, split):
    """One micro-batch pass agrees with the batch multi-block engine
    file by file: a hash is dropped when it pairs with a smaller id of
    its own file or with anything an earlier file kept."""
    tmp = str(tmp_path)
    files, want = SPLITS[split]
    for i, rows in enumerate(files):
        _write(f"{tmp}/src", f"f{i}.json", rows, col="h")
        _run(spark, tmp, schema=HASH_SCHEMA, fingerprint=_hash_bytes)
    expected = _batch_operator_survivors(spark, files)
    assert expected == want  # the split exercises what it says it does
    assert _out_ids(spark, tmp) == expected


def test_micro_batch_job_budget(spark, tmp_path, last_job_id):
    """A micro-batch against existing state hashes the batch once and
    runs one candidate join and one verification: its Spark job count
    stays under the budget (a separate in-batch pair pass ahead of the
    state pass ran 37 jobs here)."""
    tmp = str(tmp_path)
    _write(f"{tmp}/src", "f1.json", [(1, BASE), (2, OTHER)])
    _run(spark, tmp)
    _write(f"{tmp}/src", "f2.json", [(3, NEAR), (4, FRESH)])
    before = last_job_id()
    _run(spark, tmp)
    jobs = last_job_id() - before
    assert _out_ids(spark, tmp) == [1, 2, 4]
    assert jobs <= 28, f"second micro-batch ran {jobs} Spark jobs"


def test_default_fingerprint_keyed_by_any_id_col(spark, tmp_path):
    """The default fingerprint (the image dHash) reads and emits a fixed
    ``media_id`` column; a stream keyed by another id column still
    dedups through it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = str(tmp_path)
    os.makedirs(f"{tmp}/src")
    rows = [(7, NEAR), (3, BASE), (9, OTHER)]
    pq.write_table(
        pa.table(
            {
                "asset_id": pa.array([i for i, _ in rows], pa.int64()),
                "data": pa.array([t.encode() for _, t in rows], pa.binary()),
                "meta": pa.array(
                    [None] * len(rows), pa.struct([("format", pa.string())])
                ),
            }
        ),
        f"{tmp}/src/f1.parquet",
    )
    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("meta", T.StructType([T.StructField("format", T.StringType())])),
        ]
    )
    neardup_media_stream_ingest(
        spark,
        src_path=f"{tmp}/src",
        dst_path=f"{tmp}/out",
        checkpoint=f"{tmp}/ckpt",
        state_dir=f"{tmp}/state",
        schema=schema,
        fmt="parquet",
        threshold=3,
        id_col="asset_id",
    )
    out = spark.read.parquet(f"{tmp}/out").collect()
    assert sorted(r["asset_id"] for r in out) == [3, 9]
