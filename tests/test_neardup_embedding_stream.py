"""Streaming EMBEDDING near-dup tier e2e (round-8 verdict item 6).

A planted near-duplicate VECTOR arriving in a later file must be
dropped against the accumulated rplsh band state (the base corpus is
never re-signed), and the state must stay bounded by the retention
horizon — mirrors the text tier's contract in test_neardup_stream.
"""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import types as T

from snowalert_spark.streaming import neardup_embedding_stream_ingest

DIM = 8

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def _unit(seed: int) -> list[float]:
    # deterministic pseudo-random direction per seed
    v = [math.sin(seed * 37.0 + k * 11.0) + 0.01 for k in range(DIM)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _near(v: list[float]) -> list[float]:
    w = list(v)
    w[0] += 0.001  # cosine >> 0.99
    return w


def _write(src, name, rows):
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as f:
        for vec_id, emb in rows:
            f.write(json.dumps({"vec_id": vec_id, "embedding": emb}) + "\n")


def _run(spark, tmp, retention=None):
    neardup_embedding_stream_ingest(
        spark,
        src_path=f"{tmp}/src",
        dst_path=f"{tmp}/out",
        checkpoint=f"{tmp}/ckpt",
        state_dir=f"{tmp}/state",
        schema=SCHEMA,
        threshold=0.99,
        n_planes=16,
        bands=4,
        dim=DIM,
        retention_batches=retention,
    )


def _out_ids(spark, tmp):
    return sorted(
        r["vec_id"]
        for r in spark.read.schema(SCHEMA).parquet(f"{tmp}/out").collect()
    )


def test_cross_file_vector_neardup_dropped(spark, tmp_path):
    tmp = str(tmp_path)
    a, b = _unit(1), _unit(2)
    _write(f"{tmp}/src", "f1.json", [(1, a), (2, b)])
    _run(spark, tmp)
    assert _out_ids(spark, tmp) == [1, 2]

    # later file: 3 is a near-dup of 1, 4 is a fresh direction
    _write(f"{tmp}/src", "f2.json", [(3, _near(a)), (4, _unit(9))])
    _run(spark, tmp)
    assert _out_ids(spark, tmp) == [1, 2, 4]


def test_in_batch_vector_neardup_keeps_min_id(spark, tmp_path):
    tmp = str(tmp_path)
    a = _unit(5)
    _write(f"{tmp}/src", "f1.json", [(7, _near(a)), (3, a), (9, _unit(6))])
    _run(spark, tmp)
    assert _out_ids(spark, tmp) == [3, 9]


def test_vector_state_bounded_by_retention(spark, tmp_path):
    tmp = str(tmp_path)
    a = _unit(11)
    _write(f"{tmp}/src", "f1.json", [(1, a)])
    _run(spark, tmp, retention=1)
    _write(f"{tmp}/src", "f2.json", [(2, _unit(12))])
    _run(spark, tmp, retention=1)
    # batch 0's state (vec 1) fell out of the 1-batch horizon: its
    # near-dup is ingested again, like an event past the watermark
    _write(f"{tmp}/src", "f3.json", [(3, _near(a))])
    _run(spark, tmp, retention=1)
    assert _out_ids(spark, tmp) == [1, 2, 3]

    # compaction: only the newest batch's state survives on disk
    vec = spark.read.schema(
        "vec_id long, embedding array<double>, batch_id long"
    ).parquet(f"{tmp}/state/base_vectors")
    assert {r["vec_id"] for r in vec.select("vec_id").collect()} == {3}
    bk = spark.read.schema("vec_id long, b int, h int, batch_id long").parquet(
        f"{tmp}/state/base_buckets"
    )
    assert {r["vec_id"] for r in bk.select("vec_id").distinct().collect()} == {3}


def test_matches_batch_rplsh_operator(spark, tmp_path):
    """Streaming tier agrees with the batch pair finder on the same
    split: survivors = batch minus vectors cosine_pairs_rplsh pairs
    against the already-ingested base at the same (planes, bands)."""
    from snowalert_spark.functions.similarity import cosine_pairs_rplsh

    tmp = str(tmp_path)
    f1 = [(1, _unit(1)), (2, _unit(2))]
    f2 = [(10, _near(_unit(2))), (11, _unit(3))]
    _write(f"{tmp}/src", "f1.json", f1)
    _run(spark, tmp)
    _write(f"{tmp}/src", "f2.json", f2)
    _run(spark, tmp)

    both = spark.createDataFrame(f1 + f2, "vec_id long, embedding array<double>")
    pairs = cosine_pairs_rplsh(
        both, 0.99, n_planes=16, bands=4, dim=DIM
    ).collect()
    base_ids = {d for d, _ in f1}
    flagged = {
        r["vec_b"] for r in pairs if r["vec_a"] in base_ids
    } | {r["vec_a"] for r in pairs if r["vec_b"] in base_ids}
    expected = sorted(
        [d for d, _ in f1] + [d for d, _ in f2 if d not in flagged]
    )
    assert _out_ids(spark, tmp) == expected


def _turn(a: list[float], toward: list[float], deg: float) -> list[float]:
    """``a`` rotated by ``deg`` degrees in the plane it spans with
    ``toward``: the cosine between the two is exactly cos(deg)."""
    d = sum(x * t for x, t in zip(a, toward))
    p = [t - d * x for x, t in zip(a, toward)]
    n = math.sqrt(sum(x * x for x in p))
    r = math.radians(deg)
    return [math.cos(r) * x + math.sin(r) * y / n for x, y in zip(a, p)]


# in-batch chain 1 < 2 < 3 at 0, 6 and 12 degrees: 2 ~ 1 and 3 ~ 2
# (cosine 0.9945), but 3 vs 1 is 0.978 — a chain the smaller-id rule
# cuts at both links
CHAIN = _unit(21)
CHAIN2 = _turn(CHAIN, _unit(22), 6)
CHAIN3 = _turn(CHAIN, _unit(22), 12)

# split name -> (files in arrival order, surviving ids); the two-file
# split is test_matches_batch_rplsh_operator
SPLITS = {
    # chain, exact copies in-batch and across batches, a same-id
    # re-delivery of a near vector, and a later exact copy of a vector
    # the first batch dropped (state holds survivors only)
    "chain_redelivery_exact": ([
        [(1, CHAIN), (2, CHAIN2), (3, CHAIN3), (4, _unit(23)),
         (5, _unit(24)), (7, _unit(24))],
        [(4, _near(_unit(23))), (8, _unit(24)), (10, CHAIN3),
         (11, _unit(25))],
    ], [1, 4, 5, 10, 11]),
}


def _batch_operator_survivors(spark, files):
    """Per file in arrival order: drop the larger id of every
    cosine_pairs_rplsh pair among the file's vectors together with the
    earlier files' survivors. The survivors join re-keyed to negative
    ids, so every cross pair has its batch vector on the larger side,
    a re-delivered id included."""
    from snowalert_spark.functions.similarity import cosine_pairs_rplsh

    survivors = []
    for rows in files:
        both = spark.createDataFrame(
            rows + [(-1 - d, v) for d, v in survivors],
            "vec_id long, embedding array<double>",
        )
        drop = {
            r["vec_b"]
            for r in cosine_pairs_rplsh(
                both, 0.99, n_planes=16, bands=4, dim=DIM
            ).collect()
            if r["vec_b"] >= 0
        }
        survivors += [(d, v) for d, v in rows if d not in drop]
    return sorted(d for d, _ in survivors)


@pytest.mark.parametrize("split", sorted(SPLITS))
def test_matches_batch_operator(spark, tmp_path, split):
    """One micro-batch pass agrees with the batch pair finder file by
    file: a vector is dropped when it pairs with a smaller id of its own
    file or with anything an earlier file kept."""
    tmp = str(tmp_path)
    files, want = SPLITS[split]
    for i, rows in enumerate(files):
        _write(f"{tmp}/src", f"f{i}.json", rows)
        _run(spark, tmp)
    expected = _batch_operator_survivors(spark, files)
    assert expected == want  # the split exercises what it says it does
    assert _out_ids(spark, tmp) == expected


def test_micro_batch_job_budget(spark, tmp_path, last_job_id):
    """A micro-batch against existing state signs the batch once and
    runs one candidate join and one verification: its Spark job count
    stays under the budget (a separate in-batch pair pass ahead of the
    state pass ran 24 jobs here)."""
    tmp = str(tmp_path)
    a, b = _unit(1), _unit(2)
    _write(f"{tmp}/src", "f1.json", [(1, a), (2, b)])
    _run(spark, tmp)
    _write(f"{tmp}/src", "f2.json", [(3, _near(a)), (4, _unit(9))])
    before = last_job_id()
    _run(spark, tmp)
    jobs = last_job_id() - before
    assert _out_ids(spark, tmp) == [1, 2, 4]
    assert jobs <= 21, f"second micro-batch ran {jobs} Spark jobs"
