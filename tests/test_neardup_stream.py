"""Streaming near-dup dedup tier e2e (round-7 verdict item 7).

A planted near-duplicate arriving in a LATER file must be dropped
against the accumulated band state (no re-shingling of the base
corpus), and the state must stay bounded by the retention horizon —
the micro-batch analog of a streaming watermark.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from snowalert_spark.streaming import neardup_stream_ingest

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

BASE = ("the quick brown fox jumps over the lazy dog while the "
        "bright sun shines over the green quiet valley today")
# same text with one token changed near the end: shingle Jaccard ~0.9
NEAR = ("the quick brown fox jumps over the lazy dog while the "
        "bright sun shines over the green quiet meadow today")
OTHER = ("completely different content about spark structured "
         "streaming joins state stores and watermark semantics here")


def _write(src, name, rows):
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def _run(spark, tmp, retention=None):
    neardup_stream_ingest(
        spark,
        src_path=f"{tmp}/src",
        dst_path=f"{tmp}/out",
        checkpoint=f"{tmp}/ckpt",
        state_dir=f"{tmp}/state",
        schema=SCHEMA,
        threshold=0.8,
        retention_batches=retention,
    )


def _out_ids(spark, tmp):
    return sorted(
        r["doc_id"] for r in spark.read.schema(SCHEMA).parquet(f"{tmp}/out").collect()
    )


def test_cross_file_neardup_dropped(spark, tmp_path):
    tmp = str(tmp_path)
    _write(f"{tmp}/src", "f1.json", [(1, BASE), (2, OTHER)])
    _run(spark, tmp)
    assert _out_ids(spark, tmp) == [1, 2]

    # later file: 3 is a near-dup of 1 (one-token mutation), 4 is new,
    # 5 is a byte-exact redelivery of 2
    _write(f"{tmp}/src", "f2.json", [(3, NEAR), (4, "brand new unseen text "
                                                   "with many original tokens"), (5, OTHER)])
    _run(spark, tmp)
    assert _out_ids(spark, tmp) == [1, 2, 4]


def test_in_batch_neardup_keeps_min_id(spark, tmp_path):
    tmp = str(tmp_path)
    _write(f"{tmp}/src", "f1.json", [(7, NEAR), (3, BASE), (9, OTHER)])
    _run(spark, tmp)
    # 3 < 7 and they are near-dups: 7 dropped inside the batch
    assert _out_ids(spark, tmp) == [3, 9]


def test_state_bounded_by_retention(spark, tmp_path):
    tmp = str(tmp_path)
    _write(f"{tmp}/src", "f1.json", [(1, BASE)])
    _run(spark, tmp, retention=1)
    _write(f"{tmp}/src", "f2.json", [(2, OTHER)])
    _run(spark, tmp, retention=1)
    # batch 0's state (doc 1) has fallen out of the 1-batch horizon:
    # a near-dup of doc 1 is ingested again, like an event past the
    # watermark
    _write(f"{tmp}/src", "f3.json", [(3, NEAR)])
    _run(spark, tmp, retention=1)
    assert _out_ids(spark, tmp) == [1, 2, 3]

    # the state stores were compacted: only the newest batch survives
    sh = spark.read.schema("doc_id long, s string, batch_id long").parquet(
        f"{tmp}/state/base_shingles"
    )
    assert {r["doc_id"] for r in sh.select("doc_id").distinct().collect()} == {3}
    bk = spark.read.schema(
        "doc_id long, band int, band_hash string, batch_id long"
    ).parquet(f"{tmp}/state/base_buckets")
    assert {r["doc_id"] for r in bk.select("doc_id").distinct().collect()} == {3}


# in-batch chain 1 < 2 < 3: each doc is its predecessor with one end
# token changed (Jaccard 12/14), so 2 ~ 1 and 3 ~ 2, but 3 vs 1 is
# 11/15 — a chain the smaller-id rule cuts at both links
CHAIN = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november oscar"
CHAIN2 = CHAIN.rsplit(" ", 1)[0] + " papa"
CHAIN3 = "quebec " + CHAIN2.split(" ", 1)[1]
SHORT = "tiny doc"  # fewer than k=3 tokens: no shingles, never a candidate

# split name -> (files in arrival order, surviving ids)
SPLITS = {
    "two_files": ([
        [(1, BASE), (2, OTHER)],
        [(10, NEAR), (11, "fresh text nothing like anything else "
                          "in this tiny corpus of documents")],
    ], [1, 2, 11]),
    # chain, short docs, exact copies in-batch and across batches, a
    # same-id re-delivery of near text, and a later exact copy of a doc
    # the first batch dropped (state holds survivors only)
    "chain_redelivery_short_exact": ([
        [(1, CHAIN), (2, CHAIN2), (3, CHAIN3), (4, SHORT), (5, SHORT),
         (6, BASE), (7, BASE)],
        [(6, NEAR), (8, BASE), (9, SHORT), (10, CHAIN3), (11, OTHER)],
    ], [1, 4, 6, 9, 10, 11]),
}


def _batch_operator_survivors(spark, files):
    """Per file in arrival order: exact-duplicate keep-min-id, then drop
    ``doc_b`` of every in-batch MinHash pair, then drop what
    cross_snapshot_minhash flags against earlier files' survivors."""
    from snowalert_spark.functions.dedup import (
        cross_snapshot_minhash,
        exact_dedup,
        minhash_lsh_pairs,
    )

    schema = "doc_id long, text string"
    survivors = []
    for rows in files:
        canon = {
            r["doc_id"]
            for r in exact_dedup(spark.createDataFrame(rows, schema))
            .filter("is_canonical").collect()
        }
        kept = [(d, t) for d, t in rows if d in canon]
        batch = spark.createDataFrame(kept, schema)
        drop = {r["doc_b"] for r in minhash_lsh_pairs(batch, threshold=0.8).collect()}
        if survivors:
            base = spark.createDataFrame(survivors, schema)
            drop |= {
                r["doc_id"]
                for r in cross_snapshot_minhash(batch, base, threshold=0.8).collect()
            }
        survivors += [(d, t) for d, t in kept if d not in drop]
    return sorted(d for d, _ in survivors)


@pytest.mark.parametrize("split", sorted(SPLITS))
def test_matches_batch_operator(spark, tmp_path, split):
    """The streaming tier must agree with the batch operators on the
    same split: per micro-batch, exact keep-min-id, the in-batch
    MinHash pairs' larger ids dropped, and the docs cross_snapshot_minhash
    flags against the already-ingested survivors dropped."""
    tmp = str(tmp_path)
    files, want = SPLITS[split]
    for i, rows in enumerate(files):
        _write(f"{tmp}/src", f"f{i}.json", rows)
        _run(spark, tmp)
    expected = _batch_operator_survivors(spark, files)
    assert expected == want  # the split exercises what it says it does
    assert _out_ids(spark, tmp) == expected


def test_micro_batch_job_budget(spark, tmp_path, last_job_id):
    """A micro-batch against existing state runs one candidate join and
    one verification over a once-shingled batch: its Spark job count
    stays under the budget (two separate in-batch and state passes, each
    shingling and bucketing the batch again, ran 41 jobs here)."""
    tmp = str(tmp_path)
    _write(f"{tmp}/src", "f1.json", [(1, BASE), (2, OTHER)])
    _run(spark, tmp)
    _write(f"{tmp}/src", "f2.json", [(3, NEAR), (4, "brand new unseen text "
                                                   "with many original tokens"), (5, OTHER)])
    before = last_job_id()
    _run(spark, tmp)
    jobs = last_job_id() - before
    assert _out_ids(spark, tmp) == [1, 2, 4]
    assert jobs <= 30, f"second micro-batch ran {jobs} Spark jobs"


def test_custom_id_and_text_columns(spark, tmp_path):
    """``id_col``/``text_col`` name the batch's columns everywhere,
    the bucket state included (band buckets used to come out keyed
    ``doc_id`` whatever ``id_col`` said, and the batch failed)."""
    tmp = str(tmp_path)
    schema = T.StructType([T.StructField("page_id", T.LongType()),
                           T.StructField("body", T.StringType())])
    for name, rows in [("f1.json", [(1, BASE), (2, OTHER)]),
                       ("f2.json", [(3, NEAR), (4, "brand new unseen text "
                                                   "with many original tokens")])]:
        os.makedirs(f"{tmp}/src", exist_ok=True)
        with open(f"{tmp}/src/{name}", "w") as f:
            for i, text in rows:
                f.write(json.dumps({"page_id": i, "body": text}) + "\n")
        neardup_stream_ingest(
            spark, f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt", f"{tmp}/state",
            schema, id_col="page_id", text_col="body",
        )
    out = spark.read.schema(schema).parquet(f"{tmp}/out")
    assert sorted(r["page_id"] for r in out.collect()) == [1, 2, 4]
    bk = spark.read.parquet(f"{tmp}/state/base_buckets")
    assert "page_id" in bk.columns and "doc_id" not in bk.columns
