"""Round-9 advice fixes, each pinned by a test:

1. retention semantics: the CURRENT batch counts toward N — a dup
   arriving WITHIN the horizon (N=2, next batch) IS dropped, and the
   previously-tested expiry side still holds;
2. foreachBatch replay idempotency: output and state are per-batch
   ``batch_id={b}`` overwrite directories, so a replayed batch (crash
   between the sink write and the checkpoint commit) rewrites its own
   directories instead of appending duplicates — and compaction never
   has a lose-the-whole-store window (directory deletes only);
3. cache hygiene: every frame cached inside process() is unpersisted
   at batch end, also when the batch raises (asserted via the storage
   registry);
4. ``corpus_version`` may not contain ``|`` — evict_stale_models
   splits model_key on the first ``|``, so a version containing one
   would mis-split (rejected at every model-key construction site).
"""

from __future__ import annotations

import json
import os
import shutil

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
        r["doc_id"]
        for r in spark.read.schema(SCHEMA).parquet(f"{tmp}/out").collect()
    )


def test_within_horizon_dup_is_dropped(spark, tmp_path):
    """retention_batches=2 = current batch + one previous: a near-dup
    arriving in the NEXT batch is inside the horizon and must be
    dropped (the r9 advice noted only the expiry side was tested)."""
    tmp = str(tmp_path)
    _write(f"{tmp}/src", "f1.json", [(1, BASE)])
    _run(spark, tmp, retention=2)
    _write(f"{tmp}/src", "f2.json", [(3, NEAR)])
    _run(spark, tmp, retention=2)
    assert _out_ids(spark, tmp) == [1]

    # ... and two batches later (past the horizon) it is re-ingested
    _write(f"{tmp}/src", "f3.json", [(5, NEAR)])
    _run(spark, tmp, retention=2)
    assert _out_ids(spark, tmp) == [1, 5]


def test_retention_one_means_in_batch_only(spark, tmp_path):
    """N=1: state from batch b participates in no later batch — the
    documented 'current batch counts toward N' reading."""
    tmp = str(tmp_path)
    _write(f"{tmp}/src", "f1.json", [(1, BASE)])
    _run(spark, tmp, retention=1)
    _write(f"{tmp}/src", "f2.json", [(2, NEAR)])
    _run(spark, tmp, retention=1)
    assert _out_ids(spark, tmp) == [1, 2]


def test_replayed_batch_does_not_duplicate_output(spark, tmp_path):
    """foreachBatch is at-least-once: simulate a replay (checkpoint
    lost after the sinks were written) and assert output + state hold
    exactly one copy per row — the per-batch overwrite layout."""
    tmp = str(tmp_path)
    _write(f"{tmp}/src", "f1.json", [(1, BASE), (2, OTHER)])
    _run(spark, tmp)
    first = _out_ids(spark, tmp)
    assert first == [1, 2]

    # replay: the checkpoint commit is gone, the sink/state writes are
    # not — the stream reprocesses f1.json as micro-batch 0 again
    shutil.rmtree(f"{tmp}/ckpt")
    _run(spark, tmp)
    assert _out_ids(spark, tmp) == first  # no duplicates

    sh = spark.read.schema("doc_id long, s string, batch_id long").parquet(
        f"{tmp}/state/base_shingles"
    )
    per_doc = sh.groupBy("doc_id", "s").count().collect()
    assert all(r["count"] == 1 for r in per_doc)  # state not doubled


def test_batch_caches_unpersisted(spark, tmp_path):
    """Every frame cached inside process() is unpersisted at batch end
    (r9 advice: keep/survivors leaked and accumulated across
    micro-batches until LRU eviction)."""
    tmp = str(tmp_path)
    spark.catalog.clearCache()  # isolate from other tests' caches
    _write(f"{tmp}/src", "f1.json", [(1, BASE), (2, OTHER)])
    _run(spark, tmp)
    jspark = spark._jsparkSession
    cached = jspark.sharedState().cacheManager().isEmpty()
    assert cached, "cached blocks leaked out of the micro-batch"


def _failing_tier_run(spark, tier: str, tmp: str) -> None:
    """One micro-batch through ``tier`` with ``dst_path`` a regular
    file, so the survivors' write raises after the batch was cached."""
    from pyspark.sql import functions as F

    from snowalert_spark import streaming

    dirs = dict(src_path=f"{tmp}/src", dst_path=f"{tmp}/out",
                checkpoint=f"{tmp}/ckpt", state_dir=f"{tmp}/state")
    open(dirs["dst_path"], "w").close()
    if tier == "embedding":
        _write_json(f"{tmp}/src", [{"vec_id": 1, "embedding": [1.0, 0.0]},
                                   {"vec_id": 2, "embedding": [0.0, 1.0]}])
        streaming.neardup_embedding_stream_ingest(
            spark, **dirs, schema="vec_id long, embedding array<double>",
            n_planes=8, bands=2, dim=2,
        )
    elif tier == "media":
        _write_json(f"{tmp}/src", [{"media_id": 1, "text": BASE},
                                   {"media_id": 2, "text": OTHER}])
        streaming.neardup_media_stream_ingest(
            spark, **dirs, schema="media_id long, text string",
            fingerprint=lambda b: b.select(
                "media_id", *[F.lit(r).alias(f"band_{r}") for r in range(8)]
            ),
        )
    else:
        _write(f"{tmp}/src", "f1.json", [(1, BASE), (2, OTHER)])
        ingest = (neardup_stream_ingest if tier == "neardup"
                  else streaming.substring_stream_ingest)
        ingest(spark, **dirs, schema=SCHEMA)


def _write_json(src, rows):
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "f1.json"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)


@pytest.mark.parametrize("tier", ["neardup", "embedding", "media", "substring"])
def test_failed_batch_caches_unpersisted(spark, tmp_path, tier):
    """A micro-batch that raises unpersists what it cached too: without
    that, every failed attempt left its cached frames in the session."""
    from pyspark.errors import StreamingQueryException

    spark.catalog.clearCache()  # isolate from other tests' caches
    with pytest.raises(StreamingQueryException):
        _failing_tier_run(spark, tier, str(tmp_path))
    cached = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert cached, "a failed micro-batch leaked cached blocks"


def test_corpus_version_pipe_rejected(spark):
    from snowalert_spark.functions.bpe import trained_merges
    from snowalert_spark.functions.similarity import (
        trained_centroid_rows,
        validate_corpus_version,
    )
    from snowalert_spark.store import ResultsStore

    with pytest.raises(ValueError, match=r"\|"):
        validate_corpus_version("v1|evil")

    docs = spark.createDataFrame(
        [(1, "aa ab"), (2, "ab ab")], "doc_id long, text string"
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    store = object()  # never reached: validation precedes store use

    with pytest.raises(ValueError, match=r"\|"):
        trained_merges(spark, "v|1", docs, 2, store=store)
    with pytest.raises(ValueError, match=r"\|"):
        trained_centroid_rows(spark, "v|1", vecs, k=1, iters=1, store=store)
