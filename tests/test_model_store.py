"""Cross-session persistence of trained IVF/PQ codebooks.

The reference keeps runner state in warehouse tables rather than
process memory (alert_queries_runner.py:64-94); the ANN analog here is
the ``trained_centroids`` sidecar table in the versioned ResultsStore.
A fresh driver session (simulated by clearing the process cache) must
reload a persisted codebook WITHOUT re-running k-means.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from snowalert_spark.functions import similarity as S
from snowalert_spark.store import ResultsStore
from snowalert_spark.tables import table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def model_dir():
    d = tempfile.mkdtemp(prefix="model_store_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _train_frame(spark):
    return table(spark, SF, "embeddings").filter(F.col("vec_id") < 64)


def test_persist_and_reload_without_retraining(spark, model_dir, monkeypatch):
    store = ResultsStore(spark, model_dir)
    version = "corpus-v1"

    S._CENTROID_CACHE.clear()
    first = sorted(
        (int(r["cell"]), tuple(float(x) for x in r["cent"]))
        for r in S.trained_centroids(
            spark, version, _train_frame(spark), k=4, iters=2, store=store
        ).collect()
    )
    assert len(first) == 4

    # the sidecar table now holds the codebook
    persisted = store.read("trained_centroids").filter(
        F.col("model_key") == S._model_key(version, 4, 2)
    )
    assert persisted.count() == 4

    # "new session": process cache gone; k-means must NOT run again
    S._CENTROID_CACHE.clear()

    def _boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("kmeans_fit re-ran despite persisted codebook")

    monkeypatch.setattr(S, "kmeans_fit", _boom)
    reloaded = sorted(
        (int(r["cell"]), tuple(float(x) for x in r["cent"]))
        for r in S.trained_centroids(
            spark, version, _train_frame(spark), k=4, iters=2, store=store
        ).collect()
    )
    assert reloaded == first


def test_distinct_model_keys_coexist(spark, model_dir):
    store = ResultsStore(spark, model_dir)
    S._CENTROID_CACHE.clear()
    a = S.trained_centroids(
        spark, "v1", _train_frame(spark), k=2, iters=1, store=store
    ).collect()
    b = S.trained_centroids(
        spark, "v1", _train_frame(spark), k=4, iters=1, store=store
    ).collect()
    assert len(a) == 2 and len(b) == 4
    keys = {
        r["model_key"]
        for r in store.read("trained_centroids").select("model_key").collect()
    }
    assert keys == {S._model_key("v1", 2, 1), S._model_key("v1", 4, 1)}


def test_env_var_opt_in(spark, model_dir, monkeypatch):
    monkeypatch.setenv("SNOWALERT_MODEL_DIR", model_dir)
    S._CENTROID_CACHE.clear()
    S.trained_centroids(spark, "env-v1", _train_frame(spark), k=2, iters=1)
    sidecar = ResultsStore(spark, model_dir).read("trained_centroids")
    assert sidecar.filter(F.col("model_key") == S._model_key("env-v1", 2, 1)).count() == 2


def test_pq_codebooks_persist(spark, model_dir, monkeypatch):
    """pq_codes threads the store through all m sub-trainers; a new
    session re-codes the corpus from persisted codebooks, bit-identical,
    with k-means disabled."""
    store = ResultsStore(spark, model_dir)
    emb = table(spark, SF, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    def run():
        rows = S.pq_codes(
            spark, "pqv1", emb, emb.filter(F.col("vec_id") < 64),
            dim=dim, m=4, k=4, iters=1, store=store,
        ).collect()
        return sorted(
            (int(r["vec_id"]), tuple(int(r[f"code_{s}"]) for s in range(4)))
            for r in rows
        )

    S._CENTROID_CACHE.clear()
    first = run()
    S._CENTROID_CACHE.clear()
    monkeypatch.setattr(
        S, "kmeans_fit",
        lambda *a, **kw: (_ for _ in ()).throw(AssertionError("retrained")),
    )
    assert run() == first


def test_bpe_merges_persist_and_reload_without_retraining(
    spark, model_dir, monkeypatch
):
    """The tokenizer analog: trained BPE merges persist in the
    trained_bpe_merges sidecar and a fresh session reloads them
    without re-running the trainer."""
    from snowalert_spark.functions import bpe as B

    store = ResultsStore(spark, model_dir)
    docs = table(spark, SF, "documents")

    B._MERGE_CACHE.clear()
    first = B.trained_merges(spark, "corpus-v1", docs, 3, store=store)
    assert len(first) == 3

    persisted = store.read("trained_bpe_merges").filter(
        F.col("model_key") == "corpus-v1|m=3|col=text"
    )
    assert persisted.count() == 3

    B._MERGE_CACHE.clear()

    def _boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("bpe_train re-ran despite persisted merges")

    monkeypatch.setattr(B, "bpe_train", _boom)
    reloaded = B.trained_merges(spark, "corpus-v1", docs, 3, store=store)
    assert reloaded == first
    # and the encode fold consumes the reloaded merges unchanged
    enc = docs.limit(5).select(
        B.encode_word(F.lit("the"), reloaded).alias("syms")
    ).collect()
    assert all(len(r["syms"]) >= 1 for r in enc)


def test_retention_evicts_stale_versions(spark, model_dir):
    """Round-8 verdict item 7: the model sidecars need GC. Train two
    corpus versions, evict one — stale rows gone, active keys survive
    byte-identical, and the reload path still skips retraining."""
    from snowalert_spark.functions import bpe as B
    from snowalert_spark.tables import table as _table

    store = ResultsStore(spark, model_dir)
    S._CENTROID_CACHE.clear()
    B._MERGE_CACHE.clear()
    keep_rows = sorted(
        (c, tuple(v))
        for c, v in S.trained_centroid_rows(
            spark, "corpus-v1", _train_frame(spark), k=4, iters=2, store=store
        )
    )
    S.trained_centroid_rows(
        spark, "corpus-v0", _train_frame(spark), k=4, iters=2, store=store
    )
    docs = _table(spark, SF, "documents")
    B.trained_merges(spark, "corpus-v1", docs, 2, store=store)
    B.trained_merges(spark, "corpus-v0", docs, 2, store=store)

    out = S.evict_stale_models(spark, ["corpus-v1"], store=store)
    assert out["trained_centroids"]["evicted"] == 4
    assert out["trained_centroids"]["kept"] == 4
    assert out["trained_bpe_merges"]["evicted"] == 2

    # stale rows gone from disk AND from the process caches
    keys = {
        r["model_key"]
        for t in S.MODEL_SIDECAR_TABLES
        for r in store.read(t).select("model_key").collect()
    }
    assert all(k.startswith("corpus-v1|") for k in keys)
    assert all(k[0] == "corpus-v1" for k in S._CENTROID_CACHE)
    assert all(k[0] == "corpus-v1" for k in B._MERGE_CACHE)

    # survivor reloads byte-identical in a "new session", no retrain
    S._CENTROID_CACHE.clear()
    reloaded = sorted(
        (c, tuple(v))
        for c, v in S.trained_centroid_rows(
            spark, "corpus-v1", _train_frame(spark), k=4, iters=2, store=store
        )
    )
    assert reloaded == keep_rows

    # second pass is a no-op: no eviction, no new version published
    v_before = store._versions("trained_centroids")
    again = S.evict_stale_models(spark, ["corpus-v1"], store=store)
    assert again["trained_centroids"]["evicted"] == 0
    assert store._versions("trained_centroids") == v_before


def test_retention_loses_cas_race(spark, model_dir, monkeypatch):
    """A trainer publishing between the retention read and its
    publish must surface as ConcurrentWriteError (never a mixed
    table) — the upsert contract, unchanged."""
    from snowalert_spark.store import ConcurrentWriteError

    store = ResultsStore(spark, model_dir)
    S._CENTROID_CACHE.clear()
    S.trained_centroid_rows(
        spark, "corpus-v0", _train_frame(spark), k=4, iters=2, store=store
    )
    real_read = store.read

    def read_then_race(table):
        df = real_read(table)
        rows = df.collect()  # snapshot before racing
        # concurrent trainer publishes a new version mid-pass
        store.overwrite(table, spark.createDataFrame(rows, df.schema))
        return spark.createDataFrame(rows, df.schema)

    monkeypatch.setattr(store, "read", read_then_race)
    with pytest.raises(ConcurrentWriteError):
        store.retain("trained_centroids", F.lit(False))


def test_retain_counts_in_one_job(spark, model_dir, last_job_id):
    """``retain`` observes the count of all rows and of the kept ones
    in one scan job; only a pass that evicts adds its write."""
    store = ResultsStore(spark, model_dir)
    rows = [(f"corpus-v{i % 2}|k=4|iters=2", i, [float(i)]) for i in range(6)]
    store.overwrite(
        "trained_centroids",
        spark.createDataFrame(rows, store.schema("trained_centroids")),
    )
    v0 = store._versions("trained_centroids")
    before = last_job_id()
    assert store.retain("trained_centroids", F.lit(True)) == {"kept": 6, "evicted": 0}
    assert last_job_id() - before == 1
    assert store._versions("trained_centroids") == v0

    before = last_job_id()
    keep = F.col("model_key").startswith("corpus-v0|")
    assert store.retain("trained_centroids", keep) == {"kept": 3, "evicted": 3}
    assert last_job_id() - before == 2
    assert sorted(r.cell for r in store.read("trained_centroids").collect()) == [0, 2, 4]
