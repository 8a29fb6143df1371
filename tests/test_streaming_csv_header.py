"""A CSV source's first line is its header: every ``foreachBatch``
streaming tier reads it as such, and it never lands as a document
(``(doc_id=None, text='text')`` used to reach the substring tier's
output). The embedding and semantic-decontamination tiers read vectors,
which CSV cannot carry, so they are not listed here."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from snowalert_spark import streaming as S

COLS = ("doc_id", "text", "lang", "source")
ROWS = [
    (1, "the quick brown fox jumps over the lazy dog today", "en", "web"),
    (2, "completely different content about spark streaming joins", "en", "web"),
]


def _schema(id_col="doc_id"):
    return T.StructType(
        [T.StructField(id_col, T.LongType())]
        + [T.StructField(c, T.StringType()) for c in COLS[1:]]
    )


def _media_fingerprint(batch):
    from snowalert_spark.functions import multimodal as MM

    return MM.image_dhash(
        batch.select(
            "media_id",
            F.encode("text", "utf-8").alias("data"),
            F.lit(None).cast("struct<format:string>").alias("meta"),
        ),
        decode="fake",
    )


# tier -> (runner(spark, src, dst, ckpt, tmp, schema), id column, the
# directory whose rows must count one per CSV data line)
TIERS = {
    "neardup_text": (
        lambda spark, src, dst, ckpt, tmp, schema: S.neardup_stream_ingest(
            spark, src, dst, ckpt, f"{tmp}/state", schema, fmt="csv"
        ),
        "doc_id", "out",
    ),
    "neardup_media": (
        lambda spark, src, dst, ckpt, tmp, schema: S.neardup_media_stream_ingest(
            spark, src, dst, ckpt, f"{tmp}/state", schema, fmt="csv",
            fingerprint=_media_fingerprint,
        ),
        "media_id", "out",
    ),
    "substring": (
        lambda spark, src, dst, ckpt, tmp, schema: S.substring_stream_ingest(
            spark, src, dst, ckpt, f"{tmp}/state", schema, fmt="csv"
        ),
        "doc_id", "out",
    ),
    # the gate rejects short docs, so its audit funnel (one count per
    # arriving doc, whatever the outcome) is what must add up
    "curation": (
        lambda spark, src, dst, ckpt, tmp, schema: S.curation_stream_ingest(
            spark, src, dst, ckpt, schema, fmt="csv", audit_dir=f"{tmp}/audit"
        ),
        None, "audit",
    ),
    "bpe_encode": (
        lambda spark, src, dst, ckpt, tmp, schema: S.bpe_encode_stream_ingest(
            spark, src, dst, ckpt, schema, merges=[], fmt="csv"
        ),
        "doc_id", "out",
    ),
}


@pytest.mark.parametrize("tier", sorted(TIERS))
def test_csv_header_never_lands_as_a_row(spark, tmp_path, tier):
    run, id_col, counted = TIERS[tier]
    tmp = str(tmp_path)
    os.makedirs(f"{tmp}/src")
    with open(f"{tmp}/src/f0.csv", "w") as f:
        f.write(",".join((id_col or "doc_id",) + COLS[1:]) + "\n")
        for row in ROWS:
            f.write(",".join(map(str, row)) + "\n")
    run(spark, f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt", tmp,
        _schema(id_col or "doc_id"))

    got = spark.read.parquet(f"{tmp}/{counted}")
    if id_col is None:
        assert got.agg(F.sum("n_docs")).first()[0] == len(ROWS)
    else:
        assert sorted(r[id_col] for r in got.select(id_col).collect()) == [1, 2]
