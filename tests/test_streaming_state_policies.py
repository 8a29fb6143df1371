"""Policy rules, custom stateful streaming sessionization, skew
operators, IVF recall quality."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from snowalert_spark.operators import skew
from snowalert_spark.rules import RuleRegistry
from snowalert_spark.runners import metadata, policies
from snowalert_spark.store import ResultsStore
from snowalert_spark.tables import table


def test_policy_definitions(spark, tmp_path):
    reg = RuleRegistry()
    reg.create(
        "MFA_ENROLLMENT_SYSTEM_POLICY_DEFINITION",
        sql="""
        SELECT 'All admins enrolled in MFA' AS title,
               (SELECT COUNT(*) FROM (SELECT 1 WHERE FALSE)) = 0 AS passing
        UNION ALL
        SELECT 'No open violations' AS title, FALSE AS passing
        """,
        comment="MFA enrollment policy\n@id mfa_policy",
    )
    store = ResultsStore(spark, str(tmp_path / "results"))
    out = policies.main(spark, store, reg, run_id="r1")
    assert len(out) == 1
    p = out[0]
    assert p["checks"] == 2 and p["passing"] == 1
    assert {c["title"] for c in p["results"]} == {
        "All admins enrolled in MFA", "No open violations",
    }
    (md,) = metadata.read_metadata(store, "run_metadata")
    assert md["RUN_ID"] == "r1" and md["RUN_TYPE"] == "POLICY"
    assert md["QUERY_NAME"] == "MFA_ENROLLMENT_SYSTEM_POLICY_DEFINITION"
    assert md["ROW_COUNT"] == {"checks": 2, "passing": 1}


def test_stateful_sessionization_stream(spark, tmp_path):
    from snowalert_spark.streaming import sessionize_stream

    rows = [
        (1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),
        (1, "2024-01-01 02:00:00"),  # >60min gap → closes session 1
        (1, "2024-01-01 02:30:00"),
        (1, "2024-01-01 05:00:00"),  # closes session 2
        (2, "2024-01-01 00:00:00"),
        (2, "2024-01-01 03:00:00"),  # closes session (single event)
    ]
    src = tmp_path / "events"
    spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    ).write.parquet(str(src))

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(str(src))
    out = sessionize_stream(stream, "user_id", "ts", gap_minutes=60)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_id, r.n_events)
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    # closed sessions only (the trailing session per key stays open in state)
    assert (1, 2) in got  # first session of user 1 (2 events)
    assert (2, 1) in got  # first session of user 2
    u1 = [r for r in spark.sql("SELECT * FROM sessions").collect() if r.user_id == 1]
    assert len(u1) == 2  # two closed sessions for user 1


def test_salted_join_equivalence(spark):
    o = table(spark, "/root/testdata/sf0.001", "orders")
    c = table(spark, "/root/testdata/sf0.001", "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = o.join(c, "o_custkey").groupBy("o_custkey").count()
    salted = skew.salted_join(o, c, "o_custkey").groupBy("o_custkey").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_distinct_count_equivalence(spark):
    e = table(spark, "/root/testdata/sf0.001", "events")
    plain = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    salted = {
        r.event_type: r.n_distinct
        for r in skew.salted_distinct_count(e, "event_type", "user_id").collect()
    }
    assert plain == salted


def test_ivf_recall_vs_bruteforce(spark):
    """IVF (nprobe=1) top-3 should mostly agree with brute force on
    clustered embeddings — quality floor, not exactness."""
    from snowalert_spark.workload.vector import ann_ivf_topk, cosine_topk_bruteforce

    sf = "/root/testdata/sf0.01"
    bf = {}
    for r in cosine_topk_bruteforce(spark, sf).collect():
        bf.setdefault(r.query_id, []).append(r.neighbor_id)
    ivf = {}
    for r in ann_ivf_topk(spark, sf).collect():
        ivf.setdefault(r.query_id, []).append(r.neighbor_id)
    hits = total = 0
    for q, neighbors in ivf.items():
        top3_bf = set(bf[q][:3])
        hits += len(set(neighbors) & top3_bf)
        total += 3
    assert hits / total >= 0.5, f"IVF recall@3 too low: {hits}/{total}"


def test_dedup_stream_within_watermark(spark, tmp_path):
    from snowalert_spark.streaming import dedup_stream

    # two files simulate redelivery: event 10 appears in both, event 11
    # twice in the same file; event 12 arrives once
    rows_a = [
        (10, "2024-01-01 00:00:00", "login"),
        (11, "2024-01-01 00:01:00", "click"),
        (11, "2024-01-01 00:01:00", "click"),
    ]
    rows_b = [
        (10, "2024-01-01 00:00:00", "login"),
        (12, "2024-01-01 00:05:00", "logout"),
    ]
    src = tmp_path / "dedup_src"
    schema = "event_id long, ts string, event_type string"
    for i, rows in enumerate([rows_a, rows_b]):
        spark.createDataFrame(rows, schema).select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
        ).write.parquet(str(src / f"f{i}"))

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string"
    ).option("recursiveFileLookup", "true").parquet(str(src))
    out = dedup_stream(stream, ["event_id"], "ts", watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("deduped_events")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT event_id FROM deduped_events").collect()
    assert sorted(r.event_id for r in got) == [10, 11, 12]
