"""Table-driven collector tests, modeled on the reference's
test_aws_collect.py:17-216 style: (task, raw response) → expected
rows + expected spawned child tasks, covering error-, list-,
parameterized- and child-spawning shapes; plus the paced driver and
the distributed mapInPandas fan-out."""

from __future__ import annotations

import datetime as dt

import pytest

from snowalert_spark.sources.collect import (
    CollectTask,
    DBEntry,
    collect,
    collect_distributed,
    land_entries,
    process_response,
)

SPEC = {
    "iam.list_users": {
        "table": "iam_list_users",
        "list": ("Users", {"UserName": "user_name", "Arn": "arn"}),
        "children": [
            {"method": "iam.list_access_keys", "args": {"UserName": "user_name"}}
        ],
    },
    "iam.list_access_keys": {
        "table": "iam_list_access_keys",
        "params": {"UserName": "user_name"},
        "list": ("AccessKeyMetadata", {"AccessKeyId": "access_key_id",
                                        "Status": "status"}),
    },
    "iam.get_account_password_policy": {
        "table": "iam_password_policy",
        "fields": {"MinimumPasswordLength": "minimum_password_length",
                    "RequireSymbols": "require_symbols"},
    },
}

NOW = dt.datetime(2024, 1, 1)

CASES = [
    (  # list response → one row per item + one child per row
        CollectTask("123", "iam.list_users"),
        {"Users": [{"UserName": "a", "Arn": "arn:a"},
                    {"UserName": "b", "Arn": "arn:b"}]},
        [{"user_name": "a", "arn": "arn:a"}, {"user_name": "b", "arn": "arn:b"}],
        [CollectTask("123", "iam.list_access_keys", (("UserName", "a"),)),
         CollectTask("123", "iam.list_access_keys", (("UserName", "b"),))],
    ),
    (  # scalar-field response → single row, no children
        CollectTask("123", "iam.get_account_password_policy"),
        {"MinimumPasswordLength": 14, "RequireSymbols": True},
        [{"minimum_password_length": 14, "require_symbols": True}],
        [],
    ),
    (  # parameterized child call copies the task arg into the row
        CollectTask("123", "iam.list_access_keys", (("UserName", "a"),)),
        {"AccessKeyMetadata": [{"AccessKeyId": "AKIA1", "Status": "Active"}]},
        [{"user_name": "a", "access_key_id": "AKIA1", "Status": None}][:1],
        [],
    ),
    (  # error response → quarantined error row, crawl continues
        CollectTask("123", "iam.list_users"),
        RuntimeError("AccessDenied"),
        [{"error": '{"exceptionName": "RuntimeError", "exceptionArgs": ["AccessDenied"], "message": "AccessDenied"}'}],
        [],
    ),
]


@pytest.mark.parametrize("task,page,exp_rows,exp_children", CASES)
def test_process_response_table_driven(task, page, exp_rows, exp_children):
    rows, children = [], []
    for item in process_response(SPEC, task, page, now=NOW):
        (children if isinstance(item, CollectTask) else rows).append(item)
    assert children == exp_children
    assert len(rows) == len(exp_rows)
    for got, exp in zip(rows, exp_rows):
        assert got.entity["account_id"] == task.account_id
        assert got.entity["recorded_at"] == NOW
        for k, v in exp.items():
            if v is not None:
                assert got.entity[k] == v


def _fake_fetch(task: CollectTask):
    if task.method == "iam.list_users":
        return {"Users": [{"UserName": "a", "Arn": "arn:a"},
                           {"UserName": "b", "Arn": "arn:b"}]}
    if task.method == "iam.list_access_keys":
        u = task.args_dict["UserName"]
        if u == "b":
            raise RuntimeError("Throttled")
        return {"AccessKeyMetadata": [{"AccessKeyId": f"AK-{u}",
                                        "Status": "Active"}]}
    raise KeyError(task.method)


def test_collect_dag_with_pacing():
    sleeps = []
    t = [0.0]

    def clock():
        t[0] += 0.001
        return t[0]

    out = collect(
        SPEC,
        _fake_fetch,
        [CollectTask("123", "iam.list_users")],
        rate_per_second=2,  # 5 requests → pacing kicks in
        clock=clock,
        sleep=sleeps.append,
    )
    tables = sorted(e.table for e in out)
    assert tables == ["iam_list_access_keys", "iam_list_access_keys",
                      "iam_list_users", "iam_list_users"]
    errs = [e for e in out if "error" in e.entity]
    assert len(errs) == 1 and "Throttled" in errs[0].entity["error"]
    assert sleeps, "rate limiter must have slept"


def test_collect_distributed(spark):
    # nested fn → cloudpickle ships it by value (test module isn't
    # importable from executor workers)
    def fetch(task):
        if task.method == "iam.list_users":
            return {"Users": [{"UserName": "a", "Arn": "arn:a"},
                               {"UserName": "b", "Arn": "arn:b"}]}
        u = task.args_dict["UserName"]
        if u == "b":
            raise RuntimeError("Throttled")
        return {"AccessKeyMetadata": [{"AccessKeyId": f"AK-{u}",
                                        "Status": "Active"}]}

    rows, levels = collect_distributed(
        spark, SPEC, fetch, [CollectTask("123", "iam.list_users")]
    )
    assert levels == 2  # users level, then access-keys level
    assert len(rows) == 4  # 2 users + 1 key row + 1 error row


def test_args_dict_restores_list_shape():
    """Round-6 advice: list-valued child bindings are tuple-ized for
    the BFS seen-set, but transports must see the original JSON shape
    (inspector.describe_findings findingArns expects a list)."""
    t = CollectTask(
        "123",
        "inspector.describe_findings",
        (("findingArns", ("arn:f1", "arn:f2")), ("maxResults", 10)),
    )
    assert t.args_dict == {"findingArns": ["arn:f1", "arn:f2"], "maxResults": 10}
    assert hash(t)  # still hashable for the seen-set


def test_landing_types_columns_and_views(spark):
    """Both collectors land through ``land_rows``: spec columns first,
    then new keys in arrival order; nested values as JSON; each column
    typed by its first non-null value (all-null → string); one cached
    frame registered under every view name."""
    from snowalert_spark.sources import azure_collect as AZ

    t = dt.datetime(2024, 1, 2, 3)
    out = land_entries(
        spark,
        [
            DBEntry("iam_list_users", {"x": None, "flag": True, "n": 3, "arn": "a"}),
            DBEntry("iam_list_users", {"f": 1.5, "at": t, "doc": {"k": [1, 2]}}),
        ],
        prefix="t_",
        spec=SPEC,
    )
    df = out["t_iam_list_users"]
    assert df.schema.simpleString() == (
        "struct<recorded_at:string,account_id:string,error:string,x:string,"
        "flag:boolean,n:bigint,arn:string,f:double,at:timestamp,doc:string>"
    )
    assert sorted((tuple(r)[3:] for r in df.collect()), key=str) == [
        (None, None, None, None, 1.5, t, '{"k": [1, 2]}'),
        (None, True, 3, "a", None, None, None),
    ]
    assert df.is_cached and df.rdd.getNumPartitions() == 1
    assert spark.table("t_iam_list_users").count() == 2

    (az,) = AZ.land_batches(
        spark,
        [("subscriptions", [{"subscription_id": "s1", "subscription_policies": {"a": 1}}])],
    ).values()
    assert spark.table("azure_collect_subscriptions").count() == 1
    assert spark.table(AZ.landing_table("subscriptions")).count() == 1
    assert az.columns == list(AZ.API_SPECS["subscriptions"]["response"].values())
    (row,) = az.collect()
    assert row["subscription_id"] == "s1"
    assert row["subscription_policies"] == '{"a": 1}'
