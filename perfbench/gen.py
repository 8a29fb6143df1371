"""Seeded input generator for the benchmark.

Every input the product sees comes from here: event parquet (one file
per simulated hour), preloaded alert / violation history, an asset
inventory and document batches. Each function takes the seed (plus a
batch index where inputs arrive in batches), so the same seed always
yields the same files. Each also
returns the traffic dimensions it produced, measured on the generated
rows, so a result can be read against the shape of its input.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = dt.datetime(2024, 3, 1)
EVENT_TYPES = np.array(["login", "read", "write", "delete", "admin", "assume_role"])
EVENT_TYPE_P = np.array([0.30, 0.34, 0.20, 0.06, 0.05, 0.05])
REGIONS = np.array(["us-east-1", "us-west-2", "eu-west-1", "ap-south-1"])
N_USERS = 2000
N_HOSTS = 300


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _us(t: dt.datetime) -> np.int64:
    return np.int64((t - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def events(seed: int, stream: int, n: int, start: dt.datetime, span_s: float) -> pa.Table:
    """``n`` audit events uniformly spread over ``[start, start+span_s)``.

    Users follow a Zipf law (key skew), hosts are uniform, and ``props``
    is a JSON document the variant-path rules read through ``compat``.
    Timestamps carry microseconds, so no event sits exactly on a window
    bound."""
    r = _rng(seed, 1, stream)
    ts = _us(start) + (r.random(n) * span_s * 1e6).astype(np.int64)
    users = (r.zipf(1.3, n) - 1) % N_USERS
    hosts = r.integers(0, N_HOSTS, n)
    etype = r.choice(EVENT_TYPES, n, p=EVENT_TYPE_P)
    value = np.round(r.random(n) * 200, 3)
    region = r.choice(REGIONS, n)
    mfa = r.random(n) < 0.8
    props = [
        json.dumps({"region": g, "mfa": bool(m), "port": int(p)})
        for g, m, p in zip(region, mfa, r.choice([22, 80, 443, 3389], n))
    ]
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64) + np.int64(stream) * 10_000_000,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": users.astype(np.int64),
            "event_type": etype,
            "host": hosts.astype(np.int64),
            "value": value,
            "props": props,
        }
    )


def write_events(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def event_dimensions(table: pa.Table, window: tuple[dt.datetime, dt.datetime]) -> dict:
    """Traffic dimensions of the events a tick's rule scans: users, key
    skew, the share outside the run window, and the DELETE rule's
    dedupe groups (OBJECT, DESCRIPTION) inside it."""
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    users = table.column("user_id").to_numpy()
    lo, hi = _us(window[0]), _us(window[1])
    inside = (ts >= lo) & (ts <= hi)
    counts = np.bincount(users, minlength=N_USERS)
    top = np.sort(counts)[::-1]
    deletes = inside & (table.column("event_type").to_numpy(zero_copy_only=False) == "delete")
    groups = np.unique(table.column("host").to_numpy()[deletes] * 50 + users[deletes] % 50)
    return {
        "events": int(len(ts)),
        "users": int((counts > 0).sum()),
        "top1pct_user_share": round(float(top[: N_USERS // 100].sum() / len(ts)), 4),
        "outside_window_share": round(float((~inside).mean()), 4),
        "delete_rule_groups": int(len(groups)),
    }


def inventory(seed: int) -> pa.Table:
    """Host inventory the violation rules read (one row per host)."""
    r = _rng(seed, 2)
    return pa.table(
        {
            "host": np.arange(N_HOSTS, dtype=np.int64),
            "owner": [f"team-{i}" for i in r.integers(0, 12, N_HOSTS)],
            "public_ssh": r.random(N_HOSTS) < 0.15,
        }
    )


def alert_history(seed: int, n: int, end: dt.datetime, n_recent: int) -> pa.Table:
    """``n`` already-processed alerts (correlated, ticketed, handled)
    in the results-store ``alerts`` layout. The last ``n_recent`` look
    like the previous tick's output of the DELETE rule (same OBJECT /
    DESCRIPTION vocabulary, event times in the hour before ``end``),
    so the next tick's MERGE increments them; the rest spread over the
    30 days before ``end``."""
    r = _rng(seed, 3)
    ages = r.random(n) * 30 * 86400e6
    ages[n - n_recent:] = r.random(n_recent) * 3600e6
    ts = pa.array(_us(end) - ages.astype(np.int64), pa.timestamp("us", tz="UTC"))
    users = (r.zipf(1.3, n) - 1) % N_USERS
    i = np.arange(n)
    recent = i >= n - n_recent
    desc = [f"delete by user {u % 50}" if rc else f"history {k % 997}"
            for k, u, rc in zip(i, users, recent)]
    s = lambda xs: pa.array([str(x) for x in xs], pa.string())  # noqa: E731
    const = lambda v: pa.array([v] * n, pa.string())  # noqa: E731
    ids = s(f"hist-{seed}-{k}" for k in i)
    doc = pa.StructArray.from_arrays(
        [ids, const("HISTORY_ALERT_QUERY"), const("history"), pa.nulls(n, pa.string()),
         pa.array([["history"]] * n, pa.list_(pa.string())),
         s(f"user:{u}" for u in users), s(f"host-{h}" for h in r.integers(0, N_HOSTS, n)),
         pa.array(r.choice(EVENT_TYPES, n, p=EVENT_TYPE_P)), const("Historical alert"),
         ts, ts, s(desc), const("history"), const("null"),
         const("low"), pa.nulls(n, pa.list_(pa.string()))],
        names=["ALERT_ID", "QUERY_NAME", "QUERY_ID", "ENVIRONMENT", "SOURCES", "ACTOR",
               "OBJECT", "ACTION", "TITLE", "EVENT_TIME", "ALERT_TIME", "DESCRIPTION",
               "DETECTOR", "EVENT_DATA", "SEVERITY", "HANDLERS"])
    tickets = s(f"HIST-{k}" for k in i)
    return pa.table({
        "alert": doc, "alert_time": ts, "event_time": ts, "ticket": tickets,
        "suppressed": pa.array(np.zeros(n, bool)), "suppression_rule": pa.nulls(n, pa.string()),
        "counter": pa.array(np.ones(n, np.int32)),
        "correlation_id": s(f"corr-{k % 5000}" for k in i),
        "handled": s(json.dumps([{"success": True, "ticket": f"HIST-{k}"}]) for k in i),
    })


def violation_history(seed: int, n: int, end: dt.datetime) -> pa.Table:
    """``n`` violations of earlier days, in the ``violations`` layout."""
    r = _rng(seed, 4)
    hosts = r.integers(0, N_HOSTS, n)
    at = _us(end) - ((1 + r.random(n) * 29) * 86400e6).astype(np.int64)
    return pa.table({
        "result": [json.dumps({"OBJECT": f"host-{h}", "TITLE": "Historical violation",
                               "QUERY_NAME": "HISTORY_VIOLATION_QUERY"}) for h in hosts],
        "id": [f"{seed}-{k}" for k in range(n)],
        "alert_time": pa.array(at, pa.timestamp("us", tz="UTC")),
        "ticket": pa.nulls(n, pa.string()),
        "suppressed": pa.array(np.zeros(n, bool)),
        "suppression_rule": pa.nulls(n, pa.string()),
    })


BOILERPLATE = [
    " ".join(f"boiler{b}x{j}" for j in range(12)) for b in range(6)
]


def _doc_text(r: np.random.Generator, doc_id: int) -> str:
    words = [f"w{doc_id}q{j}z{int(r.integers(0, 1 << 20))}" for j in range(30)]
    return "the report " + " ".join(words) + " concludes here"


def doc_batch(seed: int, tick: int, n: int, first_id: int, prior: list[str],
              path: str) -> tuple[list[dict], dict]:
    """Write one micro-batch of documents with ids
    ``first_id..first_id+n-1`` (ids increase across ticks, so the
    tick-by-tick chain is comparable with the one-shot chain). Exact
    shares, in seeded order: 10% junk the curation gate rejects, 15%
    near-duplicates of a document from an earlier tick (exact copy or
    one word changed; none when there is no earlier tick), and 30% of
    the rest carry a boilerplate sentence shared with other documents
    (repeated substrings)."""
    r = _rng(seed, 6, tick)
    n_junk = round(0.10 * n)
    n_dup = round(0.15 * n) if prior else 0
    n_boiler = round(0.30 * (n - n_junk - n_dup))
    kinds = r.permutation(["junk"] * n_junk + ["dup"] * n_dup + ["boiler"] * n_boiler
                          + ["fresh"] * (n - n_junk - n_dup - n_boiler))
    rows = []
    for i, kind in enumerate(kinds):
        did = first_id + i
        if kind == "junk":
            text = "spam spam spam"
        elif kind == "dup":
            src = prior[int(r.integers(0, len(prior)))].split(" ")
            if r.random() < 0.5:
                src[5] = f"mut{did}"
            text = " ".join(src)
        else:
            text = _doc_text(r, did)
            if kind == "boiler":
                text += " " + BOILERPLATE[int(r.integers(0, len(BOILERPLATE)))]
        rows.append({"doc_id": did, "text": text, "lang": "en", "source": f"s{did % 3}"})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for row in rows:
            f.write(json.dumps(row) + "\n")
    return rows, {"docs": n, "junk_share": round(n_junk / n, 4),
                  "cross_tick_dup_share": round(n_dup / n, 4),
                  "boilerplate_share": round(n_boiler / n, 4)}
