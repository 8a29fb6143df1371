"""Cold-state sidecar (r13 verdict item 2/6): time each named query in
a FRESH process so every process-local cache is cold — the BPE
``_MERGE_CACHE``, the k-means ``_CENTROID_CACHE``, codegen, Arrow
init. The steady-state bench discards a
warm-up run, so its numbers are "warm session" figures; this sidecar
records the cold companion for the same rows.

Per query the child process reports ``cold`` (the very first
construct+noop, everything cold) and ``warm`` (the next run in the
same process — comparable to the steady bench's regime). One child
per query, run sequentially.

Usage: python tools/bench_cold.py <out.json> [query ...]
       ($SPARK_GRAFT_SF_DIR selects the data dir, default sf0.1)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

DEFAULT_ROWS = [
    # substring family (no process cache: cold is codegen + Arrow)
    "dedup_substring_spans",
    "dedup_substring_removal",
    "dedup_substring_full",
    "dedup_substring_cross_snapshot",
    # BPE (merge-table cache)
    "bpe_merges",
    "bpe_encode_docs",
    "bpe_encode_128",
    "bpe_encode_1k",
    # trained-codebook family (centroid cache — the r14 fused trainer
    # shows only here: warm runs never retrain)
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "embedding_pq_codes",
    "semantic_dedup",
    "doc_topic_clusters",
]

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from snowalert_spark.session import get_session
spark = get_session(app_name="bench_cold")
spark.sparkContext.setLogLevel("ERROR")
from snowalert_spark import workload
qs = workload.queries(include_local=True)
fn = qs[{name!r}]
sf_dir = {sf_dir!r}
def once():
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 4)
cold = once()
warm = [once() for _ in range(2)]
print(json.dumps({{"cold": cold, "warm": min(warm), "warm_runs": warm}}))
"""


def main() -> None:
    out_path = sys.argv[1]
    names = sys.argv[2:] or DEFAULT_ROWS
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rows: dict[str, dict] = {}
    for name in names:
        code = _CHILD.format(repo=repo, name=name, sf_dir=sf_dir)
        p = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True, text=True, timeout=1800,
        )
        line = (p.stdout.strip().splitlines() or ["{}"])[-1]
        try:
            rows[name] = json.loads(line)
        except json.JSONDecodeError:
            rows[name] = {"error": (p.stderr or p.stdout)[-300:]}
        print(name, rows[name])
    doc = {"sf_dir": sf_dir, "regime": "fresh process per query", "rows": rows}
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
