"""Probe: substring-family wall clock.

Times (noop sink, warm-up + N runs) the three whole-corpus substring
operators. Used for the r13 before/after evidence: the
"before" tree carried an explicit (h, salt) repartition of the
expanded fingerprint stream and no input spread (single-split scans
serialized the expansion); see OPTIMIZATION_r13.md.

Usage: python tools/probe_substring_exchange.py [sf_dir] [runs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from snowalert_spark.functions import dedup as DD
from snowalert_spark.session import get_session
from snowalert_spark.tables import table


def t_noop(df, runs: int = 3) -> list[float]:
    out = []
    for _ in range(runs + 1):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out.append(round(time.perf_counter() - t0, 4))
    return out[1:]  # drop warm-up


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_session(app_name="probe_substring_exchange")
    d = table(spark, sf_dir, "documents")
    res: dict = {"sf_dir": sf_dir}

    sc = spark.sparkContext
    for name, op in (
        ("spans", DD.repeated_substring_spans),
        ("removal", DD.remove_repeated_substrings),
        ("full", DD.dedupe_substrings),
    ):
        sc.setJobDescription(f"substring {name}")
        res[name] = t_noop(op(d), runs)

    print(json.dumps(res, indent=1))


if __name__ == "__main__":
    main()
