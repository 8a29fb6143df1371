"""Interleaved two-tree A/B of the operator-path benchmark (perfbench/).

Runs the command ``BENCHMARK.json`` declares (``perfbench/run.py``)
once per side and seed, in two checkouts: a parent tree and a change
tree. The side that goes first alternates from pair to pair, so a host
that slows down or speeds up during the A/B touches both sides alike.
Nothing under ``perfbench/`` is changed; each side runs its own copy.

For every end-to-end metric in the change tree's ``BENCHMARK.json`` it
prints the per-pair values, each side's median and quartiles, the
change's wins, the range of per-pair ratios (>1 means the change is
better), whether the median gap exceeds the parent's interquartile
range, and whether the change's median is within the metric's
``bound`` (relative, in the metric's worse direction; unresolved when
the parent's spread, IQR / median, exceeds the bound and not every
change run beats every parent run). The last line is the same summary
as one JSON object, ``{"reports": [...]}`` with one report per workload.

``--workload`` takes a comma list: per seed, every listed workload runs
its pair before the next seed starts, so a drift of the host hits all
workloads alike. ``--claim METRIC`` adds, per workload, ``claim_met``:
the change wins at least 0.9 of the pairs (a pair where a side failed
is no win) and its median beats the parent's by more than the parent's
interquartile range.

Usage:
  python tools/bench_ab.py --parent ../ab/parent --change ../ab/change \\
      --workload ticks_history,stream_dedup --seeds 501-510 \\
      [--claim run_s_p50] [--out ab.jsonl]

Make the trees with ``git archive <sha> | tar -x -C DIR`` (committed
files only). Run nothing else on the host meanwhile.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def _run(cmd: list[str], cwd: str, workload: str, seed: int, seconds) -> dict:
    """One benchmark invocation: its metrics from the JSON last line,
    or ``ok`` false and no metrics when it exits non-zero."""
    t0 = time.time()
    p = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"],
        cwd=cwd, capture_output=True, text=True,
    )
    wall = time.time() - t0
    if p.returncode != 0:
        tail = (p.stdout + p.stderr).strip().splitlines()[-5:]
        print(f"  exit {p.returncode} after {wall:.0f} s: " + " | ".join(tail))
        return {"ok": False, "metrics": {}}
    r = json.loads(p.stdout.strip().splitlines()[-1])
    return {"ok": r["correct"] and r["failed"] == 0,
            "metrics": {k: v["value"] for k, v in r["metrics"].items()}}


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(pairs: list[dict], metric: dict) -> dict:
    """Compare one end-to-end metric over the pairs both sides passed."""
    name, lower = metric["name"], metric["better"] == "lower"
    ok = [p for p in pairs
          if name in p["parent"]["metrics"] and name in p["change"]["metrics"]]
    par = [p["parent"]["metrics"][name] for p in ok]
    chg = [p["change"]["metrics"][name] for p in ok]
    if not ok:
        return {"metric": name, "pairs": 0}
    ratios = [(a / b if lower else b / a) if min(a, b) > 0 else float("nan")
              for a, b in zip(par, chg)]
    mp, mc = statistics.median(par), statistics.median(chg)
    qp, qc = _quartiles(par), _quartiles(chg)
    worse = (mc - mp) / mp if lower else (mp - mc) / mp
    spread = (qp[1] - qp[0]) / mp
    better_than_all = (max(chg) < min(par)) if lower else (min(chg) > max(par))
    return {
        "metric": name,
        "better": metric["better"],
        "pairs": len(ok),
        "seeds": [p["seed"] for p in ok],
        "parent": par,
        "change": chg,
        "parent_median": mp,
        "parent_quartiles": qp,
        "change_median": mc,
        "change_quartiles": qc,
        "wins": sum(r > 1 for r in ratios),
        "ratio_min": min(ratios),
        "ratio_median": statistics.median(ratios),
        "ratio_max": max(ratios),
        "median_ratio": (mp / mc if lower else mc / mp) if mc and mp else None,
        "gap_exceeds_parent_iqr": (mp - mc if lower else mc - mp) > qp[1] - qp[0],
        "bound": metric["bound"],
        "within_bound": worse <= metric["bound"],
        # a bound is only testable when the parent's own spread is
        # inside it, or every change run beats every parent run
        "parent_spread": spread,
        "resolved": spread <= metric["bound"] or better_than_all,
    }


def claim_met(m: dict, n_pairs: int) -> bool:
    """The claim rule on one metric's summary over ``n_pairs`` pairs run:
    wins in at least 0.9 of them and a median gap larger than the
    parent's interquartile range."""
    return bool(m["pairs"]) and m["wins"] >= 0.9 * n_pairs and m["gap_exceeds_parent_iqr"]


def _print_report(report: dict) -> None:
    print(f"\n{report['workload']}: {report['pairs']} pairs, failed {report['failed']}")
    for m in report["metrics"]:
        if not m["pairs"]:
            print(f"{m['metric']}: no pair where both sides passed")
            continue
        print(f"{m['metric']} ({m['better']} is better)")
        print(f"  parent {[round(x, 3) for x in m['parent']]}")
        print(f"  change {[round(x, 3) for x in m['change']]}")
        print(f"  median parent {m['parent_median']:.3f} "
              f"(q {m['parent_quartiles'][0]:.3f}-{m['parent_quartiles'][1]:.3f})"
              f" change {m['change_median']:.3f} "
              f"(q {m['change_quartiles'][0]:.3f}-{m['change_quartiles'][1]:.3f})")
        print(f"  wins {m['wins']}/{m['pairs']}, per-pair ratio "
              f"{m['ratio_min']:.2f}-{m['ratio_max']:.2f} "
              f"(median {m['ratio_median']:.2f}), gap > parent IQR: "
              f"{m['gap_exceeds_parent_iqr']}, within bound {m['bound']}: "
              f"{m['within_bound']} (parent spread {m['parent_spread']:.3f}"
              f"{'' if m['resolved'] else ', unresolved'})")
    if "claim" in report:
        print(f"claim {report['claim']} on {report['workload']}: "
              f"claim_met={report['claim_met']}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", required=True, help="parent tree")
    p.add_argument("--change", required=True, help="change tree")
    p.add_argument("--workload", required=True, help="one or a comma list")
    p.add_argument("--seeds", required=True, help="A-B, inclusive")
    p.add_argument("--claim", metavar="METRIC",
                   help="end-to-end metric whose gain is claimed")
    p.add_argument("--out", help="append each invocation's result here (jsonl)")
    args = p.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload.split(",")
    if args.claim and args.claim not in {m["name"] for m in bench["end_to_end"]}:
        p.error(f"--claim {args.claim}: not an end-to-end metric of BENCHMARK.json")
    trees = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    pairs: dict[str, list[dict]] = {w: [] for w in workloads}
    for i, seed in enumerate(_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for w in workloads:
            pair = {"seed": seed}
            for side in order:
                r = _run(bench["command"], trees[side], w, seed, bench["run_seconds"])
                pair[side] = r
                shown = {k: round(v, 3) for k, v in r["metrics"].items()}
                print(f"{w} seed {seed} {side:<6} ok={r['ok']} {shown}", flush=True)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps({"workload": w, "seed": seed,
                                            "side": side, **r}) + "\n")
            pairs[w].append(pair)

    reports = []
    for w in workloads:
        report = {"workload": w, "pairs": len(pairs[w]),
                  "failed": {s: sum(not p[s]["ok"] for p in pairs[w]) for s in trees},
                  "metrics": [summarize(pairs[w], m) for m in bench["end_to_end"]]}
        if args.claim:
            m = next(m for m in report["metrics"] if m["metric"] == args.claim)
            report["claim"] = args.claim
            report["claim_met"] = claim_met(m, len(pairs[w]))
        _print_report(report)
        reports.append(report)
    print(json.dumps({"reports": reports}))
    return 0 if not any(any(r["failed"].values()) for r in reports) else 1


if __name__ == "__main__":
    sys.exit(main())
