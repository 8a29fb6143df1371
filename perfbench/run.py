"""Operator-path benchmark for snowalert_spark.

    python3 perfbench/run.py --workload ticks_history --seed 1 --seconds 1 --trace 0

Runs one workload as a closed loop with one client: each scheduled run
starts when the previous one (and its correctness check) has finished.
Runs go through the product's public entry points (``run.run_alerts``,
``run.run_violations`` and the ``streaming`` ingest functions) on a
local Spark session built by ``snowalert_spark.session.get_session``.

Prints a human-readable summary, then as the last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` every run is traced
and the metrics are the per-layer numbers of the first one. A failed
correctness check, a failed operation or a run that raises exits with
code 1 and prints no result; a checkout without the product exits with
code 2.

All files are written under ``.perfbench_work/`` (inputs, results
store, Spark scratch; removed at exit) and ``.perfbench_out/`` (span
dumps) in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"  # the session factory's 16g default does not fit a shared 16 GB host
WALL_LIMIT_S = 165  # start no run that would likely end past this


def _pin_host(work: str) -> dict:
    """Pin Spark to this host's cores, a driver heap that fits a
    shared 16 GB machine, and scratch dirs inside the checkout."""
    cpus = min(4, len(os.sched_getaffinity(0)))
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        # the launcher JVM would otherwise write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    time.tzset()
    tempfile.tempdir = os.environ["TMPDIR"]
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "spark_cores": cpus,
            "mem_gb": round(mem_kb / 2**20, 1), "driver_mem": DRIVER_MEM,
            "python": platform.python_version()}


def _start_session(work: str):
    from snowalert_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    return get_session(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    })


def _stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its workers) to end."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_process = time.perf_counter()

    # the product is imported from the checkout this script sits in
    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark
        import snowalert_spark
    except ImportError as e:
        print(f"perfbench: cannot import the product: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(snowalert_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: snowalert_spark resolves outside {ROOT}", file=sys.stderr)
        return 2
    import workloads
    from oracle import CheckFailed
    from spans import PER_LAYER, NullTracer, Tracer, installed, summarize

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    host = _pin_host(work)
    host["pyspark"] = pyspark.__version__
    spark = None
    try:
        # -- set-up: session start, then inputs and history preload ----
        t = time.perf_counter()
        spark = _start_session(work)
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        w = workloads.WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed)
        w.setup()
        data_s = time.perf_counter() - t
        setup_s = session_s + data_s
        print(f"perfbench {args.workload} seed={args.seed} host={json.dumps(host)}")
        print(f"set-up: session {session_s:.2f} s, inputs {data_s:.2f} s")

        # -- measured closed loop: one client, the next scheduled run
        # starts when the previous one and its check are done ----------
        tracer = Tracer(spark) if args.trace else NullTracer()
        times, events, detect, layer = [], 0, [], None
        attempted = 0
        while not times or sum(times) < args.seconds:
            if times and time.perf_counter() - t_process + 1.3 * times[-1] > WALL_LIMIT_S:
                break
            w.prepare()
            attempted += 1
            t = time.perf_counter()
            if args.trace:
                tracer.run_id = f"run{len(times)}"
                first = len(tracer.spans)
                with installed(tracer), tracer.span("run", workload=args.workload):
                    info = w.run_once(tracer)
            else:
                info = w.run_once(tracer)
            dt = time.perf_counter() - t
            times.append(dt)
            events += info["events"]
            detect.append(info["detect_s"])
            if args.trace and layer is None:
                run_spans = tracer.spans[first:]
                tracer.collect_jobs(run_spans)
                layer = summarize(run_spans)
                layer.update(w.layer_extras())
                layer["driver.peak_rss_mb"] = _peak_rss_mb(spark)
            ops = w.check()
            if ops["failed"]:
                raise CheckFailed(f"run {len(times)}: {ops['failed']} failed operations "
                                  "(ERROR metadata rows or unsuccessful handler calls)")
            attempted += ops["attempted"]
            print(f"run {len(times)}: {dt:.3f} s", flush=True)
        if args.trace:
            w.final_check()
        rss = _peak_rss_mb(spark)
    except CheckFailed as e:
        print(f"perfbench: correctness check failed: {e}", file=sys.stderr)
        return 1
    except Exception:
        traceback.print_exc()
        print("perfbench: a scheduled run failed", file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"inputs: {json.dumps(w.dimensions)[:600]}")
    print(f"runs: {len(times)}: {', '.join(f'{x:.3f}' for x in times)} s; "
          f"driver JVM peak RSS {rss:.1f} MB")
    if args.trace == 0:
        metrics = {
            "setup_s": (setup_s, "s"),
            "run_s_p50": (statistics.median(times), "s"),
            "events_per_s": (events / sum(times), "events/s"),
            "detect_s_p50": (statistics.median(detect), "s"),
        }
    else:
        # per-layer numbers of the first traced run, the same run an
        # untraced invocation measures
        first = {k: layer.get(k, 0.0) for k in PER_LAYER}
        first["store.useful_ratio"] = (first["store.rows_changed"] / first["store.rows_rewritten"]
                                       if first["store.rows_rewritten"] else 0.0)
        first["trace.run_s"] = times[0]
        metrics = {k: (first[k], _unit(k)) for k in PER_LAYER}
        spans_path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(spans_path)
        fams = {k: v for k, (v, _) in metrics.items() if k.startswith("self_s.")}
        top = max(fams, key=fams.get)
        print(f"first traced run's largest self-time share: {top} "
              f"({fams[top] / sum(fams.values()):.0%}); spans written to {spans_path}")
    for k, (v, u) in metrics.items():
        print(f"  {k:<44} {v:14.4f} {u}")
    print(f"attempted {attempted}, failed 0")
    print(json.dumps({
        "correct": True, "attempted": attempted, "failed": 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _unit(key: str) -> str:
    if key.endswith(("_s", ".s", "_s_p50")) or key.startswith("self_s."):
        return "s"
    if key.endswith("bytes") or key.endswith("bytes_written"):
        return "bytes"
    if key.endswith("_mb"):
        return "MB"
    if key.endswith("ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
