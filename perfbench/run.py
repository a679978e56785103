"""Layered validation benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload images_table --seed 1 --seconds 10 --trace 0

Runs from the repository root.  Spark runs on ``local[nproc]`` with as many
shuffle partitions; the benchmark is a closed loop from one driver thread:
each validation call starts after the previous one has fully materialised,
and its verdict is checked against an expected value outside the timed
region.  After untimed warm-up calls, calls run until their summed wall time
reaches ``--seconds``.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.  The
line before it is a report with every end-to-end figure, including
``verdict_s_tail`` (when at least 11 calls ran) and ``failed_frac``.
``--trace 1`` also writes its spans to ``perfbench/.work/traces/``.
See perfbench/README.md for the metrics, workloads and layers.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

SETUP_ROUNDS = 3  # input rounds; setup_s takes their median


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, cores: int):
    """A session fitted to this host: local[nproc], shuffle partitions =
    nproc, driver memory below physical RAM, no UI, and the repository on
    the Python workers' path.  Scratch files stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # inherited by the JVM and, through it, by the Python workers
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    driver_mb = min(4096, ram_mb // 4)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", f"{driver_mb}m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark):
    """Stop the session, then end the JVM and wait for it: the gateway
    exits when its stdin closes, and Spark has stopped its Python workers."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def reset_peak_rss():
    """Restart the peak-RSS count (VmHWM) where the kernel allows it."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def peak_rss_mb() -> float:
    """Peak resident set of this (driver) process since the last reset."""
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def tail(samples):
    """Highest percentile with at least 10 samples beyond it, or None."""
    n = len(samples)
    if n < 11:
        return None
    i = n - 11
    return {"percentile": round(100 * (i + 1) / n, 1), "value": sorted(samples)[i]}


def run(args) -> int:
    t_start = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "json_schema_clj_spark")):
        print("perfbench: json_schema_clj_spark/ is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench.trace import NullTracer, SparkCounters, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    seed = args.seed & 0x7FFFFFFF
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    cores = host_cores()
    spark = start_spark(work, cores)
    try:
        session_s = time.perf_counter() - t_start
        tr = Tracer() if args.trace else NullTracer()
        if tr.enabled:
            tr.install(spark)
        wl = WORKLOADS[args.workload](spark, seed, work, tr)

        problems: list[str] = []
        rounds = []
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            wl.prepare()
            rounds.append(time.perf_counter() - t0)
        wl.expect()
        # warm-up: untimed but checked calls, until the calls stop getting
        # faster as the JVM compiles hot code; the first one runs cold
        warmup_s = []
        for i in range(wl.warmup_calls):
            t0 = time.perf_counter()
            out = wl.call(-1 - i)
            warmup_s.append(time.perf_counter() - t0)
            problems += [f"warm-up call {i}: {p}" for p in wl.check(-1 - i, out)[0]]
        setup_s = session_s + statistics.median(rounds) + sum(warmup_s)

        counters = SparkCounters(spark) if tr.enabled else None
        times, rates, per_call = [], [], []
        attempted = failed = rows = 0
        busy = 0.0
        reset_peak_rss()
        while not times or busy < args.seconds:
            k = attempted
            attempted += 1
            tr.call_id = k
            t0 = time.perf_counter()
            try:
                with tr.span("call", "call"):
                    out = wl.call(k)
                dt = time.perf_counter() - t0
                bad, info = wl.check(k, out)
            except Exception:  # a call that raises is a failed call; keep measuring
                dt = time.perf_counter() - t0
                bad, info = [traceback.format_exc()], {}
            busy += dt
            times.append(dt)
            if bad:
                failed += 1
                problems += [f"call {k}: {p}" for p in bad]
            else:
                rows += wl.rows_per_call
            rates.append(0.0 if bad else wl.rows_per_call / dt)
            if tr.enabled:
                per_call.append({"call": k, "wall_s": dt, "info": info,
                                 "spark": counters.since_last()})
        rss = peak_rss_mb()
        if tr.enabled:
            tr.uninstall()

        p50 = statistics.median(times)
        report = {
            "workload": args.workload, "seed": seed, "cores": cores, "trace": args.trace,
            "rows_per_s": {"value": statistics.median(rates), "unit": "rows/s",
                           "samples": len(rates)},
            "rows_per_s_window": {"value": rows / busy, "unit": "rows/s"},
            "verdict_s_p50": {"value": p50, "unit": "s", "samples": len(times)},
            "verdict_s_mean": {"value": busy / len(times), "unit": "s"},
            "calls_s": times,
            "setup_s": {"value": setup_s, "unit": "s", "session_s": session_s,
                        "rounds_s": rounds, "warmup_calls_s": warmup_s},
            "failed_frac": {"value": failed / attempted, "unit": "ratio"},
            "driver_rss_mb": {"value": rss, "unit": "MB"},
        }
        t = tail(times)
        if t is not None:
            report["verdict_s_tail"] = {"value": t["value"], "unit": "s",
                                        "percentile": t["percentile"], "samples": len(times)}
        print(json.dumps({"report": report}))

        if tr.enabled:
            from perfbench.layers import layer_metrics, write_trace

            metrics, max_err = layer_metrics(tr, per_call)
            if max_err > 1e-6:
                problems.append(f"layer self times miss wall time by {max_err} ms")
            write_trace(os.path.join(WORK, "traces"), args, tr, per_call, report, max_err)
        else:
            metrics = {k: report[k] for k in
                       ("rows_per_s", "verdict_s_p50", "setup_s", "driver_rss_mb")}
            metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}
        for p in problems:
            print(f"perfbench: {p}", file=sys.stderr)
        print(json.dumps({
            "correct": not problems, "attempted": attempted, "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    return run(parse_args(sys.argv[1:] if argv is None else argv))


if __name__ == "__main__":
    sys.exit(main())
