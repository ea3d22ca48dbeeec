"""Benchmark entry point.

    python3 perfbench/run.py --workload iot_upsert --seed 1 --seconds 3 --trace 0

Runs one workload (see ``workloads.py``) in one local Spark session from
the root of a source checkout. Set-up (session start, input generation,
warm pass) is timed as ``setup_s``; then operations run back to back for
``--seconds`` (at least one). The outputs are checked, and the last line
of stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``.

``--trace 0`` reports the end-to-end metrics: ``throughput_per_s``
(records per second of timed wall), ``latency_p50_s`` (median operation
time, with the sample count printed) and ``setup_s``. Each is measured
wall time scaled to an idle host by the host-speed reference of
``reference.py``, run in the same JVM just before and just after the
timed loop; the measured figures, the scale, peak JVM RSS and the failed
fraction are printed above the JSON line. A run has one operation when
an operation outlasts ``--seconds``, so no percentile above the median
is reported.

``--trace 1`` is the traced run (``tracing.py``): with Spark's event log
on, it sets up every workload BENCHMARK.json lists, runs each with the
span wrappers installed, and reports the per-layer metrics of all of
them; the tracing overhead is printed as a note.

Everything the run writes stays under ``perfbench/.work/`` of the
checkout. The runtime is set here, not in the package:
``SPARK_GRAFT_CPUS`` (all CPUs), ``SPARK_GRAFT_DRIVER_MEM`` (a quarter of
RAM, at most 4g) and ``PYTHONPATH`` (the checkout, for Python workers).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from pathlib import Path

from reference import HostReference
from tracing import TRACE_DIR, finish_traced_run, traced_run
from workloads import WORK, WORKLOADS, jvm_hwm_mb, timed_loop

ROOT = Path(__file__).resolve().parent.parent


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def driver_mem() -> str:
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1, min(4, total_kb // 2**20 // 4))}g"


def configure_runtime(trace: bool) -> dict:
    """Environment for the Spark launcher, set before the JVM starts."""
    WORK.mkdir(parents=True, exist_ok=True)
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p]),
        "TMPDIR": str(tmp),
        "TZ": "UTC",
    }
    conf = {
        "spark.ui.enabled": "false",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        log_dir = TRACE_DIR / "eventlog"
        shutil.rmtree(log_dir.parent, ignore_errors=True)
        log_dir.mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": str(log_dir),
        })
    # PySpark builds a fresh builder per call, so configs the package's
    # get_session does not set reach the JVM through the launcher's args
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()]
        + ["pyspark-shell"])
    os.environ.update(env)
    time.tzset()
    sys.path.insert(0, str(ROOT))
    return env


def main(argv=None) -> int:
    args = parse_args(argv)
    env = configure_runtime(bool(args.trace))
    try:
        from datapump_spark.session import get_session
    except ImportError as err:
        print(f"cannot import the program from {ROOT}: {err}", file=sys.stderr)
        return 2

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    t_setup = time.perf_counter()
    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup
    try:
        if args.trace:
            # a traced run covers every workload BENCHMARK.json lists
            listed = json.loads((ROOT / "BENCHMARK.json").read_text())
            result = traced_run(spark, WORKLOADS,
                                [w["name"] for w in listed["workloads"]], args)
        else:
            result = untraced_run(spark, WORKLOADS[args.workload], args,
                                  t_setup, session_s)
    finally:
        stop_jvm(spark)
    if args.trace:
        result = finish_traced_run(result)
    result["env"] = {k: env[k] for k in ("SPARK_GRAFT_CPUS",
                                         "SPARK_GRAFT_DRIVER_MEM",
                                         "PYTHONPATH")}
    result["seed"] = args.seed
    report(result)
    return 0


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM that runs it and wait for it.
    The launcher's JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def untraced_run(spark, cls, args, t_setup, session_s) -> dict:
    """Set up, warm, run the timed loop, check; end-to-end metrics."""
    wl = cls(spark, WORK, args.seed)
    shutil.rmtree(wl.work, ignore_errors=True)
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.start()
    wl.warm()
    warm_s = time.perf_counter() - t
    setup_s = time.perf_counter() - t_setup
    # the host's speed, measured on both sides of the timed loop
    ref = HostReference(spark, WORK)
    ref.measure()
    r = timed_loop(wl, args.seconds)
    ref.measure()
    rss = jvm_hwm_mb(spark)
    errors = wl.check()
    lat = r["latencies"]
    k = ref.scale()
    metrics = {
        "throughput_per_s": (r["records"] / (r["wall"] * k), "records/s"),
        "latency_p50_s": (statistics.median(lat) * k, "s"),
        "setup_s": (setup_s * k, "s"),
    }
    # a failed correctness check discredits every operation of the run
    failed = r["attempted"] if errors else r["failed"]
    return {
        "workload": wl.name, "errors": errors,
        "attempted": r["attempted"], "failed": failed, "metrics": metrics,
        "notes": {
            "samples": len(lat),
            "host_scale": round(k, 4),
            "reference_s": [round(x, 3) for x in ref.times],
            "measured_latencies_s": [round(x, 3) for x in lat],
            "measured_throughput_per_s": round(r["records"] / r["wall"], 3),
            "measured_setup_s": {"total": round(setup_s, 3),
                                 "session": round(session_s, 3),
                                 "generate": round(gen_s, 3),
                                 "warm": round(warm_s, 3)},
            "peak_rss_mb": round(rss, 1),
            "failed_frac": failed / max(1, r["attempted"]),
        },
    }


def report(result: dict) -> None:
    """Human-readable lines, then the one-line JSON result."""
    print(f"workload: {result['workload']}  seed: {result['seed']}")
    print(f"runtime: {result['env']}")
    for e in result.get("errors", []):
        print(f"CHECK FAILED: {e}")
    for k, v in result.get("notes", {}).items():
        print(f"{k}: {v}")
    for name, (value, unit) in result["metrics"].items():
        print(f"{result['workload']} {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": not result.get("errors"),
        "attempted": max(1, result["attempted"]),
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in result["metrics"].items()},
    }), flush=True)


if __name__ == "__main__":
    sys.exit(main())
