"""Movies-catalog benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload catalog_search --seed 1 --seconds 6 --trace 0

Run from the root of a checkout of the repository. The run generates a
movies catalog from ``--seed``, loads it into the engine's txlog source
tables under a fresh scratch root (``.perfbench_runs/`` in the checkout),
backfills the posting index through the CDC ETL, drives the workload
for ``--seconds`` seconds, checks the outputs, and prints as its last
stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics,
and the spans are written to ``.perfbench_runs/spans-<workload>-<seed>.json``.
The line before it is a report with every figure the workload measures.
Exit codes: 0 done, 2 bad arguments, 3 the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

STARTED = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.getcwd()
PACKAGE = "djangoadmin_postgresql_2_elasticseach_spark"
RUNS_DIR = ".perfbench_runs"
WORKLOAD_NAMES = ("catalog_search", "catalog_fuzzy", "catalog_cdc")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(root: str) -> dict[str, str]:
    """Pin the engine to this machine's cores and keep every file the
    run writes under ``root``. Returns the Spark conf to add."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_INDEX_CACHE=os.path.join(root, "index_cache"),
        SPARK_LOCAL_DIRS=os.path.join(root, "spark_local"),
        TMPDIR=tmp,
        # no /tmp/hsperfdata_<user> file from the launcher or driver JVM
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def jvm_pid(spark) -> int:
    name = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getName()
    return int(name.split("@")[0])


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of ``pid`` in MB (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait until the gateway JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(CHECKOUT, PACKAGE)):
        print(f"no {PACKAGE}/ in {CHECKOUT}: run from a checkout root",
              file=sys.stderr)
        return 3
    sys.path[:0] = [CHECKOUT, HERE]
    runs = os.path.join(CHECKOUT, RUNS_DIR)
    root = os.path.join(runs, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    conf = isolate(root)
    try:
        return run(args, root, conf, runs)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run(args, root: str, conf: dict, runs: str) -> int:
    from djangoadmin_postgresql_2_elasticseach_spark.session import get_spark

    import report
    from spans import Tracer, jvm_gc_seconds
    from workloads import WORKLOADS, Bench

    spark = get_spark(extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, enabled=bool(args.trace))
        bench = Bench(spark, root, args.seed, tracer)
        t0 = time.perf_counter()
        bench.setup()
        setup_s = time.perf_counter() - t0
        gc0 = jvm_gc_seconds(spark)
        figures = {"measured_s": WORKLOADS[args.workload](bench, args.seconds)}
        figures["gc_s"] = jvm_gc_seconds(spark) - gc0
        t1 = time.perf_counter()
        bench.gate_live_docs()
        figures["phases_s"] = {
            "start": t0 - STARTED,
            "setup": setup_s,
            "workload": t1 - t0 - setup_s,
            "final_gate": time.perf_counter() - t1,
        }
        figures["setup_s"] = setup_s
        figures["index_bytes"] = report.index_bytes(bench.idx)
        figures["peak_rss_mb"] = (
            vm_hwm_mb(jvm_pid(spark))
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
    finally:
        stop_spark(spark)
    full = report.end_to_end(args.workload, bench, figures)
    extra = {}
    if args.trace:
        metrics, extra["self_s"] = report.per_layer(
            args.workload, bench, tracer, figures
        )
        tracer.write(os.path.join(runs, f"spans-{args.workload}-{args.seed}.json"))
    else:
        metrics = report.contract_metrics(full)
    extra["phases_s"] = dict(figures["phases_s"], total=time.perf_counter() - STARTED)
    print(json.dumps({"report": full, **extra, "failures": bench.failures[:20]}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
