"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Runs one workload (see workloads.py and README.md) on a local[4] Spark
session started in this process, from any working directory. All
scratch files go under ``.bench_work/`` at the repository root and are
removed at exit. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics, and the spans are written
to ``.bench_work/traces/``. A report of every figure the run measured
goes to standard error. The exit code is 0 only when every operation
succeeded and matched the oracle.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _heap_live_mb(spark) -> float:
    """Heap in use after full collections: what the run left live.
    Python collects first, so py4j releases the JVM objects it held.
    Spark frees blocks of collected broadcasts and shuffles on a
    cleaner thread, so collections are spaced out and the least
    reading is kept."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        used.append(rt.totalMemory() - rt.freeMemory())
        time.sleep(0.5)
    return min(used) / 2**20


def _stop(spark, jvm_pid: int) -> None:
    """Stop Spark, end the JVM and its Python workers, wait for all."""
    from pyspark import SparkContext

    procs = [jvm_pid] + _children(jvm_pid)
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits at end of its stdin
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass  # killed below
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            continue
    if gateway is not None and gateway.proc.poll() is None:
        gateway.proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "churn"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "top2vec_spark", "__init__.py")):
        print(f"perfbench: no top2vec_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    units = {m["name"]: m["unit"] for m in declared["per_layer" if args.trace else "end_to_end"]}

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    # Spark's JVM, its Python workers and this process inherit these:
    # scratch stays in the checkout, and workers import the engine
    # from the checkout whatever the working directory
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [HERE, ROOT]

    from top2vec_spark.session import get_spark
    from tracing import Tracer
    from workloads import WORKLOADS, Run, layer_metrics

    t0 = time.perf_counter()
    spark = get_spark(
        parallelism=CORES,
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.ui.showConsoleProgress": "false",
            # keep every job's stage info until the traced run counts it
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    session_s = time.perf_counter() - t0
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    try:
        run = Run(spark, Tracer(spark, args.trace == 1), work, args.seed, args.seconds)
        e2e, report = WORKLOADS[args.workload](run, session_s)
        report["jvm_peak_rss_mb"] = _peak_rss_mb(jvm_pid)
        e2e["jvm_heap_live_mb"] = _heap_live_mb(spark)
        if args.trace:
            metrics = layer_metrics(run, session_s)
            report["layer_self_s"] = run.tracer.self_times()
            report["traced_end_to_end"] = e2e
        else:
            metrics = e2e
        if set(metrics) != set(units):
            raise RuntimeError(f"metrics {sorted(metrics)} != declared {sorted(units)}")
    finally:
        _stop(spark, jvm_pid)
        shutil.rmtree(work, ignore_errors=True)

    report["op_error_rate"] = run.failed / run.attempted
    if args.trace:
        tdir = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(f"{tdir}/{args.workload}-seed{args.seed}.json", "w") as f:
            json.dump({"spans": run.tracer.spans, "jobs": run.tracer.op_jobs,
                       "report": report}, f)
    for k, v in sorted(report.items()):
        print(f"perfbench {args.workload}: {k} = {v}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
