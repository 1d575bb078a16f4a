"""Benchmark entry point.

    python3 perfbench/run.py --workload chain_prod --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, runs it in this (fresh) process, checks its outputs and
prints two lines on stdout: a detail line stamped with the host and
protocol, then the result line
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
With ``--trace 0`` the metrics are the end-to-end ones; ``--trace 1``
enables the Spark UI, records layer spans and prints the per-layer
metrics instead. Spark's logs go to stderr.

Every run works in its own directory under ``.perfbench_runs/`` in the
checkout (temp files, Spark local dirs, warehouse, stream checkpoint
and output), removed at exit; directories left by killed runs are
removed by the next run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

import workloads
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROTOCOL = "perfbench-1"


def process_start_time() -> float:
    """This process's start, from /proc (clock ticks since boot)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def make_work_dir() -> str:
    """A fresh per-run directory; directories of dead runs are removed."""
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    for d in os.listdir(runs):
        pid = d.split("-")[0]
        if pid.isdigit() and not _pid_alive(int(pid)):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
    work = os.path.join(runs, f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    return work


def isolate(work: str) -> None:
    """Point every temp, scratch and warehouse location at ``work`` and
    size Spark to this host, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "8g",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })


def stamp(workload: str, seed: int, trace: bool) -> dict:
    import duckdb
    import pyspark

    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        head = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "pids_drg_esoa_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(f.read())
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line.split()[1] for line in f if line.startswith("MemTotal")))
    return {
        "protocol": PROTOCOL, "workload": workload, "seed": seed, "trace": trace,
        "nproc": len(os.sched_getaffinity(0)), "ram_gib": round(mem_kb / 2**20, 1),
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__, "git_head": head, "source_sha256": h.hexdigest()[:16],
    }


def stop_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = process_start_time()

    work = make_work_dir()
    try:
        isolate(work)
        sys.path.insert(0, ROOT)
        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(workloads.WORKLOADS)}")
        from pids_drg_esoa_spark.session import get_spark

        trace = bool(args.trace)
        conf = {"spark.ui.showConsoleProgress": "false"}
        if trace:
            conf.update({
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        run = workloads.Run(
            start_session=lambda: get_spark(app_name=f"perfbench-{args.workload}",
                                            ui=trace, extra_conf=conf),
            seed=args.seed, seconds=args.seconds, tracer=Tracer(trace),
            work_dir=work, process_start=t_proc,
        )
        res = workloads.WORKLOADS[args.workload](run)
        header = stamp(args.workload, args.seed, trace)
    finally:
        t_stop = time.time()
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    res.detail["stop_s"] = time.time() - t_stop

    if trace:
        units = workloads.LAYER_UNITS
        values = {k: res.layers.get(k, 0.0) for k in units}
    else:
        units, values = workloads.E2E_UNITS, res.e2e
    print(json.dumps({"perfbench": header, "detail": res.detail}))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
