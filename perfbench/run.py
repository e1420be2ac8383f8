"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 2 --trace 0

Runs one workload in this process against the package in the checkout
this file sits in, on ``local[<cores>]`` with one closed-loop client,
and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (see README.md). The line before it names the workload's own
metrics in the units a user reads them in.

The run is hermetic: Spark's cores are pinned to the cores this process
may use, every other setting stays at the package's default, and the
working directory, warehouse, lake, Spark local dirs and temp files all
live in a fresh directory under ``.perfbench_work/`` that is removed at
exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "utn_dataengineering_stockmarketpipeline_spark"


def hermetic_env(work: str) -> None:
    """Pin the settings the program reads from the environment (cores,
    dirs, the progress bar) and unset those that would override its
    defaults; must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp  # gettempdir() may have cached TMPDIR already
    cores = len(os.sched_getaffinity(0))
    for var in ("SPARK_MASTER", "SPARK_GRAFT_SHUFFLE", "SPARK_UI",
                "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # PySpark's Python workers import the package's UDFs by name
        "PYTHONPATH": os.pathsep.join(
            [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM (spark-submit's launcher too) keeps its temp files
        # here and writes no hsperfdata
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # import the package from this checkout only, never from elsewhere
    sys.path.insert(0, ROOT)
    import importlib

    try:
        pkg = importlib.import_module(PKG)
    except ImportError as e:
        print(f"perfbench: cannot import {PKG} from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: {PKG} resolved outside {ROOT}", file=sys.stderr)
        return 2

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(work)
    spark = None
    try:
        hermetic_env(work)
        os.chdir(work)  # the Spark warehouse path is relative to the cwd
        from utn_dataengineering_stockmarketpipeline_spark.session import get_spark

        from pyspark import SparkContext

        t = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t
        jvm_pid = SparkContext._gateway.proc.pid
        ctx = workloads.Context(
            spark=spark, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), work=work, t_start=T_START,
            setup_layers={"session.get_spark": session_s},
        )
        result = workloads.WORKLOADS[args.workload](ctx)
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    summary = dict(result.summary, peak_rss_mb=round(rss, 1),
                   fail_ratio=result.failed / result.attempted)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, **summary}), flush=True)
    if args.trace:
        metrics = result.layer_metrics
    else:
        metrics = {k: {"value": result.end_to_end[k], "unit": u}
                   for k, u in workloads.END_TO_END}
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
