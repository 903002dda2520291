"""Warehouse benchmark: one command per workload.

    python3 perfbench/run.py --workload {etl_daily,corpus_screen}
        --seed N --seconds S --trace {0,1}

Run from the repository root. The command generates the workload's
inputs from ``--seed`` (pyarrow/pandas, never Spark), starts one
``session.get_spark(cpus=nproc)`` client, warms it, runs the measured
operations in a closed loop (each starts when the previous returned),
checks the outputs and prints, as the last line of stdout, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones: ``setup_s`` and
``cpu_s``, the CPU seconds the Python driver, the Spark JVM and its
Python workers spend on the set-up and on the timed operations.
With ``--trace 1`` they are the per-layer ones, and a trace file with
the span self-time and counter tables is written under
``.perfbench_out/``. The line before the result carries the
workload-specific detail (wall-clock names such as ``etl_load_p50_s``,
per-operation CPU medians, memory, the set-up split) for humans.

All scratch state (inputs, tables, indexes, checkpoints, Spark local
and temp dirs) lives in a fresh directory under ``.perfbench_work/``
that is deleted at exit; the Spark JVM and its Python workers are
stopped and waited for before the command returns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_daily", "corpus_screen")
GEN_REPEATS = 3


def _args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _isolate(work: str) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark
    into ``work`` (must run before the JVM starts)."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={work}/warehouse pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and so its Python workers) to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    a = _args()
    sys.path.insert(0, ROOT)
    # the engine under test; absent package = no benchmark (exit != 0)
    from building_coffee_commodity_trading_data_warehouse_spark.session import get_spark

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    _isolate(work)

    from harness import Recorder, cpu_seconds

    if a.workload == "etl_daily":
        from wl_etl import EtlDaily as Workload
    else:
        from wl_corpus import CorpusScreen as Workload

    def timed(fn, *args) -> tuple:
        """Run ``fn``; return its wall and CPU seconds."""
        c, t = cpu_seconds(), time.perf_counter()
        fn(*args)
        return time.perf_counter() - t, cpu_seconds() - c

    spark = None
    try:
        c, t = cpu_seconds(), time.perf_counter()
        spark = get_spark(f"perfbench_{a.workload}", cpus=len(os.sched_getaffinity(0)))
        spark.sparkContext.setLogLevel("ERROR")
        session = (time.perf_counter() - t, cpu_seconds() - c)

        rec = Recorder(spark, a.workload, traced=bool(a.trace))
        wl = Workload(spark, rec, work, a.seed, a.seconds)
        gen = [timed(wl.generate, f"{work}/inputs{i}") for i in range(GEN_REPEATS)]
        warm = timed(wl.warm)
        # set-up time is counted in CPU seconds, like cpu_s: the wall
        # time of set-up follows the shared host's load (perfbench/README.md)
        setup_wall_s = session[0] + statistics.median(w for w, _ in gen) + warm[0]
        setup_s = session[1] + statistics.median(c for _, c in gen) + warm[1]

        c0 = cpu_seconds()
        wl.measure()
        cpu_s = cpu_seconds() - c0
        wl.check()
        rep = wl.report()
        jvm = spark.sparkContext._jvm
        peak_rss_mb = (_vm_hwm_kb(jvm.java.lang.ProcessHandle.current().pid())
                       + _vm_hwm_kb("self")) / 1024.0
        detail = {
            "workload": a.workload,
            "seed": a.seed,
            "setup": {"wall_s": setup_wall_s, "session_s": session[0],
                      "generate_s": statistics.median(w for w, _ in gen), "warm_s": warm[0],
                      "session_cpu_s": session[1], "warm_cpu_s": warm[1]},
            "failed_op_ratio": rec.failed / max(1, rec.attempted),
            "peak_rss_mb": peak_rss_mb,
            "op_p50_s": rep["op_p50_s"],
            "total_s": rep["total_s"],
            "op_kind": rep["op_kind"],
            "cpu_s": cpu_s,
            "op_cpu_p50_s": {k: statistics.median(v) for k, v in rec.cpu.items()},
            **rep["detail"],
        }
        if a.trace:
            import tracing

            metrics = tracing.layer_metrics(rec, wl)
            detail["trace_file"] = tracing.write_tables(ROOT, a, rec, metrics)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "cpu_s": (cpu_s, "s"),
            }
        print(json.dumps({"detail": detail}))
        result = {
            "correct": rec.failed == 0,
            "attempted": rec.attempted,
            "failed": rec.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still has its directory there
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
