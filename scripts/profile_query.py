"""Per-query job/stage profiler (r15, guide §1/§7.1): runs one bench
entry in a UI-enabled session, times N reps, then dumps the Spark UI
REST listing of jobs (count, duration, task counts, description) so a
query's fixed per-job overhead is measurable — VERDICT r14 items 1-3
ask for job counts, not guesses.

Usage: python scripts/profile_query.py <entry-name> [reps]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_CPUS   (default 32)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def get_spark_ui(cpus: int) -> SparkSession:
    # same confs as session.get_spark, with the UI enabled for the
    # REST jobs listing (profiling only — the bench keeps UI off)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("coffee_dw_profile")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.retainedJobs", "5000")
        .config("spark.ui.retainedStages", "5000")
        .getOrCreate()
    )


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_ui(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import bench as bench_mod
    import __spark_entry__ as entry_mod

    fn = bench_mod.EXTRA.get(name) or entry_mod.queries()[name]

    ui = spark.sparkContext.uiWebUrl

    def jobs_now():
        with urllib.request.urlopen(f"{ui}/api/v1/applications") as r:
            apps = json.loads(r.read())
        app_id = apps[0]["id"]
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded"
        ) as r:
            return json.loads(r.read())

    walls = []
    marks = []
    for i in range(reps):
        # highest jobId before this rep: the rep's jobs are the ones
        # above it, whatever order the REST API lists them in
        n0 = max((j["jobId"] for j in jobs_now()), default=-1)
        spark.sparkContext.setJobDescription(f"{name} rep{i}")
        t0 = time.perf_counter()
        res = fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
        if res is not None:
            res.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        walls.append(dt)
        marks.append((n0, t_build))
        spark.sparkContext.setJobDescription(None)
        del res
        import gc

        gc.collect()

    jobs = jobs_now()
    print(f"== {name}: walls={[round(w, 3) for w in walls]} "
          f"build_phase={[round(m[1], 3) for m in marks]}")
    # report the LAST rep's jobs (warm)
    last_max = marks[-1][0]
    jrep = sorted(
        (j for j in jobs if j["jobId"] > last_max), key=lambda j: j["jobId"]
    )
    tot_ms = 0
    for j in jrep:
        t0 = j.get("submissionTime", "")
        dur = None
        try:
            from datetime import datetime

            st = datetime.strptime(j["submissionTime"][:23], "%Y-%m-%dT%H:%M:%S.%f")
            en = datetime.strptime(j["completionTime"][:23], "%Y-%m-%dT%H:%M:%S.%f")
            dur = (en - st).total_seconds()
            tot_ms += dur
        except Exception:
            pass
        print(
            f"  job {j['jobId']:4d} {dur if dur is not None else '?':>7} s "
            f"tasks={j.get('numCompletedTasks', '?'):>4} "
            f"stages={len(j.get('stageIds', []))} :: "
            f"{(j.get('description') or j.get('name') or '')[:110]}"
        )
    print(f"== {name}: last-rep jobs={len(jrep)} sum_job_sec={round(tot_ms, 3)}")


if __name__ == "__main__":
    main()
