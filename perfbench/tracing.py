"""Per-layer metrics of a traced run, and the trace tables file.

Every workload reports every per-layer metric; a layer a workload
never calls reads 0 (the "predict no change" control)."""

from __future__ import annotations

import json
import os
import sys

# name -> unit. Layer spans are named "<module path>.<function>", so a
# prefix selects a module's calls.
PER_LAYER = {
    "sources.csv.read_s": "s",
    "sources.csv.rows": "count",
    "plans.ingest.load_s": "s",
    "plans.ingest.audit_s": "s",
    "plans.ingest.jobs": "count",
    "plans.ingest.bytes_written": "bytes",
    "plans.ingest.partitions_rewritten": "count",
    "plans.ods.build_s": "s",
    "plans.ods.load_s": "s",
    "plans.ods.jobs": "count",
    "plans.ods.shuffle_bytes": "bytes",
    "plans.bi.refresh_s": "s",
    "plans.bi.jobs": "count",
    "query.build_s": "s",
    "query.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.cpu_per_run": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "dedup.index_build_s": "s",
    "dedup.index_search_s": "s",
    "dedup.index_compact_s": "s",
    "dedup.index_vacuum_s": "s",
    "dedup.index_jobs_per_op": "count",
    "dedup.index_files": "count",
    "dedup.committed_batches": "count",
    "similarity.ivf_build_s": "s",
    "similarity.ivf_search_s": "s",
    "similarity.ivf_jobs": "count",
    "similarity.ivf_files": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.batch_overhead_ms": "ms",
    "streaming.input_rows": "count",
    "streaming.jobs": "count",
    "self.sources_s": "s",
    "self.plans_ingest_s": "s",
    "self.plans_ods_s": "s",
    "self.plans_bi_s": "s",
    "self.query_s": "s",
    "self.dedup_s": "s",
    "self.similarity_s": "s",
    "self.streaming_s": "s",
    "self.harness_s": "s",
    "trace.spans": "count",
    "trace.overhead_ms": "ms",
}

SELF_PREFIX = {
    "self.sources_s": "sources.",
    "self.plans_ingest_s": "plans.ingest.",
    "self.plans_ods_s": "plans.ods.",
    "self.plans_bi_s": "plans.bi.",
    "self.query_s": "query.",
    "self.dedup_s": "dedup.",
    "self.similarity_s": "similarity.",
    "self.streaming_s": "streaming.",
    "self.harness_s": "op.",
}


def layer_metrics(rec, wl) -> dict:
    t = rec.total
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({
        "sources.csv.read_s": rec.span_total("sources.csv."),
        "plans.ingest.load_s": rec.span_total("plans.ingest.load_with_audit"),
        "plans.ingest.audit_s": rec.span_total("plans.ingest.audit_append"),
        "plans.ingest.jobs": t("plans.ingest.", "jobs"),
        "plans.ingest.bytes_written": t("plans.ingest.", "output_bytes"),
        "plans.ods.build_s": rec.span_total("plans.ods.build"),
        "plans.ods.load_s": rec.span_total("plans.ods.load_fact"),
        "plans.ods.jobs": t("plans.ods.", "jobs"),
        "plans.ods.shuffle_bytes": t("plans.ods.", "shuffle_write_bytes"),
        "plans.bi.refresh_s": rec.span_total("plans.bi."),
        "plans.bi.jobs": t("plans.bi.", "jobs"),
        "query.build_s": rec.span_total("query.build"),
        "query.exec_s": rec.span_total("query.exec"),
        "spark.jobs": t("", "jobs"),
        "spark.stages": t("", "stages"),
        "spark.tasks": t("", "tasks"),
        "spark.job_s": t("", "job_s"),
        "spark.driver_gap_s": rec.gap_s,
        "spark.executor_run_ms": t("", "executor_run_ms"),
        "spark.executor_cpu_ms": t("", "executor_cpu_ns") / 1e6,
        "spark.shuffle_read_bytes": t("", "shuffle_read_bytes"),
        "spark.shuffle_write_bytes": t("", "shuffle_write_bytes"),
        "spark.input_bytes": t("", "input_bytes"),
        "spark.output_bytes": t("", "output_bytes"),
        "spark.spill_bytes": t("", "spill_bytes"),
        "dedup.index_build_s": rec.span_total("dedup.neardup_index_build"),
        "dedup.index_search_s": rec.span_total("dedup.neardup_index_search"),
        "dedup.index_compact_s": rec.span_total("dedup.neardup_index_compact"),
        "dedup.index_vacuum_s": rec.span_total("dedup.neardup_index_vacuum"),
        "similarity.ivf_build_s": rec.span_total("similarity.ivf_index_build"),
        "similarity.ivf_search_s": rec.span_total("similarity.ivf_index_search"),
        "similarity.ivf_jobs": t("similarity.", "jobs"),
        "streaming.jobs": t("streaming.", "jobs"),
        "trace.spans": float(len(rec.spans)),
        "trace.overhead_ms": rec.trace_cost_s * 1000.0,
    })
    if m["spark.executor_run_ms"]:
        m["spark.cpu_per_run"] = m["spark.executor_cpu_ms"] / m["spark.executor_run_ms"]
    n_dedup = rec.span_calls("dedup.")
    if n_dedup:
        m["dedup.index_jobs_per_op"] = t("dedup.", "jobs") / n_dedup
    selfs = rec.self_times()
    for key, prefix in SELF_PREFIX.items():
        m[key] = sum(r["self_s"] for name, r in selfs.items() if name.startswith(prefix))
    m.update(wl.layer_extra())
    return {k: (float(v), PER_LAYER[k]) for k, v in m.items()}


def write_tables(root: str, args, rec, metrics: dict) -> str:
    """Write the span self-time table, the per-layer counter table and
    the per-layer metrics of a traced run to one JSON file (once, at
    the end of the run); print the self-time table to stderr."""
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    selfs = rec.self_times()
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "self_time": selfs,
        "counters": {layer: dict(c) for layer, c in rec.counters.items()},
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "spans": rec.spans,
    }
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(f"{'span':<44}{'calls':>6}{'total_s':>10}{'self_s':>10}{'jobs':>6}", file=sys.stderr)
    for name, r in sorted(selfs.items(), key=lambda kv: -kv[1]["self_s"]):
        jobs = int(rec.counters.get(name, {}).get("jobs", 0))
        print(f"{name:<44}{r['calls']:>6}{r['total_s']:>10.3f}{r['self_s']:>10.3f}{jobs:>6}",
              file=sys.stderr)
    return os.path.relpath(path, root)
