"""Turn one run's record into metrics: human-readable lines, then the JSON
result line.

End-to-end metrics (``--trace 0``) are what a user of the engine sees.
Per-layer metrics (``--trace 1``) are medians over the traced jobs of each
job's own total; a layer a workload never enters reads 0.
"""

from __future__ import annotations

import json
import statistics

from perfbench.workloads import HEADLINE

END_TO_END = [
    ("setup_s", "s"),
    ("job_s", "s"),
    ("turns_per_s", "1/s"),
]

#: span name -> per-layer metric (its per-job total duration)
SPAN_METRICS = {
    "sources.build": "sources.build_s",
    "catalyst.plan": "catalyst.plan_s",
    "spark.execute": "spark.execute_s",
}
#: spans only the workloads outside BENCHMARK.json enter
EXTRA_SPAN_METRICS = {
    "operators.backfill.build": "operators.backfill.build_s",
    "operators.asof.build": "operators.asof.build_s",
    "operators.windows.build": "operators.windows.build_s",
    "operators.dedup.build": "operators.dedup.build_s",
    "operators.similarity.build": "operators.similarity.build_s",
    "operators.textstats.build": "operators.textstats.build_s",
    **{f"entry_queries.{q}.build": f"entry_queries.{q}.build_s" for q in HEADLINE},
    "lineage.run": "lineage.run_s",
    "lineage.resume": "lineage.resume_s",
    "lineage.feature_hash": "lineage.feature_hash_s",
    "pipeline.run_auto_pipeline": "pipeline.run_auto_pipeline_s",
}

#: status-store counters summed over a job's calls: key -> (metric, unit)
SPARK_COUNTERS = {
    "jobs": ("spark.jobs", "count"),
    "stages": ("spark.stages", "count"),
    "stages_skipped": ("spark.stages_skipped", "count"),
    "tasks": ("spark.tasks", "count"),
    "executor_run_s": ("spark.executor_run_s", "s"),
    "executor_cpu_s": ("spark.executor_cpu_s", "s"),
    "gc_s": ("spark.gc_s", "s"),
    "input_mb": ("spark.input_mb", "MiB"),
    "shuffle_write_mb": ("spark.shuffle_write_mb", "MiB"),
    "shuffle_read_mb": ("spark.shuffle_read_mb", "MiB"),
    "shuffle_records": ("spark.shuffle_records", "count"),
    "spill_mb": ("spark.spill_mb", "MiB"),
    "max_task_s": ("spark.max_task_s", "s"),
    "task_skew": ("spark.task_skew", "ratio"),
}
OP_COUNTERS = {
    "scan_s": ("op.scan_s", "s"),
    "sort_s": ("op.sort_s", "s"),
    "wscg_s": ("op.wscg_s", "s"),
    "peak_mem_mb": ("op.peak_mem_mb", "MiB"),
}
PLAN_COUNTERS = ("exchanges", "sorts", "windows", "nodes")

#: the per-layer metrics every workload reports: (name, unit, better)
PER_LAYER = [
    ("session.jvm_start_s", "s", "lower"),
    ("session.peak_rss_mb", "MiB", "lower"),
    ("session.get_spark_s", "s", "lower"),
    ("sources.datagen_s", "s", "lower"),
    # all operator modules' build calls; one per module would read a constant
    # 0 on a workload that never calls it (the split is in the span table)
    ("operators.build_s", "s", "lower"),
    *[(m, "s", "lower") for m in SPAN_METRICS.values()],
    *[(f"catalyst.{c}", "count", "lower") for c in PLAN_COUNTERS],
    *[(m, u, "lower") for m, u in SPARK_COUNTERS.values()],
    *[(m, u, "lower") for m, u in OP_COUNTERS.values()],
    ("exchange.rows_per_output_row", "ratio", "lower"),
    ("trace.job_s", "s", "lower"),
    ("trace.untraced_job_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.residual_s", "s", "lower"),
    ("trace.residual_frac", "ratio", "lower"),
]
#: reported only by the workload whose layer it measures
EXTRA_PER_LAYER = [
    *[(m, "s", "lower") for m in EXTRA_SPAN_METRICS.values()],
    ("lineage.bucket_s", "s", "lower"),
    ("lineage.jobs_per_bucket", "count", "lower"),
    ("lineage.out_mb", "MiB", "lower"),
    ("lineage.write_amp", "ratio", "lower"),
    ("pipeline.manifest_coverage", "ratio", "higher"),
]
UNITS = {name: unit for name, unit, _ in PER_LAYER + EXTRA_PER_LAYER} | dict(END_TO_END)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec: dict) -> tuple[dict, dict]:
    """Metric values and their sample counts."""
    times = [j["time"] for j in rec["jobs"] if j["measured"]]
    setups = [s[0] for s in rec["setups"]]
    values = {
        "setup_s": _median(setups),
        "job_s": _median(times),
        # turns through one median job: the median keeps a stray slow job
        # (a GC pause, a neighbour's burst) out of the throughput figure
        "turns_per_s": rec["turns"] / _median(times),
    }
    counts = {"setup_s": len(setups), "job_s": len(times), "turns_per_s": len(times)}
    return values, counts


def per_layer(rec: dict, wl) -> tuple[dict, dict]:
    traced = [j for j in rec["jobs"] if j["measured"] and j["traced"]]
    untraced = [j for j in rec["jobs"] if j["measured"] and not j["traced"]]
    per_job: list[dict] = []
    spans = SPAN_METRICS | {s: m for s, m in EXTRA_SPAN_METRICS.items() if m in wl.extra_layers}
    for j in traced:
        m = {metric: j["spans"].get(span, {}).get("dur_s", 0.0) for span, metric in spans.items()}
        m["operators.build_s"] = sum(
            v["dur_s"] for k, v in j["spans"].items() if k.startswith("operators.")
        )
        calls = [c for c in j["calls"] if "spark" in c]
        for key, (metric, _) in SPARK_COUNTERS.items():
            vals = [c["spark"][key] for c in calls]
            m[metric] = max(vals, default=0.0) if key in ("max_task_s", "task_skew") else sum(vals)
        for key, (metric, _) in OP_COUNTERS.items():
            vals = [c["op"][key] for c in calls]
            m[metric] = max(vals, default=0.0) if key == "peak_mem_mb" else sum(vals)
        for key in PLAN_COUNTERS:
            m[f"catalyst.{key}"] = sum(c["plan"][key] for c in calls if c.get("plan"))
        rows = sum(wl.output_rows(c) for c in calls)
        records = sum(c["op"]["exchange_records"] for c in calls)
        m["exchange.rows_per_output_row"] = records / rows if rows else 0.0
        if "lineage.jobs_per_bucket" in wl.extra_layers:
            m["lineage.jobs_per_bucket"] = m["spark.jobs"] / wl.n_buckets
        m["trace.residual_frac"] = j["residual_s"] / j["wall"]
        per_job.append(m)

    values = {name: 0.0 for name, _, _ in PER_LAYER}
    values |= {name: 0.0 for name, _, _ in EXTRA_PER_LAYER if name in wl.extra_layers}
    for name in per_job[0] if per_job else ():
        values[name] = _median([m[name] for m in per_job])
    values["session.jvm_start_s"] = rec["jvm_start_s"]
    values["session.peak_rss_mb"] = rec["peak_rss_mb"]
    values["session.get_spark_s"] = _median([s[1] for s in rec["setups"]])
    values["sources.datagen_s"] = rec["datagen_s"]
    values.update(wl.extra_metrics(traced))
    values["trace.job_s"] = _median([j["time"] for j in traced])
    values["trace.untraced_job_s"] = _median([j["time"] for j in untraced])
    values["trace.overhead_s"] = values["trace.job_s"] - values["trace.untraced_job_s"]
    values["trace.residual_s"] = _median([j["residual_s"] for j in traced])
    counts = {name: len(traced) for name in values}
    return values, counts


def self_times(rec: dict) -> dict:
    """Median self time per span name over the traced jobs; they add up to
    the job's wall time, the ``job`` entry being the unexplained residual."""
    traced = [j for j in rec["jobs"] if j["measured"] and j["traced"]]
    names = sorted({n for j in traced for n in j["spans"]})
    return {n: _median([j["spans"].get(n, {}).get("self_s", 0.0) for j in traced]) for n in names}


def emit(rec: dict, wl) -> None:
    if rec["trace"]:
        values, counts = per_layer(rec, wl)
    else:
        values, counts = end_to_end(rec)
    # every job run (warm-up included) and the whole-output check are attempts
    failed = sum(1 for j in rec["jobs"] if j["errors"]) + (1 if rec["check_errors"] else 0)
    attempted = len(rec["jobs"]) + 1
    print(f"workload {rec['workload']} seed {rec['seed']} trace {rec['trace']} "
          f"on local[{rec['cores']}], {rec['turns']} input turns per job")
    for name, value in values.items():
        print(f"  {name:40s} {value:14.6g} {UNITS[name]:6s} n={counts[name]}")
    print(f"  {'failed_ops_frac':40s} {failed / attempted:14.6g} {'ratio':6s} n={attempted}")
    print(f"  {'peak_rss_mb':40s} {rec['peak_rss_mb']:14.6g} {'MiB':6s} n=1")
    if rec["trace"]:
        print("  self time per span (median s over traced jobs; 'job' is the residual):")
        for name, s in self_times(rec).items():
            print(f"    {name:38s} {s:12.6f}")
    measured = [j for j in rec["jobs"] if j["measured"]]
    print(f"  steal: the host gave {_median([j['given'] for j in measured]):.3f} of the CPU time "
          f"asked for (median over measured jobs); raw median job wall "
          f"{_median([j['wall'] for j in measured]):.4f} s")
    print(f"  calibration_s {rec['calibration_s']:.3f}  loadavg {rec['loadavg_start'][0]:.2f} -> "
          f"{rec['loadavg_end'][0]:.2f}  jvm_start_s {rec['jvm_start_s']:.2f}")
    if rec["rounding_ties"]:
        print(f"  rounding ties accepted by the output check: {rec['rounding_ties']} rows "
              "(Spark rounds an exact decimal tie up, DuckDB the double below it)")
    for err in rec["errors"]:
        print(f"  ERROR {err}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": UNITS[n]} for n, v in values.items()},
    }
    print(json.dumps(result))
