#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload backfill_dense --seed 1 --seconds 10 --trace 0

A run, in one Python driver process on ``local[N]`` (N = min(2, cores)),
closed loop — each job starts when the previous one has finished:

1. start the JVM, then generate the seeded inputs (cached on disk by
   (seed, size)) and compute the DuckDB oracles — outside every metric;
2. set up three times — ``get_spark`` in a new session, load the inputs,
   run the session's three cold jobs — and report the median as ``setup_s``;
3. run more jobs, outside every metric, until the JVM has run the
   workload's ``warm_jobs`` of them, so that every run measures at the same
   point of the JIT's warm-up;
4. run jobs for ``--seconds`` seconds of wall time (at least three jobs),
   checking each job's output row count against the oracle;
5. compare whole outputs with the oracles, save each job's formatted
   ``explain``, run the fixed-cost calibration job.

Every reported time is a wall time with the host's CPU steal taken out
(``steal.py``); the raw wall times are kept in the run record.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced jobs and reports the per-layer metrics of the traced
ones, their self-time residual and the tracing overhead. Human-readable
lines go first; the last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SETUPS = 3
# a new session's first job pays its cold costs and the next two settle;
# a fixed count keeps the set-up's work the same from run to run
SETUP_JOBS = 3
MIN_JOBS = 3
MIN_TRACE_JOBS = 4  # two traced, two untraced


class Runner:
    def __init__(self, workload, seed: int, seconds: float, trace: bool):
        from perfbench.trace import Tracer

        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(installed=trace)
        self.wl = workload(seed=seed, tracer=self.tracer)
        self.spark = None
        # jobs at this input size are bound by per-job overhead: local[2] runs
        # them as fast as local[4] on a 4-core box, and leaving cores to the
        # driver, JIT and GC threads makes their times steadier
        self.cores = min(2, len(os.sched_getaffinity(0)))
        self.jobs: list[dict] = []

    def session(self):
        from kgfarm_spark.session import get_spark
        from perfbench import WORK

        # scratch files (shuffle blocks, JVM and Python temp files) stay
        # inside the checkout, under the ignored work directory
        tmp = os.path.join(WORK, "tmp")
        return get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.driver.memory": "1g",
                # the heap starts at its full size, so G1 does not resize it
                # (and change its collection rhythm) while jobs are measured
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g",
                "spark.local.dir": os.path.join(WORK, "spark-local"),
                "spark.ui.showConsoleProgress": "false",
            },
        )

    # -- one job -----------------------------------------------------------

    def run_job(self, traced: bool, measured: bool) -> dict:
        from perfbench.steal import Interval
        from perfbench.stores import drain_listener, output_rows

        wl, tr = self.wl, self.tracer
        tr.enabled = traced
        calls = wl.calls()
        wl.reset()
        groups, infos, walls, errors, tracebacks = [], [], [], [], []
        root = len(tr.spans)
        with Interval() as clock, tr.span("job"):
            for call in calls:
                groups.append(self.groups.start(call.label))
                c0 = time.monotonic()
                try:
                    infos.append(wl.run_call(call))
                except Exception as e:  # a failed call counts; the run goes on
                    infos.append(None)
                    errors.append(f"{call.label} raised {type(e).__name__}: {e}")
                    tracebacks.append(traceback.format_exc())
                walls.append(time.monotonic() - c0)
                self.groups.stop()
        tr.enabled = False

        drain_listener(self.spark)
        fresh = self.groups.new_executions()
        # "time" is the wall time with steal taken out; "given" the share kept
        job = {"wall": clock.wall, "time": clock.time, "given": clock.share, "call_walls": walls,
               "infos": infos, "traced": traced, "measured": measured, "calls": []}
        for call, group, info in zip(calls, groups, infos):
            job_ids = self.groups.job_ids(group)
            executions = [eid for eid, jobs in fresh if jobs & set(job_ids)]
            rec = {"label": call.label}
            if info is None:
                job["calls"].append(rec)
                continue
            nodes = None
            if executions and (traced or call.expected_rows is not None):
                nodes = self.groups.plan_nodes(executions[-1])
            rows = output_rows(nodes) if nodes else None
            err = wl.job_check(call, info, rows)
            if err:
                errors.append(err)
            if traced:
                rec.update(self._layer_counters(job_ids, executions, nodes, rows, info))
                if info.get("plan") and info["plan"]["exchanges"] and rec["spark"]["shuffle_write_mb"] == 0:
                    # self-check: a plan with an Exchange must show shuffle bytes
                    errors.append(f"{call.label}: status store read 0 shuffle bytes for a plan with an Exchange")
            job["calls"].append(rec)
        if traced:
            job["spans"] = tr.job_breakdown(root)
            job["residual_s"] = job["spans"]["job"]["self_s"]
        job["errors"] = errors
        job["tracebacks"] = tracebacks
        self.jobs.append(job)
        return job

    def _layer_counters(self, job_ids, executions, sink_nodes, rows, info) -> dict:
        rec = {"spark": self.groups.stage_metrics(job_ids), "plan": info.get("plan")}
        op = {"scan_s": 0.0, "sort_s": 0.0, "wscg_s": 0.0, "peak_mem_mb": 0.0, "exchange_records": 0.0}
        for eid in executions:
            nodes = sink_nodes if eid == executions[-1] else self.groups.plan_nodes(eid)
            for n in nodes:
                m = n["metrics"]
                op["scan_s"] += m.get("scan time", 0.0)
                op["sort_s"] += m.get("sort time", 0.0)
                if n["name"].startswith("WholeStageCodegen"):
                    op["wscg_s"] += m.get("duration", 0.0)
                op["peak_mem_mb"] = max(op["peak_mem_mb"], m.get("peak memory", 0.0) / 1024**2)
                if n["name"] == "Exchange":
                    op["exchange_records"] += m.get("shuffle records written", 0.0)
        rec["op"] = op
        rec["rows"] = rows
        return rec

    # -- phases ------------------------------------------------------------

    def setup(self) -> tuple[float, float, float]:
        """One setup: new session, load, cold jobs. Returns (setup_s,
        get_spark_s, its wall time)."""
        from perfbench.steal import Interval
        from perfbench.stores import JobGroups

        if self.spark is not None:
            self.spark.stop()
        with Interval() as clock:
            with Interval() as get_spark:
                self.spark = self.session()
            self.groups = JobGroups(self.spark, f"perfbench-{len(self.jobs)}")
            self.wl.load(self.spark)
            for _ in range(SETUP_JOBS):
                self.run_job(traced=False, measured=False)
        return clock.time, get_spark.time, clock.wall

    def warm_up(self) -> None:
        while len(self.jobs) < self.wl.warm_jobs:
            self.run_job(traced=False, measured=False)

    def measure(self) -> None:
        spent, n = 0.0, 0
        while spent < self.seconds or n < (MIN_TRACE_JOBS if self.trace else MIN_JOBS):
            # trace runs alternate traced and untraced jobs, untraced first
            job = self.run_job(traced=self.trace and n % 2 == 1, measured=True)
            spent += job["wall"]
            n += 1

    def calibrate(self) -> float:
        """Fixed-cost JVM job with no engine code and no I/O (as bench.py's):
        its time moves only with machine load."""
        from pyspark.sql import functions as F

        t0 = time.monotonic()
        self.spark.range(0, 50_000_000, 1, self.cores).select(F.avg(F.xxhash64("id"))).collect()
        return time.monotonic() - t0


def _stop_gateway(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import kgfarm_spark.session  # the engine under test, from this checkout
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(kgfarm_spark.session.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported an engine outside {ROOT}", file=sys.stderr)
        return 2
    from perfbench import WORK
    from perfbench.report import emit
    from perfbench.stores import explain, jvm_peak_rss_mb
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")  # pyspark's gateway files
    run = Runner(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    os.makedirs(os.path.join(run_dir, "explain"), exist_ok=True)

    # wall time of each phase, to budget runs (not a metric)
    phases: dict[str, float] = {}
    mark = [time.monotonic()]

    def phase(name: str) -> None:
        now = time.monotonic()
        phases[name] = now - mark[0]
        mark[0] = now

    load_start = os.getloadavg()
    spark = run.session()
    phase("jvm_start")
    jvm_start_s = phases["jvm_start"]
    run.wl.prepare(spark)
    spark.stop()
    phase("prepare")
    setups = [run.setup() for _ in range(SETUPS)]
    phase("setups")
    run.warm_up()
    phase("warm_up")
    run.measure()
    phase("measure")
    check_errors = run.wl.full_check(run.jobs)
    phase("check")
    for label, df in run.wl.explain_frames().items():
        with open(os.path.join(run_dir, "explain", f"{label}.txt"), "w") as f:
            f.write(explain(df))
    calibration_s = run.calibrate()
    peak_rss_mb = jvm_peak_rss_mb(run.spark)
    _stop_gateway(run.spark)
    phase("explain_calibrate_stop")

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": run.cores,
        "turns": run.wl.turns,
        "jvm_start_s": jvm_start_s,
        "datagen_s": run.wl.datagen_s,
        "setups": setups,
        "phases": phases,
        "calibration_s": calibration_s,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "peak_rss_mb": peak_rss_mb,
        "check_errors": check_errors,
        "rounding_ties": run.wl.rounding_ties,
        "errors": [e for j in run.jobs for e in j["errors"]] + check_errors,
        "jobs": run.jobs,
    }
    with open(os.path.join(run_dir, "run.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    emit(record, run.wl)
    return 0


if __name__ == "__main__":
    sys.exit(main())
