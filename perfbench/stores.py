"""Read Spark's JVM status stores from outside the engine.

Both stores are populated with the Spark UI disabled (the engine default):

- ``sc._jsc.sc().statusStore()`` (AppStatusStore): jobs and stages, found
  through the job group each benchmark call is tagged with;
- ``spark._jsparkSession.sharedState().statusStore()`` (SQLAppStatusStore):
  each SQL execution's final plan graph and its operator metrics.

Everything here runs between jobs, never inside a timed region.
"""

from __future__ import annotations

import re

_MB = 1024.0 * 1024.0
_SIZE = {"B": 1.0, "KiB": 1024.0, "MiB": _MB, "GiB": _MB * 1024, "TiB": _MB * 1024 * 1024}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Numeric value of one formatted SQL metric, in bytes, seconds or count.

    Task-aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the figure before the parenthesis on the last line.
    """
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if m is None:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


def drain_listener(spark) -> None:
    """Wait until the listener bus has delivered every event of the last job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


class JobGroups:
    """Tags each benchmark call with its own ``setJobGroup`` and reads back
    the stages and SQL executions that ran under it."""

    def __init__(self, spark, prefix: str):
        self.spark = spark
        self.prefix = prefix
        self.n = 0
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_executions = self._sql.executionsCount()

    def start(self, label: str) -> str:
        self.n += 1
        group = f"{self.prefix}-{self.n}"
        self.spark.sparkContext.setJobGroup(group, label, False)
        return group

    def stop(self) -> None:
        self.spark.sparkContext._jsc.clearJobGroup()

    def job_ids(self, group: str) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def new_executions(self) -> list[tuple[int, set[int]]]:
        """(execution id, its job ids) for each SQL execution recorded since
        the previous call."""
        total = self._sql.executionsCount()
        if total == self._seen_executions:
            return []
        fresh = self._sql.executionsList(self._seen_executions, total - self._seen_executions)
        self._seen_executions = total
        return [
            (int(e.executionId()), {int(k) for k in _iter(e.jobs().keys())}) for e in _iter(fresh)
        ]

    # -- per-execution operator metrics --------------------------------------

    def plan_nodes(self, execution_id: int) -> list[dict]:
        """Final plan graph of one execution: node id, name, child ids and
        parsed metrics (``{metric name: value}``)."""
        values = self._sql.executionMetrics(execution_id)
        graph = self._sql.planGraph(execution_id)
        children: dict[int, list[int]] = {}
        for edge in _iter(graph.edges()):
            children.setdefault(int(edge.toId()), []).append(int(edge.fromId()))
        nodes = []
        for node in _iter(graph.allNodes()):
            metrics = {}
            for m in _iter(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            nodes.append(
                {
                    "id": int(node.id()),
                    "name": node.name(),
                    "children": sorted(children.get(int(node.id()), [])),
                    "metrics": metrics,
                }
            )
        return nodes

    # -- per-group stage metrics ---------------------------------------------

    def stage_metrics(self, job_ids: list[int]) -> dict:
        """Sum of stage counters over the jobs of one group, plus the task
        skew (max over median task run time) of its widest stage."""
        st = self.spark.sparkContext._jsc.sc().statusStore()
        tracker = self.spark.sparkContext.statusTracker()
        stage_ids = sorted({s for j in job_ids for s in (tracker.getJobInfo(j).stageIds or [])})
        gw = self.spark.sparkContext._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        out = dict.fromkeys(
            (
                "stages", "stages_skipped", "tasks", "executor_run_s", "executor_cpu_s",
                "gc_s", "input_mb", "shuffle_write_mb", "shuffle_read_mb",
                "shuffle_records", "spill_mb", "max_task_s", "task_skew",
            ),
            0.0,
        )
        widest = (-1, None)
        for sid in stage_ids:
            for s in _iter(st.stageData(sid, False, None, False, quantiles)):
                if s.status().toString() == "SKIPPED":
                    out["stages_skipped"] += 1
                    continue
                out["stages"] += 1
                out["tasks"] += s.numTasks()
                out["executor_run_s"] += s.executorRunTime() / 1e3
                out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["input_mb"] += s.inputBytes() / _MB
                out["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
                out["shuffle_read_mb"] += s.shuffleReadBytes() / _MB
                out["shuffle_records"] += s.shuffleWriteRecords()
                out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB
                if s.numTasks() > widest[0]:
                    widest = (s.numTasks(), (sid, s.attemptId()))
        if widest[1] is not None:
            sid, attempt = widest[1]
            attempts = [a for a in _iter(st.stageData(sid, False, None, True, quantiles))]
            dist = [a for a in attempts if a.attemptId() == attempt][0].taskMetricsDistributions()
            if dist.isDefined():
                run = dist.get().executorRunTime()
                med, top = run.apply(0) / 1e3, run.apply(1) / 1e3
                out["max_task_s"] = top
                out["task_skew"] = top / med if med > 0 else 1.0
        out["jobs"] = float(len(job_ids))
        return out


def output_rows(nodes: list[dict]) -> int | None:
    """Rows an execution produced: ``number of output rows`` of the topmost
    operator of its plan graph (:meth:`JobGroups.plan_nodes`) that reports
    it, walking down single-child links from the root. ``None`` when a
    multi-child node comes first."""
    by_id = {n["id"]: n for n in nodes}
    node = by_id[min(by_id)]
    while True:
        rows = node["metrics"].get("number of output rows")
        if rows is not None:
            return int(rows)
        kids = [k for k in node["children"] if k in by_id]
        if len(kids) != 1:
            return None
        node = by_id[kids[0]]


# -- Catalyst ------------------------------------------------------------------


def plan_counts(df) -> dict:
    """Operator counts of the physical plan Catalyst picks for ``df``. An
    AQE plan is counted on its initial plan (``df`` itself never runs), so
    the counts are exact and repeatable."""
    plan = df._jdf.queryExecution().executedPlan()
    counts = {"exchanges": 0, "sorts": 0, "windows": 0, "nodes": 0}
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.startswith("WholeStageCodegen") or name == "InputAdapter":
            stack.extend(_iter(node.children()))
            continue
        counts["nodes"] += 1
        if name == "Exchange":
            counts["exchanges"] += 1
        elif name == "Sort":
            counts["sorts"] += 1
        elif name.startswith("Window"):
            counts["windows"] += 1
        stack.extend(_iter(node.children()))
    return counts


def explain(df) -> str:
    """The formatted physical plan, as ``df.explain("formatted")`` prints it."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (``VmHWM``) of the Spark JVM, in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
