"""Tracing for the benchmark's traced run (``--trace 1``).

Two sources, both kept outside the program under test:

- **spans** the benchmark records around each call into a layer (name,
  layer, start, end, parent, operation id), held in memory and written
  into the run artifact at exit;
- the **Spark event log**, switched on through Spark configuration in
  the benchmark's environment.  Before each layer call the benchmark
  sets the local properties ``perfbench.layer`` and ``perfbench.op``
  (and a job description naming both), so every Spark job, and through
  it every stage and task, is attributed to the layer whose public call
  started it.

``parse_event_log`` turns a log into per-operation ``spark.*`` and
``operators.*`` numbers.  Stages are classified by their physical-plan
nodes (Window, joins, Python evaluation): the nodes whose SQL metrics a
stage updates, plus the operator scopes of its RDDs.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

_WINDOW = re.compile(r"^Window")
_JOIN = re.compile(r"Join$|^CartesianProduct")
# BatchScan is a DataSource V2 scan; the package's only V2 source is the
# Python ``sensorthings`` data source, whose reads run in Python workers
_PYTHON = re.compile(r"Python|Pandas|Arrow|^BatchScan|^MapInBatch")


class Tracer:
    """Span recorder; with ``enabled=False`` layer spans cost one branch
    and set no Spark properties (the untraced run)."""

    def __init__(self, enabled: bool = False):
        self.sc = None
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def _props(self, layer: str | None) -> None:
        if self.sc is None or self.sc._jsc is None:  # no live context
            return
        self.sc.setLocalProperty("perfbench.layer", layer)
        self.sc.setLocalProperty("perfbench.op", self.op)
        self.sc.setJobDescription(
            f"{layer}:{self.op}" if layer is not None else None
        )

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "layer": layer,
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        idx = len(self.spans)
        self.spans.append(rec)
        outer = self.spans[self._stack[-1]]["layer"] if self._stack else None
        self._stack.append(idx)
        self._props(layer)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._props(outer)


# ------------------------------------------------------------ event log


def _plan_nodes(info: dict, acc_to_node: dict) -> None:
    name = info.get("nodeName", "")
    for m in info.get("metrics", []):
        acc_to_node[m["accumulatorId"]] = name
    for ch in info.get("children", []):
        _plan_nodes(ch, acc_to_node)


def _rdd_scopes(stage_info: dict) -> set:
    """Operator names from the stage's RDD scopes: non-codegen plan nodes
    (Window, Exchange, scans) appear here even for jobs that run outside
    a SQL execution (``DataFrame.foreachPartition``)."""
    out = set()
    for r in stage_info.get("RDD Info", []):
        try:
            name = json.loads(r.get("Scope") or "{}").get("name")
        except ValueError:
            continue
        if name and not name.startswith("WholeStageCodegen"):
            out.add(name)
    return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def parse_event_log(path: str) -> dict:
    """Read one Spark event log (JSON lines) into jobs, stages and tasks.

    Returns ``{"jobs": {id: {op, layer, stages}}, "stages": {id: {...}},
    "tasks": [...]}``; a stage records its task count, the plan-node
    names whose metrics it updated and the job that ran it."""
    acc_to_node: dict = {}
    jobs: dict = {}
    stage_job: dict = {}
    stages: dict = {}
    tasks: list = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _plan_nodes(ev.get("sparkPlanInfo", {}), acc_to_node)
            elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                for m in ev.get("sqlPlanMetrics", []):
                    acc_to_node.setdefault(m["accumulatorId"], m.get("name", ""))
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "op": props.get("perfbench.op"),
                    "layer": props.get("perfbench.layer"),
                    "stages": list(ev.get("Stage IDs", [])),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "tasks": si.get("Number of Tasks", 0),
                    "acc_ids": [a["ID"] for a in si.get("Accumulables", [])],
                    "scopes": _rdd_scopes(si),
                    "job": stage_job.get(si["Stage ID"]),
                }
            elif kind == "SparkListenerTaskEnd":
                ti = ev.get("Task Info", {})
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "launch": ti.get("Launch Time", 0),
                        "finish": ti.get("Finish Time", 0),
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                    }
                )
    for st in stages.values():
        st["nodes"] = sorted(
            {acc_to_node[a] for a in st.pop("acc_ids") if a in acc_to_node}
            | st.pop("scopes")
        )
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def op_metrics(log: dict, op: str, wall_s: float, t0: float, t1: float,
               cores: int) -> dict:
    """``spark.*`` and ``operators.*`` numbers of one operation: its jobs
    are those whose ``perfbench.op`` property names it; ``t0``/``t1`` are
    the operation's wall-clock bounds (epoch seconds)."""
    jobs = {j for j, v in log["jobs"].items() if v["op"] == op}
    stage_ids = {s for s, v in log["stages"].items() if v["job"] in jobs}
    tasks = [t for t in log["tasks"] if t["stage"] in stage_ids]
    by_stage = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t)
    run_s = sum(t["run_ms"] for t in tasks) / 1e3
    lo_ms, hi_ms = int(t0 * 1e3), int(t1 * 1e3)
    busy_ms = _union_ms(
        [
            (max(t["launch"], lo_ms), min(t["finish"], hi_ms))
            for t in tasks
            if t["finish"] > lo_ms and t["launch"] < hi_ms
        ]
    )
    skew = 1.0
    for ts in by_stage.values():
        if len(ts) < 2:
            continue
        med = statistics.median(t["run_ms"] for t in ts)
        if med > 0:
            skew = max(skew, max(t["run_ms"] for t in ts) / med)

    def cls_task_s(rx) -> float:
        return sum(
            t["run_ms"]
            for sid, ts in by_stage.items()
            if any(rx.search(n) for n in log["stages"][sid]["nodes"])
            for t in ts
        ) / 1e3

    window_tasks = [
        log["stages"][sid]["tasks"]
        for sid in by_stage
        if any(_WINDOW.search(n) for n in log["stages"][sid]["nodes"])
    ]
    detail = [
        {
            "stage": sid,
            "tasks": len(ts),
            "task_s": sum(t["run_ms"] for t in ts) / 1e3,
            "nodes": log["stages"][sid]["nodes"],
        }
        for sid, ts in sorted(by_stage.items())
    ]
    return detail, {
        "spark.jobs": len(jobs),
        "spark.stages": len(by_stage),
        "spark.tasks": len(tasks),
        "spark.driver_gap_s": max(wall_s - busy_ms / 1e3, 0.0),
        "spark.task_time_s": run_s,
        "spark.cpu_time_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.gc_time_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "spark.busy_ratio": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.max_stage_skew": skew,
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "operators.window_task_s": cls_task_s(_WINDOW),
        "operators.window_stage_tasks": min(window_tasks) if window_tasks else 0,
        "operators.join_task_s": cls_task_s(_JOIN),
        "operators.python_task_s": cls_task_s(_PYTHON),
    }


def layer_jobs(log: dict, op: str, layer: str) -> int:
    return sum(
        1 for v in log["jobs"].values() if v["op"] == op and v["layer"] == layer
    )
