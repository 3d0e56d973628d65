"""Tracing from outside the package: spans, Spark counts, event-log metrics.

- ``Tracer`` keeps spans (name, kind, start, end, parent) in memory:
  workload -> operation -> build | sink -> Spark job.
- ``group_counts`` reads jobs / stages / tasks of one job group from
  ``SparkContext.statusTracker()``.
- ``catalyst_phases`` reads analysis / optimization / planning time from
  ``df._jdf.queryExecution().tracker()``.
- ``parse_eventlog`` folds an uncompressed Spark event log into metrics
  per job group (task metrics, scan and Python-worker SQL metrics) and
  job spans.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import time
from collections import defaultdict

# SQL metric name -> per-layer metric name
PYTHON_SQL_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
}
EVENTLOG_METRICS = [
    "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s", "spill.disk_bytes",
    "sources.scan_s", "sources.bytes_read", *PYTHON_SQL_METRICS.values(),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    def add(self, name: str, kind: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = next(self._ids)
        self.spans.append({"id": sid, "name": name, "kind": kind, "start": start,
                           "end": end, "parent": parent, **attrs})
        return sid

    @contextlib.contextmanager
    def span(self, name: str, kind: str, **attrs):
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "kind": kind, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def self_times(self) -> dict[str, float]:
        """Total self time per span kind: duration minus the union of the
        children's intervals, clipped to the span."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted((c["start"], c["end"]) for c in children[s["id"]]):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["kind"]] += (s["end"] - s["start"]) - covered
        return dict(out)


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, and completed tasks of one job group."""
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages: set[int] = set()
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0 and sid not in stages:
                stages.add(sid)
                tasks += si.numCompletedTasks
    return {"spark.jobs": len(jobs), "spark.stages": len(stages), "spark.tasks": tasks}


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times (s) of the DataFrame's own QueryExecution.
    Touching ``executedPlan`` runs optimization and planning on it if
    the sink (which plans through its own QueryExecution) did not."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    out = {"catalyst.analysis_s": 0.0, "catalyst.optimization_s": 0.0, "catalyst.planning_s": 0.0}
    while it.hasNext():
        kv = it.next()
        key = f"catalyst.{kv._1()}_s"
        if key in out:
            out[key] = kv._2().durationMs() / 1000.0
    return out


def _walk(node, out: list) -> None:
    out.append(node)
    for child in node.get("children", []):
        _walk(child, out)


def _events(log_dir: str):
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    )
    for p in paths:
        with open(p) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def parse_eventlog(log_dir: str) -> tuple[dict[str, dict[str, float]], list[dict]]:
    """Per job group metrics, and one span per Spark job
    ``{"job", "group", "start", "end"}`` (epoch seconds)."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    accum: dict[int, tuple[str, str, str, str]] = {}  # id -> (group, node, metric, type)
    accum_val: dict[int, float] = defaultdict(float)
    per_group: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EVENTLOG_METRICS, 0.0))
    jobs: dict[int, dict] = {}

    def register_plan(exec_id: int, plan: dict) -> None:
        group = exec_group.get(exec_id)
        if group is None:
            return
        nodes: list = []
        _walk(plan, nodes)
        for n in nodes:
            for m in n.get("metrics", []):
                accum[m["accumulatorId"]] = (group, n["nodeName"], m["name"], m["metricType"])

    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[e["Job ID"]] = {"job": e["Job ID"], "group": group,
                                 "start": e["Submission Time"] / 1000.0, "end": None}
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind.endswith("SQLExecutionStart"):
            exec_group[e["executionId"]] = e.get("jobGroupId")
            register_plan(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            register_plan(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, val in e.get("accumUpdates", []):
                accum_val[aid] += float(val)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            tm = e.get("Task Metrics") or {}
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("ID") in accum:  # SQL metric updates are logged as strings
                    accum_val[a["ID"]] += float(a.get("Update") or 0)
            if group is None or not tm:
                continue
            g = per_group[group]
            sr, sw = tm.get("Shuffle Read Metrics", {}), tm.get("Shuffle Write Metrics", {})
            g["executor.run_s"] += tm.get("Executor Run Time", 0) / 1e3
            g["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            g["executor.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            g["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            g["spill.disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
            g["sources.bytes_read"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)

    python_nodes: dict[str, set] = defaultdict(set)
    for aid, (group, node, metric, mtype) in accum.items():
        val = accum_val.get(aid, 0.0)
        if group is None or not val:
            continue
        scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(mtype, 1.0)
        if metric in PYTHON_SQL_METRICS:
            per_group[group][PYTHON_SQL_METRICS[metric]] += val * scale
            python_nodes[group].add(node)
        elif node.startswith("Scan") and metric == "scan time":
            per_group[group]["sources.scan_s"] += val * scale
    for group, nodes in python_nodes.items():
        per_group[group]["python_nodes"] = sorted(nodes)
    return dict(per_group), [j for j in jobs.values() if j["end"] is not None]
