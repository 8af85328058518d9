"""Tracing for the traced benchmark run: in-memory spans, executed-plan
walks and the Spark event log, folded into per-op layer records.

Everything here is read from the benchmark's side of the public API: spans
wrap calls into ``puddsketch_spark``, the plan walk reads
``df._jdf.queryExecution().executedPlan()`` after an action, and the event
log (uncompressed, one file) is parsed after the session stops. Nothing is
written until ``Tracer.dump`` at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

# SQL metrics by display name, as Spark 4.1 registers them. The unit comes
# from the metric type recorded in the event log's plan info ("timing" is
# ms, "nsTiming" is ns, "size" is bytes), never from the name.
#
# Python worker times are "timing" (ms) per node and task. The run and
# start times are wall time inside the task, so neither exceeds its task's
# run time (checked per task below); but Python nodes chained in one task
# (FlatMapGroupsInPandas feeding ArrowEvalPython in a grouped quantile
# table) run overlapped, so their sum can exceed task time and cores x wall.
# "time to initialize Python workers" is left out: a reused worker reports
# it again in later tasks (3.2 s in a 0.3 s task was seen), so it is not a
# per-task time.
SQL_METRICS = {
    "scan time": "spark.scan_s",
    "size of files read": "spark.scan_bytes",
    "time in aggregation build": "spark.agg_s",
    "time to run Python workers": "spark.python_s",
    "time to start Python workers": "spark.python_boot_s",
    "data sent to Python workers": "spark.python_bytes_sent",
    "data returned from Python workers": "spark.python_bytes_received",
}
_TO_SECONDS = {"timing": 1e-3, "nsTiming": 1e-9}
_PYTHON_TIMES = {"time to run Python workers", "time to start Python workers"}


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory.

    A disabled tracer records nothing, so the untraced code path is the
    same code with every span a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.plans: dict[str, list] = defaultdict(list)
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def collect(self, df, name: str):
        """``df.collect()`` inside a span; in traced mode also record the
        executed plan's nodes and SQL metrics for the op."""
        with self.span(name):
            rows = df.collect()
        if self.enabled:
            with self.span("trace.plan_walk"):
                self.plans[self.op_id].append(
                    {"action": name, "nodes": walk_plan(
                        df._jdf.queryExecution().executedPlan())})
        return rows

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "plans": self.plans, **extra}, f)


def walk_plan(jplan) -> list[dict]:
    """Pre-order list of (node name, SQL metrics) of an executed plan,
    descending through AQE wrappers into the final query stages."""
    out, stack = [], [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            metrics[kv._1()] = [m.metricType(), m.value()]
        out.append({"node": node.nodeName(), "metrics": metrics})
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        children = node.children()
        for i in range(children.size() - 1, -1, -1):
            stack.append(children.apply(i))
    return out


def union_length(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job intervals, task counts, task-metric and SQL-metric
    sums, from the uncompressed event log(s) in ``log_dir``."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())

    metric_type: dict[int, tuple[str, str]] = {}  # accumulator id -> (name, type)

    def plan_metrics(info):
        for m in info.get("metrics", []):
            metric_type[m["accumulatorId"]] = (m["name"], m["metricType"])
        for child in info.get("children", []):
            plan_metrics(child)

    stage_group, exec_group = {}, {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": [], "tasks": 0, "task_run_s": 0.0, "shuffle_bytes": 0,
        "shuffle_records": 0, "python_time_over_task": 0, "sql": defaultdict(float)})
    job_start = {}
    sql_updates = []  # (group-resolver key, accumulator id, value)
    for ev in events:
        kind = ev["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            plan_metrics(ev.get("sparkPlanInfo", {}))
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            gid = props.get("spark.jobGroup.id")
            if gid is None:
                continue
            job_start[ev["Job ID"]] = (gid, ev["Submission Time"] / 1000.0)
            for sid in ev["Stage IDs"]:
                stage_group[sid] = gid
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group[int(eid)] = gid
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
            gid, t0 = job_start[ev["Job ID"]]
            groups[gid]["jobs"].append([t0, ev["Completion Time"] / 1000.0])
        elif kind == "SparkListenerTaskEnd":
            gid = stage_group.get(ev["Stage ID"])
            if gid is None:
                continue
            g = groups[gid]
            g["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            run_ms = tm.get("Executor Run Time", 0)
            g["task_run_s"] += run_ms / 1000.0
            sw = tm.get("Shuffle Write Metrics") or {}
            g["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            for acc in ev["Task Info"].get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    sql_updates.append((("stage", gid), acc["ID"], acc["Update"]))
                    if acc["Name"] in _PYTHON_TIMES and float(acc["Update"]) > run_ms + 1:
                        g["python_time_over_task"] += 1
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, val in ev["accumUpdates"]:
                sql_updates.append((("exec", ev["executionId"]), aid, val))

    for (how, key), aid, val in sql_updates:
        gid = key if how == "stage" else exec_group.get(key)
        if gid is None or aid not in metric_type:
            continue
        name, mtype = metric_type[aid]
        if name in SQL_METRICS:
            groups[gid]["sql"][SQL_METRICS[name]] += float(val) * _TO_SECONDS.get(mtype, 1.0)
    return groups
