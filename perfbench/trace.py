"""Spans around calls into the engine, filled from Spark's status stores.

A span tags its Spark jobs with a job group.  When the span closes, the
tracer drains the listener bus and reads, for each job of the group, the
job's wall time and each stage's executor run, CPU and GC time, bytes
written and shuffled, and failed tasks.  It also reads the
plan-node metrics of the SQL executions that ran while the span was the
innermost one (output rows, parquet bytes scanned, bytes sent to Python
workers, Python worker time).  Everything is read right after the
call because the status stores keep only the last 1000 jobs and stages.
Spans stay in memory and are written as JSON when the run ends.
"""

from __future__ import annotations

import html
import json
import re
import time
from contextlib import contextmanager

_NODE_RE = re.compile(
    r'\[id="node\d+" labelType="html" label="(.*?)" tooltip=')
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric_value(text: str) -> float:
    """'200,000' -> 2e5; '1.4 KiB' -> bytes; '5.4 s' / '15 ms' -> seconds."""
    parts = text.strip().split()
    num = float(parts[0].replace(",", ""))
    if len(parts) > 1 and parts[1] in _UNITS:
        num *= _UNITS[parts[1]]
    return num


def parse_plan_dot(dot: str) -> list[tuple[str, dict]]:
    """(node name, {metric name: value}) for each node of a plan graph.

    Metrics are `name: value`, or `name total (min, med, max ...)`
    followed by a `value (min, med, max ...)` line."""
    nodes = []
    for label in _NODE_RE.findall(dot):
        items = [html.unescape(x) for x in label.split("<br>") if x]
        name = re.sub(r"</?b>", "", items[0])
        metrics, pending = {}, None
        for item in items[1:]:
            if pending is not None:
                metrics[pending] = parse_metric_value(item.split(" (")[0])
                pending = None
            elif " total (min, med, max" in item:
                pending = item.split(" total (")[0]
            elif ": " in item:
                key, val = item.rsplit(": ", 1)
                try:
                    metrics[key] = parse_metric_value(val)
                except ValueError:
                    pass
        nodes.append((name, metrics))
    return nodes


class Tracer:
    """Records spans when enabled; a disabled tracer only runs the body."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        if not enabled:
            return
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = int(self._sql.executionsCount())

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        self._harvest_executions()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._next_id, "name": name,
               "parent": parent["id"] if parent else None,
               "group": f"perfbench-{self._next_id}",
               "execs": [], "children_s": 0.0, **attrs}
        self._next_id += 1
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self._jsc.listenerBus().waitUntilEmpty()
            self._harvest_executions()
            self._read_jobs(rec)
            rec["self_s"] = rec["wall_s"] - rec.pop("children_s")
            self._stack.pop()
            if parent:
                parent["children_s"] += rec["wall_s"]
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def _harvest_executions(self) -> None:
        """Give the SQL executions started since the last harvest to the
        innermost open span."""
        end = int(self._sql.executionsCount())
        owner = self._stack[-1] if self._stack else None
        while self._next_exec < end:
            eid = self._next_exec
            self._next_exec += 1
            if owner is not None:
                dot = self._sql.planGraph(eid).makeDotFile(
                    self._sql.executionMetrics(eid))
                owner["execs"].append(parse_plan_dot(dot))

    def _read_jobs(self, rec: dict) -> None:
        tracker = self._sc.statusTracker()
        totals = dict.fromkeys(
            ("job_wall_s", "busy_s", "cpu_s", "gc_s", "output_bytes",
             "shuffle_write_bytes", "shuffle_read_bytes", "failed_tasks",
             "stages"), 0.0)
        job_ids = tracker.getJobIdsForGroup(rec["group"])
        for jid in job_ids:
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                totals["job_wall_s"] += (done.get().getTime()
                                         - sub.get().getTime()) / 1e3
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                sd = self._store.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED":
                    continue
                totals["stages"] += 1
                totals["busy_s"] += sd.executorRunTime() / 1e3
                totals["cpu_s"] += sd.executorCpuTime() / 1e9
                totals["gc_s"] += sd.jvmGcTime() / 1e3
                totals["output_bytes"] += sd.outputBytes()
                totals["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                totals["shuffle_read_bytes"] += sd.shuffleReadBytes()
                totals["failed_tasks"] += sd.numFailedTasks()
        rec["jobs"] = len(job_ids)
        rec.update(totals)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def plan_metric(rec: dict, node_pred, metric: str) -> float:
    """Sum of one plan-node metric over a span's SQL executions."""
    total = 0.0
    for nodes in rec.get("execs", []):
        for name, metrics in nodes:
            if node_pred(name) and metric in metrics:
                total += metrics[metric]
    return total
