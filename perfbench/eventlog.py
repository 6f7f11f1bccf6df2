"""Spark event-log reader for per-layer metrics.

The traced run starts Spark with the event log on, uncompressed and not
rolling, so the log is one plain JSON-lines file. Before each call into a
layer the benchmark sets a job description (its span name); every job,
stage and task the call starts carries it, so everything here is grouped
by span. Read:

* ``SQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate``: the physical plan
  of each query execution; its nodes and their metric accumulator ids;
* ``JobStart``: span name and stage ids of each job;
* ``TaskEnd``: run, CPU and GC time, shuffle, spill and fetch wait per task,
  plus the per-task updates of every SQL metric accumulator;
* ``StageCompleted``: the stages that ran.
"""

from __future__ import annotations

import json
from collections import defaultdict

PYTHON_NODES = ("Pandas", "Python", "Arrow")


class EventLog:
    def __init__(self, lines):
        self.exec_desc: dict[int, str] = {}
        self.exec_plans: dict[int, list[dict]] = defaultdict(list)
        self.job_span: dict[int, str] = {}
        self.stage_span: dict[int, str] = {}
        self.stages_done: set[int] = set()
        self.tasks: list[dict] = []
        self.accum: dict[int, float] = defaultdict(float)
        for line in lines:
            line = line.strip()
            if line:
                self._event(json.loads(line))

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls(f)

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            self.exec_desc[e["executionId"]] = e.get("description") or ""
            self.exec_plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            self.exec_plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = props.get("spark.job.description") or ""
            self.job_span[e["Job ID"]] = span
            # A stage listed by several jobs (a reused shuffle) belongs to
            # the first job that listed it.
            for sid in e.get("Stage IDs", []):
                self.stage_span.setdefault(sid, span)
        elif kind == "SparkListenerStageCompleted":
            self.stages_done.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind == "SparkListenerDriverAccumUpdates":
            for aid, v in e.get("accumUpdates", []):
                self.accum[int(aid)] += float(v)

    def _task(self, e: dict) -> None:
        m = e.get("Task Metrics") or {}
        info = e.get("Task Info") or {}
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        ok = (e.get("Task End Reason") or {}).get("Reason") == "Success"
        self.tasks.append({
            "stage": e["Stage ID"],
            "ok": ok,
            "run_ms": m.get("Executor Run Time", 0),
            "cpu_ns": m.get("Executor CPU Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "spill": m.get("Memory Bytes Spilled", 0)
            + m.get("Disk Bytes Spilled", 0),
            "shuffle_write": wr.get("Shuffle Bytes Written", 0),
            "fetch_wait_ms": rd.get("Fetch Wait Time", 0),
        })
        if ok:
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    try:
                        self.accum[int(a["ID"])] += float(a["Update"])
                    except (TypeError, ValueError):
                        pass

    # --- per span -----------------------------------------------------------

    @staticmethod
    def _match(name: str, span: str, exact: bool = False) -> bool:
        return span == name or (not exact and span.startswith(name + "/"))

    def final_plans(self, span: str, exact: bool = False) -> list[dict]:
        """Last plan version of each SQL execution under ``span``."""
        return [plans[-1] for eid, plans in sorted(self.exec_plans.items())
                if self._match(span, self.exec_desc.get(eid, ""), exact)]

    def span_stats(self, span: str, exact: bool = False) -> dict:
        """Totals over every job whose description is ``span`` or, unless
        ``exact``, starts with ``span + '/'``."""
        jobs = [j for j, s in self.job_span.items()
                if self._match(span, s, exact)]
        stages = {sid for sid, s in self.stage_span.items()
                  if self._match(span, s, exact)}
        ran = stages & self.stages_done
        ts = [t for t in self.tasks if t["stage"] in stages]
        plans = self.final_plans(span, exact)
        nodes = [n for p in plans for n in walk(p)]
        return {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": len(ts),
            "failed_tasks": sum(1 for t in ts if not t["ok"]),
            "run_s": sum(t["run_ms"] for t in ts) / 1e3,
            "cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
            "spill_bytes": sum(t["spill"] for t in ts),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
            "fetch_wait_s": sum(t["fetch_wait_ms"] for t in ts) / 1e3,
            "window_nodes": sum(1 for n in nodes if n["nodeName"] == "Window"),
            "python_rows": self._python_rows(span, exact),
            "nodes": nodes,
        }

    def _python_rows(self, span: str, exact: bool = False) -> int:
        """Rows out of every Python/Arrow node in any plan version of the
        span (accumulator ids are shared between versions, so each id is
        counted once)."""
        ids = set()
        for eid, plans in self.exec_plans.items():
            if not self._match(span, self.exec_desc.get(eid, ""), exact):
                continue
            for p in plans:
                for n in walk(p):
                    if any(k in n["nodeName"] for k in PYTHON_NODES):
                        ids.update(m["accumulatorId"] for m in n["metrics"]
                                   if m["name"] == "number of output rows")
        return int(sum(self.accum.get(i, 0) for i in ids))


def walk(plan: dict):
    """Every node of a sparkPlanInfo tree, depth first."""
    todo = [plan]
    while todo:
        n = todo.pop()
        yield n
        todo.extend(n.get("children", []))


def scan_passes(nodes, path_part: str) -> int:
    """Scan nodes whose location mentions ``path_part``."""
    return sum(1 for n in nodes
               if n["nodeName"].startswith("Scan")
               and path_part in json.dumps(n.get("metadata", {})))


def reconcile(run_s: float, wall_s: float, cores: int,
              tol: float = 0.05) -> bool:
    """Task run time summed over a span cannot exceed what ``cores`` slots
    deliver in its wall time; ``tol`` covers clock granularity at task
    boundaries."""
    return run_s <= wall_s * cores * (1.0 + tol) + 0.01 * cores
