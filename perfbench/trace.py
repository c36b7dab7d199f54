"""Tracing for the benchmark's traced run.

* :class:`Tracer` records spans (name, start, end, parent, run id) around
  the benchmark's calls into each layer, and sets Spark's job group to the
  span id for the span's duration, so every job the call launches is
  tagged with it.
* :func:`parse_event_log` is a stdlib reader of Spark's JSON event log: it
  maps stages to job groups through ``SparkListenerJobStart`` and folds
  ``SparkListenerTaskEnd`` metrics per job group.
* :func:`plan_nodes` walks the final (post-AQE) physical plan of an
  executed DataFrame and returns (node name, output rows) pairs.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager

GENERIC = (
    "wall_s", "self_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
    "spill_bytes", "records_out", "jobs", "task_skew",
)


class Tracer:
    """In-memory span recorder; the spans (plain dicts) go into the run report."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"{self.run_id}-{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self._stack.append(sp)
        self.sc.setJobGroup(sp["id"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def self_time(self, sp: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(sp))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp["end"] - sp["start"]) - covered


def _new_group() -> dict:
    return {
        "jobs": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0, "spill_bytes": 0,
        "records_out": 0, "input_bytes": 0, "output_bytes": 0, "tasks": 0,
        "task_skew": 0.0,
        "job_call_sites": [],
    }


def parse_event_log(files: list[str]) -> tuple[dict[str, dict], dict[int, str]]:
    """Fold task metrics per job group from event-log files.

    Returns ({job group id: totals}, {SQL execution id: physical plan
    text}).  ``task_skew`` is the largest max/median executor run time over
    the group's stages with >= 2 tasks; ``job_call_sites`` lists each job's
    call site, wall seconds and SQL execution id.
    """
    sql_plans: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_info: dict[int, dict] = {}
    stage_runs: dict[int, list[float]] = {}
    groups: dict[str, dict] = {}
    for fn in files:
        with open(fn, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SparkListenerSQLExecutionStart"):
                    sql_plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    gid = props.get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = gid
                    g = groups.setdefault(gid, _new_group())
                    g["jobs"] += 1
                    job_info[jid] = {
                        "call_site": props.get("callSite.short", ""),
                        "start_ms": ev.get("Submission Time", 0),
                        "sql_id": int(props["spark.sql.execution.id"])
                        if "spark.sql.execution.id" in props else None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_info:
                        info = job_info[jid]
                        info["wall_s"] = (ev.get("Completion Time", 0) - info["start_ms"]) / 1e3
                        groups[job_group[jid]]["job_call_sites"].append(info)
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    if gid is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    g = groups[gid]
                    g["tasks"] += 1
                    run_s = m.get("Executor Run Time", 0) / 1e3
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get(
                        "Memory Bytes Spilled", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    om = m.get("Output Metrics") or {}
                    im = m.get("Input Metrics") or {}
                    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    g["records_out"] += sw.get("Shuffle Records Written", 0) + om.get(
                        "Records Written", 0
                    )
                    g["input_bytes"] += im.get("Bytes Read", 0)
                    g["output_bytes"] += om.get("Bytes Written", 0)
                    stage_runs.setdefault(ev["Stage ID"], []).append(run_s)
    for sid, runs in stage_runs.items():
        gid = stage_group.get(sid)
        if gid is None or len(runs) < 2:
            continue
        med = statistics.median(runs)
        if med > 0:
            g = groups[gid]
            g["task_skew"] = max(g["task_skew"], max(runs) / med)
    return groups, sql_plans


def event_log_files(log_dir: str) -> list[str]:
    """Finished event-log files under ``log_dir`` (rolling logs are dirs)."""
    out = []
    for dirpath, _, files in sorted(os.walk(log_dir)):
        out += [
            os.path.join(dirpath, f) for f in sorted(files)
            if not f.endswith(".inprogress") and not f.startswith("appstatus")
        ]
    return out


def fold_spans(tracer: Tracer, groups: dict[str, dict], name: str) -> dict:
    """Generic metric set G summed over every span called ``name``."""
    spans = [s for s in tracer.spans if s["name"] == name]
    out = {k: 0.0 for k in GENERIC}
    out.update(input_bytes=0, n_spans=len(spans))
    for sp in spans:
        out["wall_s"] += sp["end"] - sp["start"]
        out["self_s"] += tracer.self_time(sp)
        g = groups.get(sp["id"])
        if not g:
            continue
        for k in ("task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
                  "records_out", "jobs", "input_bytes"):
            out[k] += g[k]
        out["task_skew"] = max(out["task_skew"], g["task_skew"])
    return out


# --- final physical plans ---------------------------------------------------------


def plan_nodes(df) -> list[tuple[str, int]]:
    """(node name, numOutputRows or -1) over the executed plan of ``df``,
    descending through AQE wrappers and query stages into the final plan.
    Call after an action on this same DataFrame object."""
    root = df._jdf.queryExecution().executedPlan()
    out: list[tuple[str, int]] = []
    stack = [root]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            stack.append(node.plan())
            continue
        rows = -1
        m = node.metrics().get("numOutputRows")
        if m.isDefined():
            rows = int(m.get().value())
        out.append((name, rows))
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return out


def count_nodes(nodes: list[tuple[str, int]], *names: str) -> int:
    return sum(1 for n, _ in nodes if n in names)


PYTHON_NODES = (
    "MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState",
    "PythonMapInArrow", "AggregateInPandas", "WindowInPandas",
)
