"""Fold a Spark event log into per-span counters.

The traced run writes one uncompressed, non-rolling JSON-lines event log and
gives every span its own job group.  Tasks are attributed to a span through
their stage's job group; plan nodes are attributed to a stage through the SQL
metric accumulators its tasks updated, which lets one span be split by the
operators its stages ran.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

# The counter block every span carries, in report order.
COUNTERS = ("jobs", "tasks", "task_s", "gc_s", "python_s", "shuffle_mb",
            "spill_mb", "queue_s", "failed_tasks")
_MB = float(1 << 20)
_SQL = "org.apache.spark.sql.execution.ui."


def is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


@dataclass
class Node:
    name: str
    desc: str


@dataclass
class Stage:
    group: str | None = None
    submit_ms: int | None = None
    complete_ms: int | None = None
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    queue_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    launches: list[int] = field(default_factory=list)
    # accumulator id -> summed task updates
    acc: dict[int, float] = field(default_factory=lambda: defaultdict(float))


@dataclass
class EventLog:
    stages: dict[int, Stage] = field(default_factory=dict)
    # (job group, stage ids) per job
    jobs: list[tuple[str | None, list[int]]] = field(default_factory=list)
    # accumulator id -> (plan node, metric name, metric type)
    metrics: dict[int, tuple[Node, str, str]] = field(default_factory=dict)

    def stage(self, sid: int) -> Stage:
        return self.stages.setdefault(sid, Stage())

    def nodes_run(self, st: Stage) -> list[Node]:
        """Plan nodes whose metrics this stage's tasks updated."""
        seen: dict[int, Node] = {}
        for acc_id in st.acc:
            hit = self.metrics.get(acc_id)
            if hit is not None:
                seen[id(hit[0])] = hit[0]
        return list(seen.values())

    def metric_total(self, st: Stage, node: Node, metric: str) -> float:
        return sum(v for a, v in st.acc.items()
                   if a in self.metrics and self.metrics[a][0] is node
                   and self.metrics[a][1] == metric)

    def python_s(self, st: Stage) -> float:
        """Time the stage's Python plan nodes report as "time to run Python
        workers" (it covers their start and initialisation too)."""
        total = 0.0
        for acc_id, v in st.acc.items():
            hit = self.metrics.get(acc_id)
            if (hit is None or not is_python_node(hit[0].name)
                    or hit[1] != "time to run Python workers"):
                continue
            total += v / 1e9 if hit[2] == "nsTiming" else v / 1e3
        return total


def _add_plan(log: EventLog, info: dict) -> None:
    node = Node(info["nodeName"], info.get("simpleString", ""))
    for m in info.get("metrics", []):
        log.metrics[m["accumulatorId"]] = (node, m["name"], m["metricType"])
    for child in info.get("children", []):
        _add_plan(log, child)


def read(path: Path) -> EventLog:
    log = EventLog()
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = e.get("Properties", {}).get("spark.jobGroup.id")
                log.jobs.append((group, e["Stage IDs"]))
                for sid in e["Stage IDs"]:
                    log.stage(sid).group = group
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                st = log.stage(info["Stage ID"])
                st.submit_ms = info.get("Submission Time")
                group = e.get("Properties", {}).get("spark.jobGroup.id")
                if group is not None:
                    st.group = group
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = log.stage(info["Stage ID"])
                st.submit_ms = info.get("Submission Time", st.submit_ms)
                st.complete_ms = info.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                _add_task(log.stage(e["Stage ID"]), e)
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _add_plan(log, e["sparkPlanInfo"])
    for st in log.stages.values():
        if st.submit_ms is not None:
            st.queue_ms = sum(max(0, t - st.submit_ms) for t in st.launches)
    return log


def _add_task(st: Stage, e: dict) -> None:
    info = e["Task Info"]
    st.tasks += 1
    st.launches.append(info["Launch Time"])
    if e.get("Task End Reason", {}).get("Reason") != "Success":
        st.failed_tasks += 1
    m = e.get("Task Metrics") or {}
    st.run_ms += m.get("Executor Run Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    st.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0)
    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables", []):
        update = acc.get("Update")
        if isinstance(update, (int, float)) and not isinstance(update, bool):
            st.acc[acc["ID"]] += update
        elif isinstance(update, str) and update.lstrip("-").isdigit():
            st.acc[acc["ID"]] += int(update)


def counters(log: EventLog, stages: list[Stage], jobs: int) -> dict[str, float]:
    """The counter block over a set of stages (``jobs`` counted by caller)."""
    return {
        "jobs": jobs,
        "tasks": sum(s.tasks for s in stages),
        "task_s": sum(s.run_ms for s in stages) / 1e3,
        "gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "python_s": sum(log.python_s(s) for s in stages),
        "shuffle_mb": sum(s.shuffle_bytes for s in stages) / _MB,
        "spill_mb": sum(s.spill_bytes for s in stages) / _MB,
        "queue_s": sum(s.queue_ms for s in stages) / 1e3,
        "failed_tasks": sum(s.failed_tasks for s in stages),
    }


def stages_of(log: EventLog, group: str) -> list[Stage]:
    return [s for s in log.stages.values() if s.group == group and s.tasks]


def jobs_of(log: EventLog, group: str, stages: list[Stage] | None = None) -> int:
    """Jobs of ``group``; with ``stages``, only those that ran one of them."""
    wanted = None if stages is None else {id(s) for s in stages}
    return sum(
        1 for g, sids in log.jobs
        if g == group and (wanted is None or any(
            id(log.stages.get(sid)) in wanted for sid in sids))
    )


def covered_s(stages: list[Stage]) -> float:
    """Length of the union of the stages' [submit, complete] intervals."""
    spans = sorted((s.submit_ms, s.complete_ms) for s in stages
                   if s.submit_ms is not None and s.complete_ms is not None)
    total, end = 0, None
    for a, b in spans:
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3
