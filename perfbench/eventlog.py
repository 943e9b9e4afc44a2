"""Event-log reader for the traced run (stdlib ``json`` only).

The traced run labels every layer prefix with ``setJobGroup`` and writes a
plain (uncompressed, non-rolling) Spark event log. This module folds that
log into one record per job group: task count, executor run and CPU time,
shuffle read/write bytes, disk spill, max/median task run time over the
tasks that read shuffle data, job count, and the hash-partitioning
exchanges and broadcasts of the group's largest executed (final adaptive)
plan.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    shuffle_task_run_ms: list = field(default_factory=list)
    exchanges: int = 0
    broadcasts: int = 0

    def task_max_over_median(self) -> float:
        """Slowest shuffle-reading task over the median one (1.0 = even)."""
        runs = self.shuffle_task_run_ms
        if not runs:
            return 0.0
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 0.0


def _plan_counts(node: dict) -> tuple[int, int, int]:
    """(hash exchanges, broadcasts, nodes) in a sparkPlanInfo tree."""
    name, desc = node.get("nodeName", ""), node.get("simpleString", "")
    ex = int(name == "Exchange" and "hashpartitioning" in desc)
    bc = int(name == "BroadcastExchange")
    n = 1
    for ch in node.get("children", []):
        e, b, k = _plan_counts(ch)
        ex, bc, n = ex + e, bc + b, n + k
    return ex, bc, n


def read_event_log(path: str) -> dict[str, GroupStats]:
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    out: dict[str, GroupStats] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                out.setdefault(group, GroupStats()).jobs += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
                if "spark.sql.execution.id" in props:
                    exec_group[int(props["spark.sql.execution.id"])] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if group is None or not m:
                    continue
                g = out[group]
                g.tasks += 1
                g.run_s += m["Executor Run Time"] / 1e3
                g.cpu_s += m["Executor CPU Time"] / 1e9
                rd = m["Shuffle Read Metrics"]
                read = rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                g.shuffle_read_bytes += read
                g.shuffle_write_bytes += \
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                g.spill_bytes += m["Disk Bytes Spilled"]
                if read:
                    g.shuffle_task_run_ms.append(m["Executor Run Time"])
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                # the last update of an execution is its final plan
                plans[e["executionId"]] = e["sparkPlanInfo"]
    largest: dict[str, int] = {}
    for eid, plan in plans.items():
        group = exec_group.get(eid)
        if group is None:
            continue
        ex, bc, n = _plan_counts(plan)
        if n > largest.get(group, 0):
            largest[group] = n
            out[group].exchanges, out[group].broadcasts = ex, bc
    return out
