"""Per-span counters from a Spark event log.

The traced run tags every job with a job group named after the span
(``SparkContext.setJobGroup``) and enables Spark's JSON event log. After
the session stops, this module folds the log into counters per span
and per wall-clock window: tasks, busy time, CPU, GC, shuffle and
spill bytes, and — from the final (post-AQE) physical plans — the
executed file scans with the bytes they read and the join strategies.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
_JOIN_NODES = (
    "BroadcastHashJoin", "BroadcastNestedLoopJoin", "SortMergeJoin",
    "ShuffledHashJoin", "CartesianProduct",
)


@dataclass
class Counters:
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, lo: float, hi: float, m: dict) -> None:
        self.tasks += 1
        self.intervals.append((lo, hi))
        self.task_s += hi - lo
        self.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        self.gc_s += m.get("JVM GC Time", 0) / 1000
        self.spill_bytes += m.get("Disk Bytes Spilled", 0)
        self.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)

    def busy_s(self, start: float, end: float) -> float:
        """Wall seconds within [start, end] during which ≥1 task ran."""
        total, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(self.intervals):
            lo, hi = max(lo, start), min(hi, end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total


@dataclass
class EventLog:
    spans: dict[str | None, Counters]
    # (launch, finish, task metrics) of every task
    tasks: list[tuple[float, float, dict]]
    # execution id -> (start time, final plan tree)
    plans: dict[int, tuple[float, dict]]
    # accumulator id -> summed driver-side value
    driver_accums: dict[int, int]

    def window(self, lo: float, hi: float) -> Counters:
        """Counters of the tasks launched within [lo, hi]."""
        c = Counters()
        for t0, t1, m in self.tasks:
            if lo <= t0 <= hi:
                c.add(t0, t1, m)
        return c

    def _plans(self, lo: float, hi: float):
        return (plan for t, plan in self.plans.values() if lo <= t <= hi)

    def file_scans(self, location_part: str, lo: float, hi: float) -> tuple[int, int]:
        """(scans, bytes): executed file-scan operators whose location
        contains ``location_part``, in executions started within
        [lo, hi], and the file bytes they read. A scan node shared
        between plans (a cached relation appears under every reader of
        the cache) counts once: nodes are identified by their metric
        accumulators, and only nodes whose "number of files read" metric
        was posted ran."""
        seen: dict[int, int] = {}
        for plan in self._plans(lo, hi):
            for node in _walk(plan):
                if not node.get("nodeName", "").startswith("Scan "):
                    continue
                if location_part not in node.get("metadata", {}).get("Location", ""):
                    continue
                acc = {m.get("name"): m["accumulatorId"] for m in node.get("metrics", [])}
                files = acc.get("number of files read")
                if files is not None and self.driver_accums.get(files, 0) > 0:
                    seen[files] = self.driver_accums.get(acc.get("size of files read"), 0)
        return len(seen), sum(seen.values())

    def join_counts(self, lo: float, hi: float) -> tuple[int, int]:
        """(broadcast joins, all joins) in the final plans of executions
        started within [lo, hi], each physical join node counted once."""
        seen: dict[tuple, bool] = {}
        for plan in self._plans(lo, hi):
            for node in _walk(plan):
                name = node.get("nodeName", "")
                if name.startswith(_JOIN_NODES):
                    key = tuple(sorted(m["accumulatorId"] for m in node.get("metrics", [])))
                    seen[key] = name.startswith("Broadcast")
        return sum(seen.values()), len(seen)


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def _span_at(windows: dict[str, list[tuple[float, float]]], t: float) -> str | None:
    for name, spans in windows.items():
        if any(lo <= t <= hi for lo, hi in spans):
            return name
    return None


def parse(path: str, windows: dict[str, list[tuple[float, float]]]) -> EventLog:
    """Fold the event log at ``path`` into counters. A job belongs to
    its job group; a job submitted from a thread that does not inherit
    the group (an engine-internal thread pool) belongs to the span whose
    wall window holds its submission time."""
    stage_group: dict[int, str | None] = {}
    plans: dict[int, tuple[float, dict]] = {}
    accums: dict[int, int] = defaultdict(int)
    spans: dict[str | None, Counters] = defaultdict(Counters)
    tasks = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or _span_at(
                    windows, ev["Submission Time"] / 1000)
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                lo, hi = info["Launch Time"] / 1000, info["Finish Time"] / 1000
                spans[stage_group.get(ev["Stage ID"])].add(lo, hi, m)
                tasks.append((lo, hi, m))
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                plans[int(ev["executionId"])] = (ev["time"] / 1000, ev["sparkPlanInfo"])
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                eid = int(ev["executionId"])
                if eid in plans:
                    plans[eid] = (plans[eid][0], ev["sparkPlanInfo"])
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in ev.get("accumUpdates", []):
                    accums[int(acc_id)] += int(value)
    return EventLog(dict(spans), tasks, plans, dict(accums))
