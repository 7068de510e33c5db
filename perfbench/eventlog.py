"""Per-layer numbers from Spark's own event log.

A traced run enables ``spark.eventLog`` (uncompressed) and tags every
timed job with a job group ``<layer>#<iteration>``. After the session
stops, this module reads the log with the standard library and gives,
per job group: job count, task CPU and GC time, shuffle bytes written,
bytes spilled and failed tasks; per SQL execution: wall time and the
"number of output rows" of each plan node.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

_WRAPPERS = ("WholeStageCodegen", "InputAdapter", "Project", "ColumnarToRow",
             "AQEShuffleRead", "ShuffleQueryStage", "BroadcastQueryStage",
             "Exchange", "Sort", "ResultQueryStage", "TableCacheQueryStage")


@dataclass
class GroupStats:
    jobs: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    iterations: set = field(default_factory=set)


@dataclass
class Execution:
    id: int
    start_ms: int = 0
    end_ms: int = 0
    group: str | None = None
    plan: dict | None = None

    @property
    def seconds(self) -> float:
        return max(self.end_ms - self.start_ms, 0) / 1000.0


class EventLog:
    def __init__(self, log_dir: str):
        self.groups: dict[str, GroupStats] = defaultdict(GroupStats)
        self.executions: dict[int, Execution] = {}
        self.acc: dict[int, int] = {}
        self._stage_group: dict[int, str] = {}
        for path in sorted(_event_files(log_dir)):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except ValueError:
                        continue  # a torn last line
                    self._on(ev)

    def _exec(self, eid) -> Execution:
        eid = int(eid)
        if eid not in self.executions:
            self.executions[eid] = Execution(eid)
        return self.executions[eid]

    def _on(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            tag = props.get("spark.jobGroup.id")
            if not tag:
                return
            base, _, it = tag.partition("#")
            g = self.groups[base]
            g.jobs += 1
            g.iterations.add(it)
            for s in ev.get("Stage IDs", []):
                self._stage_group[int(s)] = base
            eid = props.get("spark.sql.execution.root.id") or props.get("spark.sql.execution.id")
            if eid is not None:
                self._exec(eid).group = tag
        elif kind == "SparkListenerStageCompleted":
            # SQL metrics (plan-node row counts) appear only here, as the
            # accumulator's value when the stage ended
            for a in (ev.get("Stage Info") or {}).get("Accumulables") or []:
                if str(a.get("Name", "")).startswith("internal."):
                    continue
                try:
                    self._acc_max(a["ID"], a.get("Value"))
                except (KeyError, TypeError, ValueError):
                    continue
        elif kind == "SparkListenerTaskEnd":
            base = self._stage_group.get(int(ev.get("Stage ID", -1)))
            if base is None:
                return
            g = self.groups[base]
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                g.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            ex = self._exec(ev["executionId"])
            ex.start_ms = ev.get("time", 0)
            ex.plan = ev.get("sparkPlanInfo")
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._exec(ev["executionId"]).plan = ev.get("sparkPlanInfo")
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            self._exec(ev["executionId"]).end_ms = ev.get("time", 0)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in ev.get("accumUpdates") or []:
                self._acc_max(aid, v)

    def _acc_max(self, aid, value) -> None:
        aid, value = int(aid), int(value)
        self.acc[aid] = max(self.acc.get(aid, 0), value)

    # -- queries -------------------------------------------------------------
    def per_iteration(self, base: str) -> GroupStats:
        """The group's totals divided by its number of iterations."""
        g = self.groups.get(base, GroupStats())
        n = max(len(g.iterations), 1)
        return GroupStats(jobs=g.jobs / n, failed_tasks=g.failed_tasks,
                          cpu_s=g.cpu_s / n, gc_s=g.gc_s / n,
                          shuffle_write_bytes=g.shuffle_write_bytes / n,
                          spill_bytes=g.spill_bytes / n, iterations=g.iterations)

    def executions_of(self, base: str) -> dict[str, list[Execution]]:
        """iteration tag → its SQL executions in start order."""
        out: dict[str, list[Execution]] = defaultdict(list)
        for ex in sorted(self.executions.values(), key=lambda e: e.id):
            if ex.group and ex.group.partition("#")[0] == base and ex.end_ms:
                out[ex.group].append(ex)
        return out

    def rows(self, node: dict) -> int | None:
        for m in node.get("metrics") or []:
            if m.get("name") == "number of output rows":
                return self.acc.get(int(m["accumulatorId"]), 0)
        return None


def _event_files(log_dir: str):
    for dirpath, _, files in os.walk(log_dir):
        for name in files:
            if not name.startswith("appstatus") and not name.endswith(".crc"):
                yield os.path.join(dirpath, name)


def _walk(node: dict, parents=()):
    yield node, parents
    for c in node.get("children") or []:
        yield from _walk(c, parents + (node,))


def _first_with_rows(log: EventLog, node: dict) -> int | None:
    """Row count of the first node at or below ``node`` that reports one,
    following the first child through wrapper nodes."""
    while node is not None:
        r = log.rows(node)
        if r is not None and not node["nodeName"].startswith(_WRAPPERS):
            return r
        kids = node.get("children") or []
        node = kids[0] if kids else None
    return None


def _is_broadcast(node: dict) -> bool:
    while node is not None:
        name = node["nodeName"]
        if "Broadcast" in name:
            return True
        if not name.startswith(_WRAPPERS):
            return False
        kids = node.get("children") or []
        node = kids[0] if kids else None
    return False


def join_rows(log: EventLog, plan: dict) -> dict[str, int]:
    """Row counts around the broadcast PIP join of one execution: docs
    scanned, rows with a geometry reaching the join, and rows the join
    emits. The optimizer folds pip_join_rect's exact bounds test into
    the join condition, so the emitted rows are the matched rows; the
    cell-prefilter candidates before that test are not visible in the
    plan."""
    out = {}
    for node, parents in _walk(plan):
        name = node["nodeName"]
        if name.startswith("Scan parquet") or name.startswith("FileScan"):
            out["docs_rows"] = out.get("docs_rows", 0) + (log.rows(node) or 0)
        if name == "BroadcastHashJoin" and "matched_rows" not in out:
            out["matched_rows"] = log.rows(node) or 0
            for p in reversed(parents):
                if p["nodeName"] == "Filter":
                    out["matched_rows"] = log.rows(p) or 0
                    break
                if not p["nodeName"].startswith(_WRAPPERS):
                    break
            streamed = [c for c in node.get("children") or [] if not _is_broadcast(c)]
            if streamed:
                out["geo_rows"] = _first_with_rows(log, streamed[0]) or 0
    return out
