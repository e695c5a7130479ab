"""Spans recorded around calls into the engine, and Spark task metrics
attributed to them through the event log.

Every span also sets the Spark job group (``spark.jobGroup.id``) to its
name for as long as it is open, so each job the engine runs inside it is
tagged with the innermost open span. ``read_event_log`` reads Spark's
uncompressed, non-rolling event log and sums task metrics per group.
"""

from __future__ import annotations

import json
import math
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP = "spark.jobGroup.id"


class Tracer:
    """In-memory span recorder: name, start, end, parent, run id."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[str] = self._stack()

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a span opened on a worker thread (the writer's bucket pool)
        # hangs under whatever the main thread has open
        outer = stack or self._main_stack
        parent = outer[-1] if outer else None
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, name)
        stack.append(name)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            stack.pop()
            self.sc.setLocalProperty(GROUP, prev)
            with self._lock:
                self.spans.append({"name": name, "start": start, "end": end,
                                   "parent": parent, "run_id": self.run_id})

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name]

    def wall(self, name: str) -> float:
        return sum(self.walls(name))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _plan_exchanges(node: dict) -> int:
    """Shuffle and broadcast exchanges in one executed plan. A cached
    relation's plan is shown under its scan but runs only when the cache
    is built, so it is not counted again there."""
    name = node.get("nodeName", "")
    n = 1 if name in ("Exchange", "BroadcastExchange") else 0
    if name.startswith("InMemoryTableScan"):
        return n
    return n + sum(_plan_exchanges(c) for c in node.get("children", []))


class GroupStats:
    def __init__(self):
        self.jobs = 0
        self.stages: set = set()
        self.task_run_ms: dict = defaultdict(list)  # stage -> run times
        self.run_ms = 0
        self.cpu_ns = 0
        self.gc_ms = 0
        self.shuffle_write = 0
        self.spill = 0
        self.records_in: list[int] = []
        self.exchanges = 0

    @property
    def tasks(self) -> int:
        return sum(len(v) for v in self.task_run_ms.values())

    def task_skew(self) -> float:
        """max / median task run time in the layer's busiest stage."""
        if not self.task_run_ms:
            return 0.0
        times = max(self.task_run_ms.values(), key=sum)
        return max(times) / max(statistics.median(times), 1.0)

    def batches(self, max_records: int) -> int:
        return sum(math.ceil(r / max_records) for r in self.records_in)


def read_event_log(path: str) -> dict[str, GroupStats]:
    """Task metrics summed per job group from one event log file."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get(GROUP)
                if g is None:
                    continue
                groups[g].jobs += 1
                for s in ev["Stage IDs"]:
                    stage_group.setdefault(s, g)
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or m is None:
                    continue
                st = groups[g]
                stage = (ev["Stage ID"], ev["Stage Attempt ID"])
                st.stages.add(stage)
                st.task_run_ms[stage].append(m["Executor Run Time"])
                st.run_ms += m["Executor Run Time"]
                st.cpu_ns += m["Executor CPU Time"]
                st.gc_ms += m["JVM GC Time"]
                st.spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                st.shuffle_write += \
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                rec = m["Input Metrics"]["Records Read"]
                if rec:
                    st.records_in.append(rec)
            elif kind.endswith("SparkListenerSQLExecutionStart") or \
                    kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                # the last plan seen for an execution is its final plan
                exec_plan[int(ev["executionId"])] = ev["sparkPlanInfo"]
    for eid, plan in exec_plan.items():
        g = exec_group.get(eid)
        if g is not None:
            groups[g].exchanges += _plan_exchanges(plan)
    return dict(groups)
