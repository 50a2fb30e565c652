"""Spans, Spark's event log and plan statistics for the traced run.

Spans are taken in the benchmark's own code around each call into the
program and kept in memory until ``Tracer.write``. The event log is
Spark's own (``spark.eventLog.enabled``), read back as JSON lines after
the session stops; jobs are attributed to a span by the job group the
benchmark sets before the call.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

MIB = 1024 * 1024
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


class Tracer:
    """Nested spans: name, start, end, parent (wall seconds from the
    tracer's origin). ``group`` names the Spark job group of the span, so
    its jobs can be found in the event log."""

    def __init__(self, spark=None, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.origin = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": group,
               "start": time.perf_counter() - self.origin, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if group and self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.origin
            self._stack.pop()
            if group and self.spark is not None:
                self.spark.sparkContext.setJobGroup("", "")

    def write(self, path: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"spans": self.spans}, fh, indent=0)
        os.replace(tmp, path)


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _plan_counts(info: dict, counts: dict) -> None:
    name = info.get("nodeName", "")
    if name == "MapInPandas":
        counts["python_nodes"] += 1
    elif name == "Exchange":
        counts["exchanges"] += 1
    elif name.startswith("Scan"):
        counts["scans"] += 1
    for child in info.get("children", []):
        _plan_counts(child, counts)


def group_stats(events: list[dict], group: str) -> dict:
    """Jobs, stages, task metrics, Python SQL metrics and final-plan node
    counts of every job run under job group ``group``."""
    stage_ids, exec_ids = set(), set()
    jobs = 0
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get("spark.jobGroup.id") == group:
                jobs += 1
                stage_ids.update(ev.get("Stage IDs", []))
                if "spark.sql.execution.id" in props:
                    exec_ids.add(int(props["spark.sql.execution.id"]))
    out = {"jobs": jobs, "stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
           "gc_s": 0.0, "spill_mib": 0.0, "shuffle_write_mib": 0.0,
           "python_init_s": 0.0, "to_python_mib": 0.0, "from_python_mib": 0.0,
           "python_nodes": 0, "exchanges": 0, "scans": 0}
    plans: dict[int, dict] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in stage_ids:
                out["stages"] += 1
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_ids:
            m = ev.get("Task Metrics") or {}
            out["tasks"] += 1
            out["task_s"] += m.get("Executor Run Time", 0) / 1e3
            out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["spill_mib"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0)) / MIB
            sw = m.get("Shuffle Write Metrics") or {}
            out["shuffle_write_mib"] += sw.get("Shuffle Bytes Written", 0) / MIB
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                upd = acc.get("Update")
                if not isinstance(upd, (int, float, str)):
                    continue
                if acc.get("Name") == PY_INIT:
                    out["python_init_s"] += float(upd) / 1e3
                elif acc.get("Name") == PY_SENT:
                    out["to_python_mib"] += float(upd) / MIB
                elif acc.get("Name") == PY_RECV:
                    out["from_python_mib"] += float(upd) / MIB
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            if ev.get("executionId") in exec_ids:
                plans[ev["executionId"]] = ev["sparkPlanInfo"]  # last one is final
    for info in plans.values():
        _plan_counts(info, out)
    return out


def median_stats(per_group: list[dict]) -> dict:
    return {k: statistics.median(d[k] for d in per_group) for k in per_group[0]}


def plan_seconds(df) -> float:
    """Analysis + optimization + planning time of an executed DataFrame,
    from its QueryExecution tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs() / 1e3
    return total


def storage_mib(spark) -> float:
    """Memory + disk held by persisted RDDs right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MIB


def _tree_stats(root: int) -> list[list[str]]:
    """The /proc/<pid>/stat fields after the command name of ``root``
    and all its descendants (the JVM and the Python workers)."""
    parent: dict[int, int] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        stats[int(d)] = fields
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return [stats[p] for p in tree if p in stats]


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and its
    descendants, living or reaped."""
    ticks = sum(sum(int(f[i]) for i in (11, 12, 13, 14))
                for f in _tree_stats(os.getpid()))
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak_mib = 0.0
        self._stop_event = threading.Event()

    @staticmethod
    def _tree_rss_mib(root: int) -> float:
        pages = sum(int(f[21]) for f in _tree_stats(root))
        return pages * os.sysconf("SC_PAGE_SIZE") / MIB

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_event.is_set():
            self.peak_mib = max(self.peak_mib, self._tree_rss_mib(me))
            self._stop_event.wait(self.period)

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        return self.peak_mib
