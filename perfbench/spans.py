"""Spans around the benchmark's calls into each layer, and the host
counters the metrics are read from.

A span records name, layer, start, end and parent. In a traced run
each span also sets a Spark job group, so the stages, tasks, executor
CPU, shuffle and spill of the jobs it starts attach to it; they are read
from Spark's in-process status stores (they work with the UI off) when
the span ends. Spans stay in memory and are written with the run record.
With tracing off a span only keeps its wall time, which the end-to-end
metrics are made of.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _proc_stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields[0] is state; utime, stime, cutime, cstime are stat 14-17
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def _tree(root: int) -> dict[int, float]:
    """pid -> cpu seconds of ``root`` and every live descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
        stack.extend(kids.get(pid, ()))
    return out


def process_tree_cpu(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant, including the
    children each has already reaped (the Python worker daemon reaps
    its forked workers, so their CPU stays counted)."""
    return sum(_tree(root).values())


def descendants(root: int) -> list[int]:
    return [p for p in _tree(root) if p != root]


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def parse_metric(text: str) -> float:
    """First value of a formatted SQL metric ("1,234", "12.5 MiB",
    "total (min, med, max ...)\\n12.5 MiB (...)")."""
    body = text.split("\n", 1)[-1]
    m = re.search(r"(-?[\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB)?", body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "B", 1)


def _seq(seq):
    """Iterate a Scala collection reached over py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Host:
    """Counters of the driver JVM and the processes it starts."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self._mx = self.jvm.java.lang.management.ManagementFactory

    def cpu_s(self) -> float:
        """Spark JVM, its Python workers and this driver process."""
        t = os.times()
        return process_tree_cpu(self.jvm_pid) + t.user + t.system

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mx.getGarbageCollectorMXBeans()) / 1000

    def code_cache_mb(self) -> float:
        used = 0
        for pool in self._mx.getMemoryPoolMXBeans():
            if "Code" in pool.getName():
                used += pool.getUsage().getUsed()
        return used / 1024**2

    def peak_rss_mb(self) -> float:
        return peak_rss_mb(self.jvm_pid)


STAGE_FIELDS = {
    "tasks": lambda s: s.numTasks(),
    "executor_run_s": lambda s: s.executorRunTime() / 1e3,
    "executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
    "shuffle_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "output_bytes": lambda s: s.outputBytes(),
    "output_rows": lambda s: s.outputRecords(),
}
# a plan node that exchanges data with Python workers carries this metric
PYTHON_SENT = "data sent to Python workers"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0
        self._t0 = time.perf_counter()
        self._last_exec = -1
        self.round: int | None = None
        if enabled:
            self._store = self.sc._jsc.sc().statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": self._n,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "round": self.round,
            **attrs,
        }
        if self.enabled:
            s["group"] = f"perfbench-{self._n}"
            self.sc.setJobGroup(s["group"], f"{layer}:{name}")
        self._stack.append(s)
        s["start"] = time.perf_counter() - self._t0
        try:
            yield s
        finally:
            s["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], f"{parent['layer']}:{parent['name']}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self._attach_stages(s)
            self.spans.append(s)

    def _attach_stages(self, s: dict) -> None:
        """Sum the stage metrics of the jobs this span started."""
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(s["group"]))
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        stages = 0
        for sid in stage_ids:
            for attempt in _seq(self._store.stageData(sid, False, self._empty_list(), False, self._empty_doubles())):
                if attempt.status().toString() == "SKIPPED":
                    continue
                stages += 1
                for k, f in STAGE_FIELDS.items():
                    totals[k] += f(attempt)
        s.update(jobs=len(jobs), stages=stages, **totals)
        s.update(self._python_metrics())

    def _python_metrics(self) -> dict:
        """Rows returned by and bytes sent to Arrow Python workers, summed
        over the plan nodes that use them, in the SQL executions since
        the last span ended (the executions that ran inside this one)."""
        out = {"python_rows": 0.0, "python_bytes": 0.0}
        new = [e.executionId() for e in _seq(self._sql.executionsList()) if e.executionId() > self._last_exec]
        self._last_exec = max([self._last_exec, *new])
        for eid in new:
            values = None
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                metrics = {m.name(): m.accumulatorId() for m in _seq(node.metrics())}
                if PYTHON_SENT not in metrics:
                    continue
                values = values or self._sql.executionMetrics(eid)
                for key, label in (("python_bytes", PYTHON_SENT), ("python_rows", "number of output rows")):
                    v = values.get(metrics.get(label, -1))
                    if v.isDefined():
                        out[key] += parse_metric(str(v.get()))
        return out

    def _empty_list(self):
        return self.spark._jvm.java.util.ArrayList()

    def _empty_doubles(self):
        return self.spark._sc._gateway.new_array(self.spark._jvm.double, 0)

    def select(self, layer: str) -> list[dict]:
        return [s for s in self.spans if s["layer"] == layer]

    @staticmethod
    def total(spans: list[dict], key: str) -> float:
        return float(sum(s.get(key, 0) for s in spans))

    @staticmethod
    def wall(spans: list[dict]) -> float:
        return float(sum(s["end"] - s["start"] for s in spans))
