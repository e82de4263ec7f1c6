"""Spans, job-group counts and process probes for the traced run.

Spans wrap calls from the benchmark into the library's public functions;
nothing here reaches inside ``js_hll_spark``. Spans stay in memory and are
written once, when the run ends.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, qid: int):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "qid": qid,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def self_times(self) -> dict[str, float]:
        """Seconds per span name: duration minus the time its child spans
        cover (children of one span never overlap: one driver thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - c
        return out


class JobGroups:
    """Tags a phase's jobs with a job group and counts them afterwards
    through the status tracker."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def phase(self, description: str):
        self._n += 1
        group = f"perfbench-{self._n}"
        self._sc.setJobGroup(group, description, False)
        counted = {"jobs": 0}
        try:
            yield counted
        finally:
            counted["jobs"] = len(
                self._sc.statusTracker().getJobIdsForGroup(group))
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)


def gc_ms(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(max(0, b.getCollectionTime()) for b in beans))


def pinned_bytes(spark, keep: frozenset[int]) -> float:
    """Memory plus disk size of persisted RDD blocks outside ``keep`` (the
    localCheckpoint blocks a call left pinned)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return float(sum(i.memSize() + i.diskSize() for i in infos
                     if int(i.id()) not in keep))


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssProbe:
    """Peak resident set of the driver JVM plus its Python workers: at each
    sample, the sum of VmHWM (per-process peak RSS) over the JVM and all
    its live descendants; the metric is the largest such sum."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.peak_kb = 0

    def sample(self) -> None:
        children = _children_map()
        total, todo = 0, [self.jvm_pid]
        while todo:
            pid = todo.pop()
            total += _hwm_kb(pid)
            todo.extend(children.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
