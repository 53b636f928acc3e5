"""Measurements taken from outside the engine: Spark job groups, plan shape,
JVM garbage collection and memory, process CPU time and host CPU steal.

Nothing here changes what the engine computes.  Job and stage counts come
from the status tracker, one job group per measured call; plan operator
counts come from the executed plan of the DataFrame the engine returned.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass

_PLAN_NODES = {
    "plan.file_scans": "FileScan",
    "plan.exchanges": "Exchange",
    "plan.sorts": "Sort",
    "plan.hash_aggregates": "HashAggregate",
}


def plan_counts(df) -> dict:
    """Operator counts of ``df``'s executed plan (before it runs)."""
    tree = df._jdf.queryExecution().executedPlan().treeString()
    # a node name is the first word on its line, after the tree glyphs
    names = [
        m.group(1)
        for m in re.finditer(r"^[\s:+\-*()\d]*([A-Za-z]\w*)", tree, re.M)
    ]
    return {key: names.count(node) for key, node in _PLAN_NODES.items()}


@dataclass
class Span:
    name: str
    seconds: float = 0.0
    jobs: int = 0
    stages: int = 0


class Probe:
    """Spans kept in memory; each span is one Spark job group."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list = []
        self._n = 0
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def _drain_listeners(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    @contextmanager
    def span(self, name: str):
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(group, name)
        s = Span(name)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.seconds = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self._drain_listeners()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stages = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        s.jobs, s.stages = len(job_ids), len(stages)
        self.spans.append(s)

    def gc_seconds(self) -> float:
        jvm = self.spark._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def cpu_seconds(self) -> float:
        """User + system CPU time of this process and the Spark JVM, less the
        JVM's JIT compiler threads (their work is warm-up, not validation;
        ``run.py`` keeps the set of compiler threads fixed).  Time the
        hypervisor stole from the VM is not in it."""
        ticks = _ticks(f"/proc/{self.jvm_pid}/stat")[1]
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            try:
                comm, t = _ticks(f"{task_dir}/{tid}/stat")
            except (FileNotFoundError, ProcessLookupError):  # thread ended
                continue
            if "CompilerThre" in comm:
                ticks -= t
        own = os.times()
        return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")


def _ticks(stat_path: str) -> tuple:
    """``(comm, utime + stime)`` from a /proc stat file."""
    with open(stat_path) as f:
        head, tail = f.read().rsplit(")", 1)
    fields = tail.split()
    return head.split("(", 1)[1], int(fields[11]) + int(fields[12])


def cpu_times() -> list:
    """Aggregate CPU jiffies from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def stolen_share(before: list, after: list) -> float:
    """Share of the CPU time the VM's runnable threads wanted that the
    hypervisor gave to other guests: steal / (user + nice + system + irq +
    softirq + steal).  Idle CPUs are not stolen from, so this is the share by
    which steal stretched the wall time of the work that ran meanwhile."""
    d = [b - a for a, b in zip(before, after)]
    wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / wanted if wanted else 0.0


def steal_pct(before: list, after: list) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return 100.0 * delta[7] / total if total else 0.0
