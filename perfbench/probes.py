"""Measurement probes: wall-clock spans, Spark stage counters, process
CPU and peak RSS.

Spans are recorded only in a traced run, around calls the benchmark makes
into the engine's public functions; the engine itself is not instrumented.
Stage counters come from Spark's status store (it is kept with the UI
disabled), read per job group after the listener bus has drained.
"""

from __future__ import annotations

import contextlib
import os
import resource
import statistics
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")

#: Counter names summed over every non-skipped stage of a job group.
STAGE_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
)


class Tracer:
    """Per-operation span totals of a traced run, kept in memory until the
    run ends. Spans add to the operation begun last."""

    def __init__(self):
        self.ops: list[dict[str, float]] = []

    def begin_op(self) -> None:
        self.ops.append(defaultdict(float))

    @contextlib.contextmanager
    def span(self, *names: str):
        """Add the block's wall time to each of ``names`` (a layer total and,
        where useful, a finer per-query name)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(time.perf_counter() - t0, *names)

    def add(self, value: float, *names: str) -> None:
        for name in names:
            self.ops[-1][name] += value

    def median(self, name: str) -> float:
        values = [op.get(name, 0.0) for op in self.ops]
        return statistics.median(values) if values else 0.0


class StageProbe:
    """Reads jobs, stages, tasks, shuffle, spill, run/CPU/GC time for the
    jobs tagged with one job group, plus the JVM's CPU over the group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = self._sc.statusTracker()
        self._jvm = jvm_pid(spark)
        self._groups = 0

    @contextlib.contextmanager
    def group(self, label: str, into: dict[str, float] | None = None):
        """Tag every job started inside the block. Yields a dict that holds
        the group's counters once the block exits; they are also added to
        ``into`` when given."""
        self._groups += 1
        name = f"{label}#{self._groups}"
        counts: dict[str, float] = {}
        cpu0 = cpu_s(self._jvm)
        self._sc.setJobGroup(name, label)
        try:
            yield counts
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            counts.update(self.counters(name), jvm_cpu_s=cpu_s(self._jvm) - cpu0)
            if into is not None:
                for k, v in counts.items():
                    into[k] = into.get(k, 0.0) + v

    def counters(self, group: str) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(STAGE_COUNTERS, 0.0)
        jobs = self._tracker.getJobIdsForGroup(group)
        out["jobs"] = float(len(jobs))
        for job in jobs:
            info = self._tracker.getJobInfo(job)
            for stage_id in info.stageIds if info else ():
                sd = self._store.lastStageAttempt(stage_id)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
        return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds of a process so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def peak_rss_mb(pid: int) -> float:
    """Peak resident set of the JVM plus this Python process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024.0


def tree_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a sink directory, ignoring Spark's
    ``_SUCCESS`` and checksum files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
