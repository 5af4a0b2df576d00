"""Measurement helpers the workloads share: wall-clock spans, Spark job
accounting by job group, the streaming progress listener, and peak
memory. Everything here observes the engine from outside, around calls
the benchmark makes; nothing is patched into the engine."""

from __future__ import annotations

import math
import os
import resource
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

now = time.perf_counter


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..1); the median is the statistics
    module's, so an even count averages the middle pair."""
    if not values:
        raise ValueError("no samples")
    if q == 0.5:
        return statistics.median(values)
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Jobs:
    """Spark job, stage and task counts per job group. Each call gets a
    group name of its own, so a count never mixes two calls."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.seq = 0

    def group(self, label: str) -> str:
        self.seq += 1
        name = f"txbench-{self.seq}-{label}"
        self.sc.setJobGroup(name, label)
        return name

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every job event, so
        the status tracker holds every job started so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def counts(self, group: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


class Progress(StreamingQueryListener):
    """Collects every streaming progress event (the per-trigger monitoring
    surface) and the run id of each query started."""

    def __init__(self):
        self.lock = threading.Lock()
        self.events: list = []
        self.run_ids: list[str] = []

    def onQueryStarted(self, event):
        with self.lock:
            self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        with self.lock:
            self.events.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> tuple[list, list[str]]:
        """Return and forget the events and run ids seen so far."""
        with self.lock:
            events, runs = self.events, self.run_ids
            self.events, self.run_ids = [], []
        return events, runs


def batches(events: list) -> list:
    """Progress of the micro-batches that consumed input, in order."""
    return sorted(
        (p for p in events if p.numInputRows > 0), key=lambda p: p.batchId
    )


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def cpu_seconds(pid: int) -> float:
    """CPU seconds (user + system) used so far by the JVM ``pid`` and
    this driver process: the work done, however long it waited for a
    core on a shared host."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    t = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + t.user + t.system


def jvm_hwm_mb(pid: int) -> float:
    """Peak resident set of the JVM (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def python_hwm_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def pinned(spark) -> tuple[float, int]:
    """(MB, count) of RDD blocks currently pinned in the block manager."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return mb, len(infos)
