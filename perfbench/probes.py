"""Measurement helpers: process-tree RSS, Spark job accounting, disk usage."""

from __future__ import annotations

import os
import threading

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
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(root: int) -> list[int]:
    children = _children_map()
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_pss_bytes(root: int) -> int:
    """Resident memory of ``root`` and its descendants with shared pages
    counted once: the sum of their PSS. Summing plain RSS would count a
    forked child's copy-on-write pages (Python workers forked from the
    PySpark daemon, a JVM child between fork and exec) once per process."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # exited between the scan and the read
    return total


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (the JVM and the Python workers) on a background thread;
    ``peak`` is the largest total seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


class SparkCounter:
    """Counts the jobs, stages and tasks Spark ran under a job group the
    benchmark sets around one call, via ``statusTracker``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._gc_beans = (spark._jvm.java.lang.management.ManagementFactory
                          .getGarbageCollectorMXBeans())
        self._n = 0

    def group(self, label: str) -> str:
        self._n += 1
        gid = f"perfbench-{label}-{self._n}"
        self.sc.setJobGroup(gid, label)
        return gid

    def counts(self, gid: str) -> dict:
        jobs = self.tracker.getJobIdsForGroup(gid)
        stages = []
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.extend(info.stageIds)
        tasks = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}

    def gc_ms(self) -> int:
        """Cumulative JVM garbage-collection time."""
        return sum(b.getCollectionTime() for b in self._gc_beans)


def dir_usage(root: str) -> tuple[int, int, set[str]]:
    """(total bytes, parquet file count, set of file paths) under root."""
    total, n_parquet, paths = 0, 0, set()
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            total += os.path.getsize(p)
            n_parquet += f.endswith(".parquet")
            paths.add(p)
    return total, n_parquet, paths
