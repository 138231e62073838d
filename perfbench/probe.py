"""Measurement from outside the program: job groups, spans, status store.

Every Spark job the benchmark triggers runs under a job group named
after the operation that caused it (one per cycle stage or per query
phase). After the run, :func:`group_metrics` reads the session's
in-process status store (the ``sc._jsc.sc().statusStore()`` route that
``bench.py`` uses; it works with the UI off) and sums task time,
shuffle writes, spill, GC time and the job count per group.

Spans (name, start, end, parent) are kept in memory and written once,
at exit, by :meth:`Spans.write`.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

UNAVAILABLE = "unavailable"


class Spans:
    """In-memory span recorder; also sets the Spark job group for the
    duration of each span that names one."""

    def __init__(self, sc):
        self.sc = sc
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        rec = {"id": len(self.records), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": group, "start": time.perf_counter(), "end": None}
        self.records.append(rec)
        self._stack.append(rec["id"])
        if group is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wall(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def write(self, path: str) -> None:
        keys = ("id", "name", "parent", "group", "start", "end")
        with open(path, "w") as f:
            json.dump([{k: r[k] for k in keys} for r in self.records], f)


def group_metrics(sc) -> dict[str, dict] | str:
    """Per job group: ``task_s`` (executorRunTime), ``shuffle_b`` (shuffle
    write bytes), ``spill_b`` (memory + disk spill), ``gc_s`` and
    ``jobs``. A stage listed by several jobs (a reused shuffle shows up
    as a skipped stage of later jobs) is credited to the first job that
    lists it. Returns :data:`UNAVAILABLE` when the JVM internals cannot
    be reached."""
    try:
        store = sc._jsc.sc().statusStore()
        empty = sc._jvm.java.util.Collections.emptyList()
        jobs = store.jobsList(empty)
        jobs = sorted((jobs.apply(i) for i in range(jobs.size())),
                      key=lambda job: job.jobId())
        owner: dict[int, str] = {}
        out: dict[str, dict] = {}
        for job in jobs:
            g = job.jobGroup()
            group = g.get() if g.isDefined() else ""
            acc = out.setdefault(group, {"task_s": 0.0, "shuffle_b": 0,
                                         "spill_b": 0, "gc_s": 0.0, "jobs": 0})
            acc["jobs"] += 1
            ids = job.stageIds()
            for j in range(ids.size()):
                owner.setdefault(ids.apply(j), group)
        stages = store.stageList(
            empty, False, False, sc._gateway.new_array(sc._jvm.double, 0),
            empty,
        )
        for i in range(stages.size()):
            s = stages.apply(i)
            group = owner.get(s.stageId())
            if group is None:
                continue
            acc = out[group]
            acc["task_s"] += s.executorRunTime() / 1000.0
            acc["gc_s"] += s.jvmGcTime() / 1000.0
            acc["shuffle_b"] += s.shuffleWriteBytes()
            acc["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out
    except Exception:  # noqa: BLE001 — diagnostics must not fail the run
        return UNAVAILABLE


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def reset_peak_rss(pids: list[int]) -> None:
    """Reset ``VmHWM`` of ``pids`` to their current RSS, so that a later
    :func:`peak_rss_mb` covers only what ran in between."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids`` and all their live
    descendants (Python workers are children of the JVM), including
    children they already reaped."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    roots = set(pids)

    def in_tree(pid: int) -> bool:
        while pid > 1:
            if pid in roots:
                return True
            pid = parent.get(pid, 0)
        return False

    return sum(t for pid, t in ticks.items() if in_tree(pid)) / os.sysconf("SC_CLK_TCK")


def calibrate(spark) -> float:
    """``bench.py``'s host anchor at a tenth of its size: a fixed
    CPU-bound range -> xxhash64 -> 1000-key aggregate, best of 2 after a
    warm-up run."""
    from pyspark.sql import functions as F

    n_cores = spark.sparkContext.defaultParallelism
    df = (
        spark.range(0, 60_000_000, 1, n_cores)
        .select((F.xxhash64("id") % 1000).alias("k"), "id")
        .groupBy("k")
        .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    df.write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
