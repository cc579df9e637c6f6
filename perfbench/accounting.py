"""Outside-in accounting: Spark job and stage records from the Spark driver's
AppStatusStore (read the way scripts/job_profile.py reads it), and host
stamps from /proc.

Nothing here hooks into the engine. Spark numbers its jobs 0, 1, 2, ...
and the benchmark drives the engine from one thread, so the jobs an
operation submitted are exactly the ids that appeared between its start
and end — streaming micro-batch jobs included, which run under the
stream's own job group.
"""

from __future__ import annotations

import os


class JobLedger:
    """Reads the jobs and stages each benchmark operation produced."""

    def __init__(self, spark) -> None:
        jsc = spark._jsparkSession.sparkContext()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._next = 0
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            self._next = max(self._next, it.next().jobId() + 1)

    def take(self) -> dict:
        """Jobs submitted since the previous call: count, busy time (the
        union of their intervals), and their stages' executor run time,
        shuffle write and spill."""
        from py4j.protocol import Py4JJavaError

        # The status store is fed asynchronously by the listener bus.
        self._bus.waitUntilEmpty(10_000)
        intervals, stages = [], set()
        while True:
            try:
                job = self._store.job(self._next)
            except Py4JJavaError:
                break
            self._next += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.length()))
        task_ms = shuffle_b = spill_b = 0
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # skipped stage: its work belongs to an earlier job
            task_ms += st.executorRunTime()
            shuffle_b += st.shuffleWriteBytes()
            spill_b += st.diskBytesSpilled() + st.memoryBytesSpilled()
        return {
            "jobs": len(intervals),
            "job_busy_s": _union_ms(intervals) / 1000.0,
            "task_s": task_ms / 1000.0,
            "shuffle_write_mb": shuffle_b / 1e6,
            "spill_mb": spill_b / 1e6,
        }


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def cpu_jiffies() -> tuple[float, float]:
    """(total, steal) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    vals = [float(x) for x in f[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0.0


def steal_share(start: tuple[float, float], end: tuple[float, float]) -> float:
    return (end[1] - start[1]) / max(end[0] - start[0], 1.0)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def process_pids(spark) -> list[int]:
    """The Spark driver's Python process and its JVM."""
    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return [os.getpid(), int(jvm)]
