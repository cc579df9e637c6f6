"""Run context shared by the workloads: session start, repeated set-up,
host stamps and the traced-run job ledger."""

from __future__ import annotations

import os
import statistics
import time

import accounting
from spans import NullTracer, Tracer


class Run:
    def __init__(self, work_dir: str, seed: int, seconds: float, traced: bool) -> None:
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.tracer = Tracer() if traced else NullTracer()
        self.spark = None
        self.ledger: accounting.JobLedger | None = None
        self.get_spark_s = 0.0
        self.loadavg_start = os.getloadavg()[0]
        self._jiffies = accounting.cpu_jiffies()

    def setup(self, rep, reps: int) -> tuple[float, object]:
        """Start the session with the engine's factory (this launches the
        JVM), then run the workload's repeatable set-up ``reps`` times:
        input generation, ETL or load, and caching — everything up to the
        first timed operation. Returns session start plus the median rep,
        and the last rep's state."""
        from panditya_spark.session import get_spark

        with self.tracer.span("get_spark", "session"):
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench")
            self.get_spark_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.traced:
            self.ledger = accounting.JobLedger(self.spark)
        times, state = [], None
        for i in range(reps):
            with self.tracer.span(f"setup{i}", "harness"):
                t0 = time.perf_counter()
                state = rep(self.spark)
                times.append(time.perf_counter() - t0)
        return self.get_spark_s + statistics.median(times), state

    def take_jobs(self) -> dict:
        """Jobs since the last call (traced runs only)."""
        return self.ledger.take() if self.ledger is not None else {}

    def host_metrics(self) -> dict[str, float]:
        return {
            "host.steal_share": accounting.steal_share(
                self._jiffies, accounting.cpu_jiffies()
            ),
            "host.loadavg_start": self.loadavg_start,
            "host.peak_rss_mb": accounting.peak_rss_mb(
                accounting.process_pids(self.spark)
            ),
        }

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0

