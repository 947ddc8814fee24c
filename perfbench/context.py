"""Per-run state shared by the workloads: the work directory, the Spark
session, the tracer, the collected metrics and the failure count."""

from __future__ import annotations

import os
import sys
import time

from perfbench import collect
from perfbench.trace import Tracer

APP_NAME = "perfbench"


class Context:
    def __init__(self, work: str, workload: str, seed: int, seconds: int,
                 trace: bool):
        self.work = work
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.spark = None
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.publish_log = self.path("published")
        os.makedirs(self.publish_log, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def open_session(self, master: str | None = None):
        """``get_spark``; the first call (JVM launch) is the per-layer
        ``session.get_spark_s``."""
        from tigerbeetle_cdc_nats_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("get_spark"):
            self.spark = get_spark(app_name=APP_NAME, master=master)
        self.layer.setdefault("session.get_spark_s", time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                            "1000")
        return self.spark

    def fail(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            self.failures.append(f"{what} ({n})")
            print(f"perfbench: check failed: {what} ({n})", file=sys.stderr)

    def peak_rss(self) -> None:
        self.layer["process.peak_rss_mb"] = collect.peak_rss_mb()
