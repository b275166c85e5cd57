"""Helpers shared by the workloads: operation accounting, summary
statistics and small measurements taken from outside the package."""

from __future__ import annotations

import math
import os
import statistics
import sys
import time


class Ops:
    """Counts checked operations. An operation fails when it raises or
    its output check does not hold."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)


def median(xs) -> float:
    return float(statistics.median(xs))


def built_inputs(build, release, times: int = 3):
    """Build the inputs ``times`` times and keep the last build; returns
    it with the median build time. The first build is cold, so the
    median is a warm one."""
    took = []
    for i in range(times):
        t0 = time.perf_counter()
        inputs = build()
        took.append(time.perf_counter() - t0)
        if i < times - 1:
            release(inputs)
    return inputs, median(took)


def end_to_end(setup_s: float, ops_s: list[float]) -> dict:
    """The end-to-end metrics from the per-operation medians."""
    return {
        "setup_s": setup_s,
        "total_s": sum(ops_s),
        "geomean_s": math.exp(sum(math.log(x) for x in ops_s) / len(ops_s)),
    }


def plan_seconds(df) -> None:
    """Force analysis, optimization and physical planning of ``df``
    without running it (the caller times the call)."""
    df._jdf.queryExecution().executedPlan()


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM (peak resident set) of the local-mode JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
