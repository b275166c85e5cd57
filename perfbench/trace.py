"""Spans and Spark counters recorded from outside the package.

Each traced layer call runs under a Spark job group named after its
span, so the jobs, tasks, executor time and shuffle bytes it caused can
be read back from the status store afterwards (this works with the UI
disabled). Jobs the package submits from threads of its own carry no
group; they are counted as untagged. Spans stay in memory until the
benchmark writes them out at the end of the run.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JError


class Tracer:
    def __init__(self, spark, trace_id: str):
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._seen_stages: set[int] = set()
        self._untagged_before = set(self._tracker().getJobIdsForGroup(None))

    def _tracker(self):
        return self.sc.statusTracker()

    @contextmanager
    def span(self, name: str):
        """Time one layer call; its Spark counters land on the span."""
        self.sc.setJobGroup(name, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(
                {"trace": self.trace_id, "name": name, "start": start,
                 "end": end, "parent": None, **self._counters(name)}
            )

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def total_duration(self, names: list[str]) -> float:
        return sum(self.duration(n) for n in names)

    def total(self, key: str) -> float:
        """Sum of a Spark counter over every span."""
        return sum(s[key] for s in self.spans)

    def untagged_jobs(self) -> int:
        now = set(self._tracker().getJobIdsForGroup(None))
        return len(now - self._untagged_before)

    def _counters(self, group: str) -> dict:
        """Jobs, tasks, failed tasks, executor run time and shuffle
        bytes of the stages first seen under ``group``."""
        self._drain_listener_bus()
        tracker = self._tracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = list(tracker.getJobIdsForGroup(group))
        out = {"jobs": len(jobs), "tasks": 0, "failed_tasks": 0,
               "busy_s": 0.0, "shuffle_bytes": 0}
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else []:
                if sid in self._seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JError:  # evicted from the store, or never ran
                    continue
                if str(st.status()) not in ("COMPLETE", "FAILED"):
                    continue
                self._seen_stages.add(sid)
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["busy_s"] += st.executorRunTime() / 1000.0
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        return out

    def _drain_listener_bus(self) -> None:
        # the status store is filled asynchronously from the listener bus
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Py4JError:  # not reachable: fall back to a short grace period
            time.sleep(0.2)
