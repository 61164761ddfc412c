"""What the benchmark reads from a running Spark application from the
outside: span timing with per-span job groups, Spark's per-stage
counters for those groups, cache release between ops, and peak RSS.

Nothing here changes how the engine plans or runs a query.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager

#: counters summed over the distinct stages an op ran, by metric name
COUNTER_NAMES = (
    "spark.jobs",
    "spark.tasks",
    "spark.task_failures",
    "spark.input_mb",
    "spark.shuffle_write_mb",
    "spark.spill_mb",
    "spark.executor_run_s",
    "spark.gc_s",
)
_MB = 1e6


def release_cached(spark) -> None:
    """Drop everything the last op pinned.  ``clearCache`` goes through
    Spark's CacheManager, so a later persist of an identical plan stores
    blocks again; the raw sweep then frees what the CacheManager never
    knew about (``localCheckpoint`` blocks).  Sweeping raw RDDs alone
    leaves stale CacheManager entries that turn the next identical-plan
    persist into a silent no-op."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set sizes (``VmHWM``) of the given
    processes, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb * 1024 / _MB


class Tracer:
    """In-memory spans.  Each span records its name, op id, parent span
    and start/end times.  While enabled, every span also runs its Spark
    jobs under a job group of its own, so the jobs, stages and task
    counters of each span (and so of each op) can be looked up after
    the fact.  Job groups are thread-local in PySpark's pinned-thread
    mode, so concurrent client threads attribute their jobs to their
    own requests.  Disabled, a span only yields."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        stack = self._stack.__dict__.setdefault("s", [])
        with self._lock:
            sid = next(self._ids)
        group = f"perfbench-{sid}"
        parent = stack[-1] if stack else None
        stack.append((sid, group))
        self._sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if stack:
                self._sc.setJobGroup(stack[-1][1], "")
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append({
                    "id": sid, "parent": parent[0] if parent else None, "op": op,
                    "name": name, "start": t0, "end": t1, "group": group,
                })

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def op_counters(self, op: str) -> dict[str, float]:
        """Spark's counters over the jobs of one op's spans: jobs
        launched, and per distinct stage that ran (skipped stages
        excluded) the tasks, failed tasks, input, shuffle write, disk
        spill, executor run time and JVM GC time.  Also the jobs of each
        span name, as ``jobs:<name>``.  Call :meth:`drain` first.  The
        status store keeps only the last ``spark.ui.retainedJobs`` jobs
        and ``spark.ui.retainedStages`` stages of the application."""
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        out = dict.fromkeys(COUNTER_NAMES, 0.0)
        stages = set()
        with self._lock:
            spans = [s for s in self.spans if s["op"] == op]
        for s in spans:
            jids = tracker.getJobIdsForGroup(s["group"])
            key = f"jobs:{s['name']}"
            out[key] = out.get(key, 0.0) + len(jids)
            out["spark.jobs"] += len(jids)
            for jid in jids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stages.update(info.stageIds)
        for sid in stages:
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            out["spark.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["spark.task_failures"] += sd.numFailedTasks()
            out["spark.input_mb"] += sd.inputBytes() / _MB
            out["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
            out["spark.spill_mb"] += sd.diskBytesSpilled() / _MB
            out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
            out["spark.gc_s"] += sd.jvmGcTime() / 1e3
        return out

    def drain(self) -> None:
        """Wait until Spark's listener bus has delivered every event
        so far to the status store the counters are read from."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
