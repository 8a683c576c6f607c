"""Traced-run collector: Spark's own account of each operation.

Every operation runs under its own job group (`setJobGroup` in the
calling thread; PySpark pins each Python thread to one JVM thread, so
concurrent clients never share a group). Right after the operation the
collector waits for the listener bus to catch up, then reads the
group's jobs from `statusTracker()` and each job's stages from the JVM
`AppStatusStore` (`lastStageAttempt`). Stages that never ran (skipped
because a shuffle was reused, or still pending) are left out. The store
keeps only the most recent ~1000 jobs, which is why harvesting happens
per operation and not at the end of the run.

Spans stay in memory; `Tracer.spans` is written out once, when the
benchmark ends.
"""

from __future__ import annotations

import threading
import time

from py4j.protocol import Py4JJavaError

# StageData field -> (counter name, scale to the reported unit)
_STAGE_FIELDS = (
    ("numCompleteTasks", "tasks", 1),
    ("numFailedTasks", "tasks_failed", 1),
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
    ("jvmGcTime", "jvm_gc_s", 1e-3),
    ("inputBytes", "input_bytes", 1),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("outputBytes", "output_bytes", 1),
)
COUNTERS = ("jobs", "stages") + tuple(name for _, name, _ in _STAGE_FIELDS)


def _union_s(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `spans`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._lock = threading.Lock()
        self._n = 0
        self.spans: list[dict] = []
        self.harvest_s = 0.0

    def begin(self, name: str) -> str:
        """Tag the calling thread's next jobs with a fresh group."""
        with self._lock:
            self._n += 1
            group = f"perfbench-{self._n}"
        self._sc.setJobGroup(group, name)
        return group

    def end(self, group: str, name: str, start: float, end: float) -> dict:
        """Harvest the group's jobs and stages; `start`/`end` are the
        operation's wall-clock span (time.time())."""
        t0 = time.perf_counter()
        try:
            self._bus.waitUntilEmpty(5000)
        except Py4JJavaError:  # TimeoutException
            pass  # read what the store has; a lagging job shows as missing
        counters = dict.fromkeys(COUNTERS, 0.0)
        job_spans: list[tuple[float, float]] = []
        seen: set[int] = set()
        for jid in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                job_spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            counters["jobs"] += 1
            for sid in set(info.stageIds) - seen:
                seen.add(sid)
                try:
                    stage = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # NoSuchElementException: evicted
                    continue
                if stage.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                counters["stages"] += 1
                for field, key, scale in _STAGE_FIELDS:
                    counters[key] += getattr(stage, field)() * scale
        span = {
            "op": name,
            "group": group,
            "start": start,
            "end": end,
            "job_spans": sorted(job_spans),
            "driver_self_s": (end - start) - _union_s(job_spans, start, end),
            **counters,
        }
        with self._lock:
            self.spans.append(span)
            self.harvest_s += time.perf_counter() - t0
        return span
