"""Spans around the benchmark's calls into the engine.

Every span records its wall time. With tracing on, each span also runs
under its own Spark job group (``SparkContext.setJobGroup``); when the span
ends, the benchmark waits for the listener bus to drain and reads that
group's jobs and stages from Spark's status store, so the numbers are
Spark's own job, stage and shuffle statistics for exactly that public call.
Spans are read as they end (the store keeps only ``spark.ui.retainedJobs``
jobs) and kept in memory until the run writes them out.

Per traced span:

- ``wall_s``: wall time of the call;
- ``jobs``, ``stages``, ``tasks``: jobs of the group, stages that ran
  (skipped stages are not counted) and tasks those stages completed;
- ``executor_run_s``, ``executor_cpu_s``: summed task run and CPU time;
- ``busy_cores``: executor run time over wall time;
- ``driver_only_s``: wall time in which none of the span's stages was
  running (from first task launch to stage completion), i.e. time spent in
  planning, driver-side code and job scheduling;
- ``shuffle_read_bytes``, ``shuffle_write_bytes``, ``spill_bytes`` (disk).
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

# field -> unit
FIELDS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "busy_cores": "cores",
    "driver_only_s": "s",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
}


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def _ms(opt_date):
    return opt_date.get().getTime() if opt_date.isDefined() else None


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Tracer:
    """Times named spans; while ``enabled`` also reads their Spark metrics."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count()
        core = self.sc._jsc.sc()
        self._store = core.statusStore()
        self._bus = core.listenerBus()

    @contextmanager
    def span(self, name: str):
        """Time the body as span ``name``; the record is appended to
        ``spans`` when the body returns (a failing body records nothing)."""
        traced = self.enabled
        group = f"perfbench:{name}:{next(self._ids)}"
        if traced:
            self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
            t1 = time.time()
        finally:
            if traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        rec = {"name": name, "start": t0, "end": t1, "wall_s": t1 - t0}
        if traced:
            rec.update(self._read_group(group, t0, t1))
        self.spans.append(rec)

    def _read_group(self, group: str, t0: float, t1: float) -> dict:
        self._bus.waitUntilEmpty(60_000)
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in job_ids:
            stage_ids.update(_seq(self._store.job(jid).stageIds()))
        out = dict.fromkeys(list(FIELDS)[1:], 0)
        out["jobs"] = len(job_ids)
        running = []
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            first, done = _ms(st.firstTaskLaunchedTime()), _ms(st.completionTime())
            if first is not None and done is not None:
                running.append((max(first / 1e3, t0), min(done / 1e3, t1)))
        wall = t1 - t0
        out["busy_cores"] = out["executor_run_s"] / wall if wall > 0 else 0.0
        out["driver_only_s"] = max(
            0.0, wall - _union_length([iv for iv in running if iv[1] > iv[0]])
        )
        return out

    def walls(self, name: str) -> list[float]:
        return [s["wall_s"] for s in self.spans if s["name"] == name]
