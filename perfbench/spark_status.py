"""Reads job and stage metrics from Spark's own status store.

The session runs with the UI disabled, but the application status store
that backs the UI is still fed by the listener bus, and the JVM objects are
reachable through py4j. Jobs and stages get monotonically increasing ids, so
the work done between two points on a single calling thread is exactly the
jobs whose ids lie between the highest job id seen at each point. The
retained job list is capped (``spark.ui.retainedJobs``), so counting by list
length is wrong once old jobs are evicted; counting by id delta is not.
Metrics of a stage are read right after the interval that ran it, long
before it could be evicted.
"""

from __future__ import annotations

import time
from dataclasses import dataclass


@dataclass
class Work:
    """Spark work done in one interval."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_busy_s: float = 0.0   # wall time covered by at least one job

    def add(self, other: "Work") -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


def spark_per_op(total: Work, n: int) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics of ``n`` operations."""
    return {
        "spark.jobs_per_op": total.jobs / n,
        "spark.stages_per_op": total.stages / n,
        "spark.tasks_per_op": total.tasks / n,
        "spark.executor_run_s_per_op": total.executor_run_s / n,
        "spark.executor_cpu_s_per_op": total.executor_cpu_s / n,
        "spark.shuffle_write_kb_per_op": total.shuffle_write_bytes / 1024 / n,
        "spark.spill_mb": total.spill_bytes / 2**20,
    }


class StatusReader:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.last_stage = -1   # stages up to this id are already counted

    def mark(self) -> None:
        """Count only stages that run from now on."""
        self.last_stage = self.last_stage_id()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every queued event, so
        the status store reflects all jobs that already returned."""
        self._bus.waitUntilEmpty(60_000)

    def last_job_id(self) -> int:
        """Highest job id issued so far (-1 before the first job)."""
        self.drain()
        jobs = self._store.jobsList(None)   # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def work_between(self, first_job: int, last_job: int) -> Work:
        """Work of jobs ``first_job..last_job`` (inclusive). Stages with ids
        up to ``last_stage`` ran earlier (a skipped stage is reused by id)
        and are not counted again."""
        w = Work()
        spans: list[tuple[int, int]] = []
        stage_ids: set[int] = set()
        for jid in range(first_job, last_job + 1):
            job = self._store.job(jid)
            w.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        new_stages = sorted(s for s in stage_ids if s > self.last_stage)
        for sid in new_stages:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            w.stages += 1
            w.tasks += st.numCompleteTasks()
            w.executor_run_s += st.executorRunTime() / 1e3
            w.executor_cpu_s += st.executorCpuTime() / 1e9
            w.shuffle_write_bytes += st.shuffleWriteBytes()
            w.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        w.job_busy_s = _union_ms(spans) / 1e3
        self.last_stage = max([self.last_stage, *stage_ids])
        return w

    def last_stage_id(self) -> int:
        """Highest stage id of the newest job (-1 before the first job)."""
        self.drain()
        jobs = self._store.jobsList(None)
        if not jobs.size():
            return -1
        ids = jobs.apply(0).stageIds()
        return max((int(ids.apply(i)) for i in range(ids.size())), default=-1)

    def persisted_rdds(self) -> int:
        return self._sc._jsc.getPersistentRDDs().size()

    def storage_mb(self) -> float:
        """Storage memory the block managers hold (cached and checkpointed
        blocks), in MiB."""
        self.drain()
        execs = self._store.executorList(True)
        used = sum(execs.apply(i).memoryUsed() for i in range(execs.size()))
        return used / 2**20


def _union_ms(spans: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for lo, hi in sorted(spans):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


class Interval:
    """The Spark work of one interval on the calling thread:
    ``with Interval(reader) as iv: ...`` then read ``iv.work``. Only valid
    when no other thread issues jobs during the interval. ``overhead_s`` is
    the time spent reading the status store, outside the interval itself."""

    def __init__(self, reader: StatusReader):
        self.reader = reader
        self.work = Work()
        self.overhead_s = 0.0

    def __enter__(self):
        t0 = time.perf_counter()
        self._j0 = self.reader.last_job_id()
        self.overhead_s += time.perf_counter() - t0
        return self

    def __exit__(self, *exc):
        t0 = time.perf_counter()
        j1 = self.reader.last_job_id()
        if j1 > self._j0:
            self.work = self.reader.work_between(self._j0 + 1, j1)
        self.overhead_s += time.perf_counter() - t0
        return False
