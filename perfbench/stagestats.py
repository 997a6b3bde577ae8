"""Spark stage accounting for one timed call, read from the status store.

The benchmark runs each traced call under its own job group and then
reads that group's stages. The status store is a private JVM API; every
use of it is pinned in :func:`_read_group`. When that call fails (another
Spark version, a stopped context), :func:`read_group` returns a
wall-only row with ``available=False`` instead of raising.

Checked on Spark 4.1.2 with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import statistics
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JError

LISTENER_TIMEOUT_MS = 10_000


@dataclass
class StageTotals:
    """Sums over the completed stages of one job group."""

    available: bool
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    tasks: int = 0
    task_skew: float = 0.0  # max / median task run time of the busiest stage
    stages: int = 0


@contextmanager
def job_group(sc, group: str):
    """Tag the jobs started inside the block with ``group``."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def read_group(sc, group: str) -> StageTotals:
    """Stage totals of job group ``group``; wall-only on API failure."""
    try:
        return _read_group(sc, group)
    except (Py4JError, AttributeError, TypeError):
        return StageTotals(available=False)


def _read_group(sc, group: str) -> StageTotals:
    jsc = sc._jsc.sc()
    # the status store is fed by an asynchronous listener: drain it first
    jsc.listenerBus().waitUntilEmpty(LISTENER_TIMEOUT_MS)
    store = jsc.statusStore()
    jvm = sc._jvm
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    jobs = store.jobsList(jvm.java.util.ArrayList())
    stage_ids = []
    for k in range(jobs.size()):
        job = jobs.apply(k)
        job_group_opt = job.jobGroup()
        if job_group_opt.isDefined() and job_group_opt.get() == group:
            ids = job.stageIds()
            stage_ids.extend(ids.apply(m) for m in range(ids.size()))
    totals = StageTotals(available=True)
    busiest = (-1, None)
    for sid in sorted(set(stage_ids)):
        attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
        for a in range(attempts.size()):
            stage = attempts.apply(a)
            if stage.status().toString() != "COMPLETE":
                continue  # skipped (reused exchange) or failed attempt
            totals.stages += 1
            totals.cpu_s += stage.executorCpuTime() / 1e9
            totals.run_s += stage.executorRunTime() / 1e3
            totals.gc_s += stage.jvmGcTime() / 1e3
            totals.shuffle_write_bytes += stage.shuffleWriteBytes()
            totals.spill_bytes += stage.diskBytesSpilled()
            totals.tasks += stage.numCompleteTasks()
            if stage.executorRunTime() > busiest[0]:
                busiest = (stage.executorRunTime(), (sid, stage.attemptId(), stage.numTasks()))
    if busiest[1] is not None:
        sid, attempt, n_tasks = busiest[1]
        tasks = store.taskList(sid, attempt, n_tasks)
        run_ms = []
        for t in range(tasks.size()):
            metrics = tasks.apply(t).taskMetrics()
            if metrics.isDefined():
                run_ms.append(metrics.get().executorRunTime())
        median = statistics.median(run_ms) if run_ms else 0
        totals.task_skew = max(run_ms) / median if median > 0 else 1.0
    return totals
