"""Spark status-store reader: what one job group cost, from Spark's own
bookkeeping.

``span(spark, name)`` runs a block under its own job group and times it; on
exit it drains the listener bus (the status store is filled asynchronously)
and reads every job the group started from the driver's ``AppStatusStore``:
jobs, tasks, shuffle bytes written, bytes spilled, and task skew. Nothing
here needs the UI, an event log or an extra package; all reads go through
plain py4j.
"""

from __future__ import annotations

import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

MB = float(1 << 20)
#: cap on tasks read per stage; every stage here has far fewer
MAX_TASKS = 100_000


@dataclass
class GroupStats:
    seconds: float = 0.0
    jobs: int = 0
    tasks: int = 0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    #: max/median task run time of the stage with the most task time
    #: (1.0 when no stage ran more than one task)
    task_skew: float = 1.0


def drain_listener_bus(spark, timeout_ms: int = 10_000) -> None:
    """Block until every queued scheduler event has reached the status
    store, so a read right after an action sees all of its tasks."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def _option(opt):
    return opt.get() if opt.isDefined() else None


def group_stats(spark, group: str) -> GroupStats:
    """Jobs, tasks, shuffle-write MB, spill MB and task skew of every job
    started under ``group``."""
    sc = spark.sparkContext
    drain_listener_bus(spark)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = GroupStats()
    job_ids = tracker.getJobIdsForGroup(group)
    out.jobs = len(job_ids)
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    dominant = (0, 1.0)  # (summed task ms, skew) of the heaviest stage
    for sid in sorted(stage_ids):
        sinfo = tracker.getStageInfo(sid)
        if sinfo is None:
            continue
        tasks = store.taskList(sid, sinfo.currentAttemptId, MAX_TASKS)
        run_ms = []
        for i in range(tasks.size()):
            metrics = _option(tasks.apply(i).taskMetrics())
            if metrics is None:
                continue
            run_ms.append(metrics.executorRunTime())
            out.shuffle_write_mb += metrics.shuffleWriteMetrics().bytesWritten() / MB
            out.spill_mb += (metrics.memoryBytesSpilled() + metrics.diskBytesSpilled()) / MB
        if not run_ms:
            continue  # skipped stage: its shuffle output was reused
        out.tasks += len(run_ms)
        total = sum(run_ms)
        if len(run_ms) > 1 and total > dominant[0]:
            med = statistics.median(run_ms)
            dominant = (total, max(run_ms) / med if med > 0 else 1.0)
    out.task_skew = dominant[1]
    return out


@contextmanager
def span(spark, name: str, sink: dict):
    """Run the block under a fresh job group; store its ``GroupStats`` in
    ``sink[name]``."""
    sc = spark.sparkContext
    group = f"perfbench:{name}:{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    try:
        yield
    finally:
        seconds = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sink[name] = group_stats(spark, group)
    sink[name].seconds = seconds


def storage_held_mb(spark) -> float:
    """Memory plus disk held by every persisted RDD / DataFrame right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def persisted_count(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())
