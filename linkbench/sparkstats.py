"""Per-job-group counters read from Spark's own status store.

Every measured section runs under its own job group; afterwards the jobs
of that group are looked up through ``SparkContext.statusTracker()`` and
their stages through the application status store, so no program code
needs an observer.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class GroupStats:
    jobs: int
    shuffle_mb: float
    busy_core_s: float


def begin(sc, group: str) -> None:
    """Attribute every job started from this thread to ``group``."""
    sc.setJobGroup(group, group)


def collect(sc, group: str) -> GroupStats:
    """Jobs, shuffle-write MB and executor run time of one job group.

    Waits for the listener bus first, so stage metrics of jobs that have
    just ended are in the store. Stages shared by several jobs of the
    group count once; skipped stages carry no metrics.
    """
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = jsc.statusStore()
    shuffle_bytes = 0
    run_ms = 0
    for s in stage_ids:
        data = store.lastStageAttempt(s)
        shuffle_bytes += data.shuffleWriteBytes()
        run_ms += data.executorRunTime()
    return GroupStats(len(job_ids), shuffle_bytes / 1e6, run_ms / 1e3)


def jvm_peak_mb(sc) -> float:
    """Sum of the peak usage of every JVM memory pool, in MB."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    return sum(
        pool.getPeakUsage().getUsed() for pool in mf.getMemoryPoolMXBeans()
    ) / 1e6
