"""Count the Spark jobs a block of test code runs."""

from __future__ import annotations

import contextlib


@contextlib.contextmanager
def spark_jobs(spark):
    """Yield a list that holds, once the block exits, the ids of the Spark
    jobs submitted inside it — on any thread, so a streaming query's
    triggers count too.  The listener bus is drained on exit, so the
    status tracker already knows every listed job and its stages."""
    sc = spark.sparkContext._jsc.sc()
    first = sc.dagScheduler().numTotalJobs()
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.listenerBus().waitUntilEmpty()
        ids.extend(range(first, sc.dagScheduler().numTotalJobs()))


def ran_stages(spark, jobs):
    """StageInfo of every stage of ``jobs`` that ran at least one task
    (skipped stages, whose output was reused, are left out)."""
    tracker = spark.sparkContext.statusTracker()
    stages = []
    for j in jobs:
        for s in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                stages.append(info)
    return stages
