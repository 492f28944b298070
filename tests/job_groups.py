"""Count the Spark jobs a block of driver code starts.

    with job_group(spark, "normalize") as jobs:
        normalize_transactions(wh)
    print(len(jobs))

Used by the job-count tests and by ``scripts/drive_pipeline.py``.
"""

from __future__ import annotations

import contextlib
import uuid

from pyspark.sql import SparkSession

# the local properties ``SparkContext.setJobGroup`` sets
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
               "spark.job.interruptOnCancel")


@contextlib.contextmanager
def job_group(spark: SparkSession, name: str):
    """Put the Spark jobs the block starts into a fresh job group named
    after ``name``; yields a list that holds their ids once the block
    exits.  The calling thread's previous group is restored."""
    sc = spark.sparkContext
    prev = [sc.getLocalProperty(k) for k in _GROUP_KEYS]
    group = f"{name}-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, name)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        for k, v in zip(_GROUP_KEYS, prev):
            sc.setLocalProperty(k, v)
        # the status tracker is fed by the listener bus: drain it so
        # every job the block started is visible
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))
