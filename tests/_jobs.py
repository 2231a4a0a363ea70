"""Spark job counting for tests: how many jobs one call starts."""

from __future__ import annotations

import uuid


def count_jobs(spark, fn):
    """(Spark jobs ``fn()`` starts, its result), counted by job group."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out
