"""Spark jobs started by one call, for tests that pin a job count."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import SparkSession

from reactor_window_like_flink_spark.observe import counting


def count_jobs(spark: SparkSession, call: Callable[[], object]) -> int:
    """The number of Spark jobs ``call()`` starts."""
    with counting(spark) as c:
        call()
    return c["jobs"]
