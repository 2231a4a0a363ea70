"""``functions/materialize.py::collect_bounded``: the one bounded driver
collect — both sides of the bound, one Spark job whatever the frame's
partition layout, and the per-call conf restored on every exit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.functions.materialize import (
    collect_bounded,
    materialize,
)
from reactor_window_like_flink_spark.observe import counting

CONF = "spark.sql.limit.initialNumPartitions"


def test_collect_bounded_at_and_over_the_bound(spark):
    df = spark.range(0, 12, 1, 4)
    rows = collect_bounded(df, 12)
    assert sorted(r["id"] for r in rows) == list(range(12))
    assert collect_bounded(df, 11) is None
    assert collect_bounded(df.filter(F.col("id") < 0), 5) == []


def test_collect_bounded_is_one_job_when_first_partition_is_empty(spark):
    """Spark's ``executeTake`` scans one partition first; an empty
    partition 0 makes a bare ``limit(n).collect()`` scale up in further
    jobs. ``collect_bounded`` scans all four partitions in its first."""
    df = materialize(spark.range(0, 40, 1, 4).filter(F.col("id") >= 10))
    sizes = df.rdd.glom().map(len).collect()
    assert len(sizes) == 4 and sizes[0] == 0, sizes

    with counting(spark) as bounded:
        rows = collect_bounded(df, 30)
    assert sorted(r["id"] for r in rows) == list(range(10, 40))
    assert bounded["jobs"] == 1
    with counting(spark) as bare:
        df.limit(31).collect()
    assert bare["jobs"] > 1  # the fixture does exercise the scale-up


def test_collect_bounded_restores_session_conf(spark):
    assert spark.conf.get(CONF, None) is None
    collect_bounded(spark.range(3), 3)
    assert spark.conf.get(CONF, None) is None

    failing = spark.range(3).select(F.raise_error(F.lit("boom")))
    with pytest.raises(Exception, match="boom"):
        collect_bounded(failing, 3)
    assert spark.conf.get(CONF, None) is None

    spark.conf.set(CONF, "3")
    try:
        collect_bounded(spark.range(3), 3)
        assert spark.conf.get(CONF) == "3"
        with pytest.raises(Exception, match="boom"):
            collect_bounded(failing, 3)
        assert spark.conf.get(CONF) == "3"
    finally:
        spark.conf.unset(CONF)
