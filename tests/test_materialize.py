"""``functions/materialize.py``: ``collect_bounded``, the one bounded
driver collect — both sides of the bound, one Spark job whatever the
frame's partition layout, and the per-call conf restored on every exit —
``aggregate_row``, the one-job driver read, and the partitioning a
``materialize``d frame reports."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.functions.materialize import (
    aggregate_row,
    collect_bounded,
    materialize,
)
from reactor_window_like_flink_spark.observe import counting
from reactor_window_like_flink_spark.plans import node_counts

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


def test_materialize_keeps_no_partitioning(spark):
    """A checkpoint reports ``UnknownPartitioning``: a groupBy on the very
    key the frame was hash-partitioned by still exchanges, so a
    repartition before ``materialize`` is a shuffle nothing reads. If a
    later Spark keeps the layout, this fails and co-partitioned rounds
    become worth building."""
    df = spark.range(100).select((F.col("id") % 7).alias("k"))
    agg = materialize(df.repartition(4, "k")).groupBy("k").count()
    assert node_counts(agg)["Exchange"] == 1
    assert sorted(r["count"] for r in agg.collect()) == [14] * 5 + [15] * 2


ADAPTIVE = "spark.sql.adaptive.enabled"


def test_aggregate_row_is_one_job_where_first_takes_two(spark):
    df = materialize(spark.range(0, 40, 1, 4))
    exprs = (F.count("*").alias("n"), F.sum("id").alias("s"))
    with counting(spark) as one:
        row = aggregate_row(df, *exprs)
    assert (row["n"], row["s"]) == (40, sum(range(40)))
    assert one["jobs"] == 1
    with counting(spark) as first:
        assert df.agg(*exprs).first() == row
    assert first["jobs"] == 2  # AQE submits the partial stage on its own


def test_aggregate_row_restores_session_conf(spark):
    failing = spark.range(3).select(F.raise_error(F.lit("boom")).alias("x"))
    preset = spark.conf.get(ADAPTIVE, None)
    assert preset == "true"
    try:
        spark.conf.unset(ADAPTIVE)
        assert aggregate_row(spark.range(3), F.count("*"))[0] == 3
        assert spark.conf.get(ADAPTIVE, None) is None
        with pytest.raises(Exception, match="boom"):
            aggregate_row(failing, F.count("x"))
        assert spark.conf.get(ADAPTIVE, None) is None
    finally:
        spark.conf.set(ADAPTIVE, preset)
    with pytest.raises(Exception, match="boom"):
        aggregate_row(failing, F.count("x"))
    assert spark.conf.get(ADAPTIVE) == "true"


def test_aggregate_row_raises_on_a_frame_that_shuffles(spark):
    grouped = spark.range(10).groupBy((F.col("id") % 2).alias("k")).count()
    with pytest.raises(ValueError, match="shuffle"):
        aggregate_row(grouped, F.count("*"))
    assert aggregate_row(materialize(grouped), F.count("*"))[0] == 2
