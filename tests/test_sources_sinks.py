"""The memory-table sink (bounded driver collect) and the SQL view
surface. Partitioned parquet pruning is tested with
``sources/layout.py::partitioned_write`` in ``tests/test_layout.py``."""

from __future__ import annotations

from pyspark.sql import functions as F

from reactor_window_like_flink_spark.sources.sinks import to_memory_table
from reactor_window_like_flink_spark.sources.tables import load


def test_memory_table(spark, sf_dir):
    top = load(spark, sf_dir, "orders").orderBy(F.desc("o_totalprice")).limit(5)
    out = to_memory_table(spark, top, "t_top_orders")
    assert out.count() == 5
    assert spark.sql("SELECT count(*) FROM t_top_orders").first()[0] == 5


def test_register_views_enables_spark_sql_surface(spark, sf_dir):
    """The SQL-first entry point: after register_views, users can run
    plain spark.sql text against every fixture table."""
    from reactor_window_like_flink_spark.sources.tables import (
        TABLES,
        register_views,
    )

    register_views(spark, sf_dir)
    for t in TABLES:
        assert spark.sql(f"SELECT count(*) AS n FROM {t}").collect()[0]["n"] > 0
    out = spark.sql(
        """
        SELECT r.r_name, COUNT(*) AS n
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    ).collect()
    assert sum(r["n"] for r in out) == spark.table("customer").count()


def test_memory_table_cap_raises_instead_of_collecting(spark, sf_dir):
    import pytest

    from reactor_window_like_flink_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem")
    with pytest.raises(ValueError, match="max_rows"):
        to_memory_table(spark, li, "t_too_big", max_rows=100)
    # under the cap: works as before
    out = to_memory_table(spark, li.limit(5), "t_small", max_rows=100)
    assert out.count() == 5
