"""Spark-SQL string surface: a ``spark.sql`` twin for the flagship
relational keys.

Every contract key is a DataFrame builder (``__spark_entry__.queries()``);
this module honors the other half of the Spark SQL lifecycle (SURVEY §3) —
a user who lives in SQL strings registers the dataset's tables once
(``sources.tables.register_views``) and runs the same queries through
``spark.sql``. Twins are HASH-EQUAL to their DataFrame forms by
construction (same engine, same plan family once Catalyst normalizes
both); the equality is pinned per-key in ``tests/test_sql_surface.py``.

Dialect notes vs the DuckDB oracle strings: ``date_format`` replaces
``strftime``; join-strategy hints ride SQL comments (``/*+ BROADCAST */``)
— the hint surface the DataFrame form expresses via ``F.broadcast``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from reactor_window_like_flink_spark.sources.tables import register_views

# Spark-dialect twins of the flagship relational keys. Aliases match the
# DataFrame forms exactly (the driver-compare discipline).
SQL_TWINS: dict[str, str] = {
    "q_agg_group": """
        SELECT l_returnflag, l_linestatus,
               (ROUND((SUM(l_quantity)) * 100, 0) / 100.0) AS sum_qty,
               (ROUND(CAST(SUM(CAST(ROUND((l_extendedprice) * 100, 0) AS BIGINT))
                           AS DOUBLE), 0) / 100.0) AS sum_base_price,
               (CAST(((SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) - (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) % 100) div 100 AS DOUBLE) / 100.0) AS sum_disc_price,
               (CAST(((SUM(CAST(ROUND((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000, 0) AS BIGINT)) < 0 THEN -5000 ELSE 5000 END) - (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000, 0) AS BIGINT)) < 0 THEN -5000 ELSE 5000 END) % 10000) div 10000 AS DOUBLE) / 100.0) AS sum_charge,
               (ROUND((AVG(l_quantity)) * 10000, 0) / 10000.0) AS avg_qty,
               (ROUND((CAST(SUM(CAST(ROUND((l_extendedprice) * 100, 0) AS BIGINT))
                            AS DOUBLE) / COUNT(*) / 100.0) * 10000, 0) / 10000.0)
                 AS avg_price,
               (ROUND((CAST(SUM(CAST(ROUND((l_discount) * 100, 0) AS BIGINT))
                            AS DOUBLE) / COUNT(*) / 100.0) * 10000, 0) / 10000.0)
                 AS avg_disc,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q_join_inner": """
        SELECT o_orderkey, c_name, o_totalprice, c_mktsegment
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "q_join_broadcast": """
        SELECT /*+ BROADCAST(part) */ p_brand,
               (CAST(((SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) - (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) % 100) div 100 AS DOUBLE) / 100.0) AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
    "q_window_rank": """
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER w AS INT) AS rn,
               CAST(rank() OVER w AS INT) AS rnk,
               CAST(dense_rank() OVER w AS INT) AS drnk
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey)
    """,
    "q_window_running": """
        SELECT o_custkey, o_orderkey,
               (ROUND((SUM(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100, 0) / 100.0)
                 AS running_spend
        FROM orders
    """,
    "q_rollup": """
        SELECT l_returnflag, l_linestatus,
               (ROUND(CAST(SUM(CAST(ROUND((l_extendedprice) * 100, 0) AS BIGINT))
                           AS DOUBLE), 0) / 100.0) AS sum_price
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "q_cube": """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "q_topk_per_group": """
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey)
                   AS rn
          FROM orders
        ) WHERE rn <= 3
    """,
    "q_sort_limit": """
        SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100
    """,
    "q_tpch_q3_shape": """
        SELECT l_orderkey,
               (CAST(((SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) - (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) % 100) div 100 AS DOUBLE) / 100.0) AS revenue,
               date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
               o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1996-03-15'
          AND l_shipdate > TIMESTAMP '1996-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, orderdate, l_orderkey LIMIT 10
    """,
}


def sql_twin(spark: SparkSession, sf_dir: str, key: str) -> DataFrame:
    """Run the SQL-string form of ``key`` (views registered on the way)."""
    register_views(spark, sf_dir)
    return spark.sql(SQL_TWINS[key])
