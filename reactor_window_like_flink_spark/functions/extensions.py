"""Python-extension surface beyond the scalar pandas UDF: grouped-agg
pandas UDF (UDAF), grouped-map ``applyInPandas``, and a Spark 4 Python
UDTF — the full user-extension vocabulary SURVEY.md §2 Part B pins for
key 51's family.

Each stays on the Arrow path (columnar batches across the JVM↔Python
boundary); the oracle proves each extension computes exactly what its SQL
contract claims, so "custom code" never means "unverifiable code".
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf

from reactor_window_like_flink_spark.contract import Registry, round_to
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()


@REG.add(
    "q_udaf_pandas",
    """
    SELECT l_returnflag,
           (ROUND((CAST(SUM(CAST(ROUND((l_extendedprice * l_quantity) * 100, 0)
                                 AS BIGINT)) AS DOUBLE)
                   / (SUM(l_quantity) * 100.0)) * 10000, 0) / 10000.0)
             AS wavg_price,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined aggregate as a grouped-agg pandas UDF: quantity-weighted
    mean price per return flag. Arrow ships each group's columns as numpy
    arrays; the reduction is vectorized C, not a Python loop. At scale this
    is still a full shuffle of the group columns (grouped-agg UDFs have no
    partial-aggregation path) — prefer built-in expressions when they can
    express the reduction; this key exists to pin the UDAF surface."""

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        # exact integer-cent numerator (r15 drift hardening): price*qty
        # is 2-decimal exact (2dp price x integral qty), so the scaled
        # products are exact integers — np.rint's half-even tie rule
        # never fires — and the int64 sum is order-free; one final IEEE
        # divide matches the oracle's division bit-for-bit
        import numpy as np

        num = np.rint((price.to_numpy() * qty.to_numpy()) * 100).astype("int64").sum()
        return float(num / (qty.to_numpy().sum() * 100.0))

    @pandas_udf("long")
    def n_rows(price: pd.Series) -> int:
        # Spark disallows mixing grouped-agg pandas UDFs with built-in
        # aggregates in one agg(), so the count is a pandas UDF too.
        return len(price)

    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        round_to(wavg("l_extendedprice", "l_quantity"), 4).alias("wavg_price"),
        n_rows("l_extendedprice").alias("n"),
    )


@REG.add(
    "q_grouped_map",
    """
    SELECT event_id, event_type,
           (ROUND((value - AVG(value) OVER (PARTITION BY event_type)) * 10000, 0) / 10000.0)
             AS value_centered
    FROM events
    """,
)
def q_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas``: center each event's value on its
    group mean — the transform shape (full group in, full group out) that
    windowed built-ins can't always express (e.g. iterative per-group
    model fitting). One shuffle on the group key; each group must fit one
    task's memory, so at 100 TB key cardinality × group size needs
    checking first."""

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf[["event_id", "event_type"]].copy()
        out["value_centered"] = (pdf["value"] - pdf["value"].mean()).round(4)
        return out

    events = load(spark, sf_dir, "events")
    return events.groupBy("event_type").applyInPandas(
        center, "event_id bigint, event_type string, value_centered double"
    )


@REG.add(
    "q_udtf_python",
    """
    SELECT o_orderkey, 'net' AS part, (ROUND((o_totalprice * 0.9) * 10000, 0) / 10000.0) AS amount
    FROM orders WHERE o_totalprice > 400000
    UNION ALL
    SELECT o_orderkey, 'fee' AS part, (ROUND((o_totalprice * 0.1) * 10000, 0) / 10000.0) AS amount
    FROM orders WHERE o_totalprice > 400000
    """,
)
def q_udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): one input row → N output rows, here
    splitting each large order into net/fee components. The UDTF runs
    partition-parallel over Arrow batches; the lateral-join shape is the
    supported path for custom row-expanding logic (the generator analog of
    ``explode`` for computed expansions)."""

    @udtf(returnType="o_orderkey bigint, part string, amount double")
    class SplitAmount:
        def eval(self, o_orderkey: int, o_totalprice: float):
            yield o_orderkey, "net", round(o_totalprice * 0.9, 4)
            yield o_orderkey, "fee", round(o_totalprice * 0.1, 4)

    spark.udtf.register("split_amount", SplitAmount)
    big = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey", "o_totalprice")
    )
    big.createOrReplaceTempView("udtf_big_orders")
    return spark.sql(
        "SELECT s.* FROM udtf_big_orders,"
        " LATERAL split_amount(o_orderkey, o_totalprice) s"
    )
