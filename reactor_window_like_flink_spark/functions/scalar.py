"""Scalar-function surface: string / datetime / math / conditional-cast /
array / map-JSON expressions, plus the Python-extension surface (pandas
UDF).

The reference appeals to the full Reactor operator vocabulary for
per-element transforms (``/root/reference/README.md:83,92``); here that
surface is Spark SQL's built-in expression library — JVM-side, codegen'd,
vectorized — with Python UDFs reserved for genuinely non-expressible logic
(SURVEY.md §3 design rule: keep per-row Python out of hot paths).

Determinism notes per contract.py: per-row arithmetic is bitwise-identical
across engines; only transcendentals (ln/pow) are rounded because libm
implementations differ.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from reactor_window_like_flink_spark.contract import Registry, round_to
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()


@REG.add(
    "q_scalar_string",
    """
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           substr(p_name, 1, 5) AS name_pfx,
           CAST(length(p_name) AS BIGINT) AS name_len,
           regexp_replace(p_name, ' ', '_', 'g') AS name_us,
           string_split(p_name, ' ')[1] AS first_tok,
           concat(p_brand, '|', p_type) AS brand_type,
           trim('  ' || p_name || '  ') AS name_trim,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word
    FROM part
    """,
)
def q_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String expression battery. Note DuckDB regexp_replace needs the 'g'
    flag to match Spark's replace-all semantics."""
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_pfx"),
        F.length("p_name").cast("long").alias("name_len"),
        F.regexp_replace("p_name", " ", "_").alias("name_us"),
        F.split("p_name", " ").getItem(0).alias("first_tok"),
        F.concat(F.col("p_brand"), F.lit("|"), F.col("p_type")).alias("brand_type"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias(
            "name_trim"
        ),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
    )


@REG.add(
    "q_scalar_date",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(month(o_orderdate) AS BIGINT) AS o_month,
           CAST(day(o_orderdate) AS BIGINT) AS o_day,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           datediff('day', TIMESTAMP '1995-06-17', o_orderdate) AS days_since,
           strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_date
    FROM orders
    """,
)
def q_scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime expression battery; computed dates emitted as formatted
    strings (contract.py rule — computed timestamps don't hash stably)."""
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.datediff(F.col("o_orderdate"), F.lit("1995-06-17").cast("date"))
        .cast("long")
        .alias("days_since"),
        F.date_format(
            F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd"
        ).alias("due_date"),
    )


@REG.add(
    "q_scalar_math",
    """
    SELECT l_orderkey, l_linenumber,
           (ROUND((l_extendedprice) * 10, 0) / 10.0) AS price_r,
           abs(l_extendedprice - 50000) AS dev,
           CAST(ceil(l_quantity) AS BIGINT) AS ceil_qty,
           CAST(floor(l_quantity) AS BIGINT) AS floor_qty,
           (ROUND((ln(l_extendedprice)) * 1000000, 0) / 1000000.0) AS ln_price,
           (ROUND((pow(l_discount, 2)) * 1000000000, 0) / 1000000000.0) AS disc_sq,
           l_orderkey % 7 AS mod7
    FROM lineitem
    """,
)
def q_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math expression battery; ln/pow rounded (libm differs across
    engines), the rest are exact IEEE per-row ops."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        round_to("l_extendedprice", 1).alias("price_r"),
        F.abs(F.col("l_extendedprice") - 50000).alias("dev"),
        F.ceil("l_quantity").alias("ceil_qty"),
        F.floor("l_quantity").alias("floor_qty"),
        round_to(F.log("l_extendedprice"), 6).alias("ln_price"),
        round_to(F.pow("l_discount", F.lit(2)), 9).alias("disc_sq"),
        (F.col("l_orderkey") % 7).alias("mod7"),
    )


@REG.add(
    "q_scalar_case_cast",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS bucket,
           CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS is_open
    FROM orders
    """,
)
def q_scalar_case_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN buckets + casts. double→int casts go through floor()
    explicitly: Spark truncates on CAST while DuckDB rounds, so a bare cast
    is an engine-dependent trap."""
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
        .alias("bucket"),
        F.floor("o_totalprice").alias("price_floor"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.when(F.col("o_orderstatus") == "O", 1).otherwise(0).alias("is_open"),
    )


@REG.add(
    "q_array_ops",
    """
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           embedding[1] AS first_val,
           list_max(embedding) AS max_val,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
           (ROUND((list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))) * 10000, 0) / 10000.0)
             AS l1_sum
    FROM embeddings
    """,
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array expression battery over array<float>: size, element access,
    max, lambda filter, lambda fold — all JVM-side higher-order functions,
    no Python in the loop (the 100 TB-safe shape for vector columns)."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.element_at("embedding", 1).alias("first_val"),
        F.array_max("embedding").alias("max_val"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_pos"),
        round_to(F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ), 4).alias("l1_sum"),
    )


@REG.add(
    "q_map_json",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
                THEN 'high' ELSE 'low' END AS k_band
    FROM events
    """,
)
def q_map_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON parse into a typed MapType + map access — the semi-structured
    column path (events.props)."""
    events = load(spark, sf_dir, "events")
    props_map = F.from_json("props", "map<string,bigint>")
    k_val = props_map.getItem("k")
    return events.select(
        "event_id",
        "event_type",
        k_val.alias("k_val"),
        F.when(k_val >= 50, "high").otherwise("low").alias("k_band"),
    )


@REG.add(
    "q_udf_python",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS disc_price,
           CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'unit' END AS qty_class
    FROM lineitem
    """,
)
def q_udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python-extension surface: an Arrow-vectorized pandas UDF (scalar
    kind). Row-at-a-time F.udf is deliberately absent — pandas UDFs move
    columnar batches over Arrow, ~10-100x less overhead. The oracle is the
    equivalent SQL expression, proving the UDF computes what it claims."""

    @pandas_udf("double")
    def disc_price(price: pd.Series, disc: pd.Series) -> pd.Series:
        return price * (1.0 - disc)

    @pandas_udf("string")
    def qty_class(qty: pd.Series) -> pd.Series:
        # np.where keeps the batch vectorized end-to-end; a per-element
        # Python comprehension would forfeit the Arrow batching win.
        return pd.Series(np.where(qty >= 25, "bulk", "unit"))

    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        disc_price("l_extendedprice", "l_discount").alias("disc_price"),
        qty_class("l_quantity").alias("qty_class"),
    )
