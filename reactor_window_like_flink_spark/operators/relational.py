"""Relational operator inventory: scans, projection/filter, all join
variants, aggregation (incl. multi-level), analytic windows, sort/limit,
set ops.

This is the "rich operators" surface the reference's README claims via the
Reactor vocabulary (``/root/reference/README.md:83,92``) and the keyed
aggregation it documents as ``groupBy``/``collectMap``
(``/root/reference/README.md:54``), realized as Spark SQL relational
algebra. Everything here is pure DataFrame API — Catalyst does predicate
pushdown / column pruning / join selection; no custom rules (SURVEY.md §4.2).

Scale notes (100 TB posture) are inline per operator.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.contract import (
    Registry,
    join_small,
    order_small,
    round_to,
)
from reactor_window_like_flink_spark.functions.materialize import materialize
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()


def exact_units(expr: F.Column, scale: int) -> F.Column:
    """Quantize an exact-decimal-valued double expression to DECIMAL(18,0)
    units of 10^-scale — the q11 integer-cents pattern generalized
    (r15: the sf1 differential caught q5/q9 revenue one cent off from
    parallel-summation drift crossing a cent boundary; rounding the
    FINAL sum cannot fix order-dependent drift, only exact integer
    summation can). The fixture's monetary columns are 2-decimal exact,
    quantities integer, so price*(1-disc) is exact at 4 decimals and
    price*(1-disc)*(1+tax) at 6: the per-row double product is
    bit-identical in both engines, and the scaled 0-decimal round maps
    it to the EXACT integer in both, so the integer sum is exact under
    ANY partitioning/order.

    Lane widths (r16 — retires the r15 int64-headroom risk): per-row
    units are tiny (a 1e5-dollar line at 6 decimals is 1e11 units, 1e7
    under DECIMAL(18,0)'s ceiling; Spark stores p<=18 decimals in a
    long, so the scan-side cost of the widening is nil). Spark's SUM
    over DECIMAL(18,0) accumulates in DECIMAL(28,0) (p+10), and a
    re-agg of partials reaches DECIMAL(38,0) — exact to 1e38, so a
    1e12-row 100 TB sum (~1e23 units at 6 decimals) can never overflow,
    where the old BIGINT sum would wrap silently past 2^63 in Spark's
    non-ANSI mode (pinned by
    tests/test_relational_cdc.py::test_exact_units_survives_int64_overflow)."""
    return F.round(expr * (10**scale), 0).cast("decimal(18,0)")


def units_to_currency(sum_units: F.Column, scale: int) -> F.Column:
    """Exact DECIMAL 10^-scale unit sum -> dollars at 2 decimals.

    The half-away-from-zero reduction to integer cents happens in EXACT
    decimal-integer space (add signed half, truncate toward zero via
    ``x - x % d``, divide the now-exact multiple — Spark's decimal
    divide is exact when the true quotient fits the result scale), so
    no double arithmetic touches the sum while it is large. The single
    int->double conversion happens on CENTS, after rounding: exact
    below 2^53 cents (9e16 dollars — above any 100 TB group), and
    deterministic round-to-nearest — hence still cross-engine
    bit-identical — beyond it. Below 2^53 this is provably
    value-identical to the r15 double formulation the DuckDB oracles
    mirror: IEEE division of an exact integer by 10^k only decides a
    half-cent boundary when the true quotient ends in .5 exactly, and
    X.5 is itself an exact double there, so both forms round the same
    way on every input (sweep-verified at sf0.001/0.1/1)."""
    k = scale - 2
    if k == 0:
        cents = sum_units
    else:
        d = 10**k
        half = F.when(sum_units < 0, F.lit(-(d // 2))).otherwise(F.lit(d // 2))
        adj = sum_units + half
        cents = ((adj - (adj % F.lit(d))) / F.lit(d)).cast("decimal(38,0)")
    return cents.cast("double") / 100.0


# ---------------------------------------------------------------- scans

@REG.add(
    "q_scan_parquet",
    "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan + count. At 100 TB this is a metadata-only count for
    parquet (row-group stats); Spark never materializes rows."""
    return load(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


@REG.add(
    "q_scan_pruned",
    """
    SELECT l_orderkey, l_extendedprice FROM lineitem
    WHERE l_orderkey % 100 = 0
    """,
)
def q_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned + filtered scan: ReadSchema in the physical plan must
    show only 2 of 11 columns; the modulo predicate stays post-scan but the
    projection reaches the parquet reader."""
    li = load(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_extendedprice").filter(
        F.col("l_orderkey") % 100 == 0
    )


# --------------------------------------------------- projection / filter

@REG.add(
    "q_project_expr",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem
    """,
)
def q_project_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic projection. Per-row IEEE ops evaluate identically in any
    engine — no rounding needed (contract.py determinism rules)."""
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rev.alias("revenue"),
        (rev * (1 + F.col("l_tax"))).alias("charge"),
    )


@REG.add(
    "q_filter_pred",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
      AND l_returnflag IN ('A', 'N')
      AND l_linestatus LIKE 'F%'
      AND l_partkey IS NOT NULL
    """,
)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates: range, BETWEEN, IN, LIKE, IS NOT NULL.
    All pushdown-eligible (TPC-H Q6 shape); at scale the shipdate range
    prunes row groups via parquet min/max stats."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
        & F.col("l_returnflag").isin("A", "N")
        & F.col("l_linestatus").like("F%")
        & F.col("l_partkey").isNotNull()
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


# ------------------------------------------------------------------ joins

@REG.add(
    "q_join_inner",
    """
    SELECT o_orderkey, c_name, o_totalprice, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join. customer is small relative to orders at every SF, so
    AQE converts this to a broadcast hash join at runtime; at 100 TB with a
    huge customer table it degrades gracefully to sort-merge on the shuffled
    key."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return orders.join(
        customer, orders.o_custkey == customer.c_custkey, "inner"
    ).select("o_orderkey", "c_name", "o_totalprice", "c_mktsegment")


@REG.add(
    "q_join_broadcast",
    """
    SELECT p_brand,
           (CAST(((SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) - (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) % 100) // 100 AS DOUBLE) / 100.0) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the small dim (part). At 100 TB the fact side
    never shuffles for the join — only the final groupBy(p_brand) shuffles,
    over ~|brands| pre-aggregated rows (map-side partial agg)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            units_to_currency(F.sum(exact_units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@REG.add(
    "q_join_multi",
    """
    SELECT n_name,
           (CAST(((SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) - (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) % 100) // 100 AS DOUBLE) / 100.0) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
      AND o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n_name
    """,
)
def q_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-table chain. nation⋈region runs in one task
    (``join_small``) and broadcasts once; lineitem⋈orders is the only
    big-big join — Catalyst/AQE reorders and picks the strategy. The
    orderdate filter pushes to the orders scan. 5 jobs at sf0.001, sf0.01
    and sf0.1: each dim broadcast apart would be one job more."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    nations = join_small(
        nation, region, F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nations), customer.c_nationkey == nations.n_nationkey)
        .groupBy("n_name")
        .agg(
            units_to_currency(F.sum(exact_units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)), 4).alias("revenue")
        )
    )


@REG.add(
    "q_join_left",
    """
    SELECT c_custkey,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           (ROUND(CAST(SUM(CAST(ROUND((COALESCE(o_totalprice, 0)) * 100, 0)
                                AS BIGINT)) AS DOUBLE), 0) / 100.0) AS spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            units_to_currency(
                F.sum(
                    exact_units(F.coalesce(F.col("o_totalprice"), F.lit(0.0)), 2)
                ),
                2,
            ).alias("spend"),
        )
    )


@REG.add(
    "q_join_full",
    """
    SELECT c_custkey, c_acctbal, o_orderkey, o_totalprice
    FROM customer FULL JOIN orders ON c_custkey = o_custkey
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: null-padded on both unmatched sides."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "full"
    ).select("c_custkey", "c_acctbal", "o_orderkey", "o_totalprice")


@REG.add(
    "q_join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left-semi join — emits each qualifying customer once, never
    duplicates, and the probe side short-circuits on first match."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@REG.add(
    "q_join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left-anti join: customers with no large order (the
    unfiltered variant is empty on this data — every customer has orders)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@REG.add(
    "q_join_theta",
    """
    SELECT a.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    GROUP BY a.user_id
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (range) join: event pairs per user within a 5-minute window.
    The equi key (user_id) keeps this a hash join with a residual range
    predicate — NEVER a cartesian product; at 100 TB the per-user band
    bounds the blow-up to in-partition pairs."""
    events = load(spark, sf_dir, "events")
    a = events.alias("a")
    b = events.alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"))
    )
    return (
        a.join(b, cond)
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"))
    )


@REG.add(
    "q_join_asof",
    """
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS purchase_ts,
           CAST(floor(epoch(last_click_ts)) AS BIGINT) AS click_ts
    FROM (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_click_ts
      FROM events WHERE event_type IN ('click', 'purchase')
    ) WHERE event_type = 'purchase'
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click by the same user
    at-or-before it. Spark has no native ASOF JOIN; the scalable composition
    is a single sort within user partitions + last_value(ignore nulls) over
    the unioned event stream — O(n log n), one shuffle, no range join blow-up
    (SURVEY.md §4.2 item 2)."""
    events = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        events.withColumn(
            "last_click_ts", F.last(click_ts, ignorenulls=True).over(w)
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp("ts").alias("purchase_ts"),
            F.unix_timestamp("last_click_ts").alias("click_ts"),
        )
    )


# ------------------------------------------------------------ aggregation

@REG.add(
    "q_agg_global",
    """
    SELECT (ROUND((SUM(l_quantity)) * 100, 0) / 100.0) AS sum_qty,
           (ROUND(CAST(SUM(CAST(ROUND((l_extendedprice) * 100, 0) AS BIGINT))
                       AS DOUBLE), 0) / 100.0) AS sum_price,
           (ROUND((CAST(SUM(CAST(ROUND((l_discount) * 100, 0) AS BIGINT))
                        AS DOUBLE) / COUNT(*) / 100.0) * 1000000, 0) / 1000000.0)
             AS avg_disc,
           MIN(l_quantity) AS min_qty,
           MAX(l_extendedprice) AS max_price,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    """,
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregate — partial aggregation on every input partition,
    single-row final combine; no data-proportional shuffle."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        round_to(F.sum("l_quantity"), 2).alias("sum_qty"),
        units_to_currency(
            F.sum(exact_units(F.col("l_extendedprice"), 2)), 2
        ).alias("sum_price"),
        round_to(F.sum(exact_units(F.col("l_discount"), 2)).cast("double")
                  / F.count("*") / 100.0, 6).alias("avg_disc"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_extendedprice").alias("max_price"),
        F.count("*").alias("n_rows"),
    )


@REG.add(
    "q_agg_group",
    """
    SELECT l_returnflag, l_linestatus,
           (ROUND((SUM(l_quantity)) * 100, 0) / 100.0) AS sum_qty,
           (ROUND(CAST(SUM(CAST(ROUND((l_extendedprice) * 100, 0) AS BIGINT))
                       AS DOUBLE), 0) / 100.0) AS sum_base_price,
           (CAST(((SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) - (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) % 100) // 100 AS DOUBLE) / 100.0) AS sum_disc_price,
           (CAST(((SUM(CAST(ROUND((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000, 0) AS BIGINT)) < 0 THEN -5000 ELSE 5000 END) - (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000, 0) AS BIGINT)) < 0 THEN -5000 ELSE 5000 END) % 10000) // 10000 AS DOUBLE) / 100.0) AS sum_charge,
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
)
def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped multi-aggregate groupBy. Low-cardinality
    keys → map-side partial agg collapses 100 TB of input to |groups| rows
    per partition before the shuffle."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # exact integer-unit sums (r15 summation-drift hardening): prices are
    # 2-decimal exact, disc_price 4-decimal, charge 6-decimal; quantities
    # are integral so their double sums are already exact. Averages
    # derive from the exact unit sums (one division chain, identical op
    # order in both engines). At 100 TB swap long for DECIMAL(38,n).
    price_u2 = exact_units(F.col("l_extendedprice"), 2)
    disc_u2 = exact_units(F.col("l_discount"), 2)
    charge_u6 = exact_units(disc_price * (1 + F.col("l_tax")), 6)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            round_to(F.sum("l_quantity"), 2).alias("sum_qty"),
            units_to_currency(F.sum(price_u2), 2).alias("sum_base_price"),
            units_to_currency(F.sum(exact_units(disc_price, 4)), 4).alias("sum_disc_price"),
            units_to_currency(F.sum(charge_u6), 6).alias("sum_charge"),
            round_to(F.avg("l_quantity"), 4).alias("avg_qty"),
            round_to(F.sum(price_u2).cast("double") / F.count("*") / 100.0, 4).alias("avg_price"),
            round_to(F.sum(disc_u2).cast("double") / F.count("*") / 100.0, 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .transform(order_small, "l_returnflag", "l_linestatus")
    )


@REG.add(
    "q_agg_distinct",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column COUNT(DISTINCT) — Catalyst expands to a two-phase
    aggregate; at scale prefer one distinct column per query or
    approx_count_distinct to avoid the expand blow-up."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@REG.add(
    "q_agg_salted",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           (ROUND(CAST(SUM(CAST(ROUND((value) * 100, 0) AS BIGINT))
                       AS DOUBLE), 0) / 100.0) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def q_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys: phase 1 groups on
    (key, salt) spreading each hot key over 16 reducers, phase 2 merges the
    partials per key. Identical result to the direct groupBy (the oracle
    proves it); the win at 100 TB is that no single reducer ever owns a hot
    key's full row stream. AQE's skew handling covers joins — aggregation
    skew still needs this manual pattern when map-side partial agg can't
    compress (e.g. high-cardinality downstream aggregates)."""
    salt_buckets = 16
    events = load(spark, sf_dir, "events")
    partial = (
        events.withColumn(
            "salt", (F.xxhash64("event_id") % salt_buckets).cast("int")
        )
        .groupBy("event_type", "salt")
        .agg(
            F.count("*").alias("pn"),
            # integer-cent partials (r15): exact under salting AND under
            # the phase-2 merge, so salted == direct is arithmetic
            # identity, not a float coincidence
            F.sum(exact_units(F.col("value"), 2)).alias("psum_u2"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        units_to_currency(F.sum("psum_u2"), 2).alias("sum_value"),
    )


@REG.add("q_agg_approx_distinct")  # rows-only: HLL estimates are not hash-stable
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++). The 100 TB path: mergeable
    sketches, no exact distinct shuffle. Verified rows-only — HLL estimates
    differ across engines by construction."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )


@REG.add(
    "q_agg_quantile",
    """
    SELECT event_type,
           (ROUND((quantile_cont(value, 0.5)) * 10000, 0) / 10000.0) AS p50,
           (ROUND((quantile_cont(value, 0.95)) * 10000, 0) / 10000.0) AS p95
    FROM events GROUP BY event_type
    """,
)
def q_agg_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (oracle-matching). At 100 TB switch to
    percentile_approx (t-digest-style mergeable sketch) — exact percentile
    requires a per-group sort."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        round_to(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        round_to(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
    )


@REG.add(
    "q_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           (ROUND((SUM(l_quantity)) * 100, 0) / 100.0) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — Spark expands to a union-style Expand node; one pass
    over the data produces all grouping levels."""
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               (ROUND((SUM(l_quantity)) * 100, 0) / 100.0) AS sum_qty,
               count(*) AS n
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@REG.add(
    "q_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           (ROUND(CAST(SUM(CAST(ROUND((l_extendedprice) * 100, 0) AS BIGINT))
                       AS DOUBLE), 0) / 100.0) AS sum_price
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        units_to_currency(
            F.sum(exact_units(F.col("l_extendedprice"), 2)), 2
        ).alias("sum_price")
    )


@REG.add(
    "q_cube",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


@REG.add(
    "q_agg_collect",
    """
    SELECT o_custkey,
           array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS order_keys
    FROM orders GROUP BY o_custkey
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group sorted list (collect_list + array_sort), emitted as a CSV
    string so the value-hash is type-stable. Skew note: a hot key collects
    its whole group on one task — cap with slicing at scale."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_list("o_orderkey")), ",").alias(
            "order_keys"
        )
    )


# --------------------------------------------------- analytic windows

@REG.add(
    "q_window_rank",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(row_number() OVER w AS INT) AS rn,
           CAST(rank() OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/row_number. Ordering tie broken by the unique
    o_orderkey so row_number is deterministic."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@REG.add(
    "q_window_running",
    """
    SELECT o_custkey, o_orderkey,
           (ROUND((SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100, 0) / 100.0) AS running_spend
    FROM orders
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        round_to(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@REG.add(
    "q_window_lag_lead",
    """
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT)
             - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) AS gap_s,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap per user via lag(); next event type via lead()."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@REG.add(
    "q_window_range_frame",
    """
    SELECT o_custkey, o_orderkey, day_num,
           (ROUND((AVG(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY day_num
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)) * 10000, 0) / 10000.0) AS mavg_30d
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             datediff('day', TIMESTAMP '1970-01-01', o_orderdate) AS day_num
      FROM orders
    )
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (30-day trailing average) over a numeric day offset —
    value-based frames need a numeric/ordinal order key in Spark."""
    orders = load(spark, sf_dir, "orders")
    with_day = orders.withColumn(
        "day_num",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).cast(
            "long"
        ),
    )
    w = Window.partitionBy("o_custkey").orderBy("day_num").rangeBetween(-30, 0)
    return with_day.select(
        "o_custkey",
        "o_orderkey",
        "day_num",
        round_to(F.avg("o_totalprice").over(w), 4).alias("mavg_30d"),
    )


@REG.add(
    "q_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer. Spark pushes a per-partition top-k
    (WindowGroupLimit) below the shuffle since 3.5 — no full per-group sort
    materialization at scale."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# ------------------------------------------------- sort / limit / set ops

@REG.add(
    "q_pivot",
    """
    SELECT l_returnflag,
           (ROUND((COALESCE(SUM(l_quantity) FILTER (l_linestatus = 'F'), 0)) * 100, 0) / 100.0) AS qty_F,
           (ROUND((COALESCE(SUM(l_quantity) FILTER (l_linestatus = 'O'), 0)) * 100, 0) / 100.0) AS qty_O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: rows → columns on l_linestatus. The explicit value list keeps
    the plan a single-pass aggregate (Spark otherwise runs an extra
    distinct-values job to discover the columns — a full scan at 100 TB)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(round_to(F.coalesce(F.sum("l_quantity"), F.lit(0.0)), 2))
        .withColumnRenamed("F", "qty_F")
        .withColumnRenamed("O", "qty_O")
    )


@REG.add(
    "q_window_distribution",
    """
    SELECT o_orderkey, o_custkey,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           (ROUND((percent_rank() OVER w) * 1000000, 0) / 1000000.0) AS pct_rank,
           (ROUND((cume_dist() OVER w) * 1000000, 0) / 1000000.0) AS cdist,
           first_value(o_orderkey) OVER w AS cheapest_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist /
    first_value, per customer ordered by price (unique-key tie-break)."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).alias("quartile"),
        round_to(F.percent_rank().over(w), 6).alias("pct_rank"),
        round_to(F.cume_dist().over(w), 6).alias("cdist"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
    )


@REG.add(
    "q_explode",
    """
    SELECT vec_id, CAST(dim AS INT) AS dim, val
    FROM (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding) AS val
      FROM embeddings
    ) WHERE dim < 4
    """,
)
def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode with position (posexplode) — array rows → element
    rows. Narrow generator, no shuffle; output here capped to the first 4
    dims per vector."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", F.posexplode("embedding").alias("dim", "val"))
        .filter(F.col("dim") < 4)
    )


@REG.add(
    "q_subquery_scalar",
    """
    SELECT o_orderkey, o_totalprice,
           (ROUND((o_totalprice - (SELECT CAST(SUM(CAST(ROUND((o_totalprice) * 100, 0)
                                                        AS BIGINT)) AS DOUBLE)
                                          / 100.0 / COUNT(*) FROM orders))
                  * 10000, 0) / 10000.0)
             AS vs_avg
    FROM orders WHERE o_totalprice > (SELECT CAST(SUM(CAST(ROUND((o_totalprice) * 100, 0)
                                                           AS BIGINT)) AS DOUBLE)
                                             / 100.0 / COUNT(*) FROM orders)
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (above-average orders). Catalyst
    evaluates the subquery once and broadcasts the scalar — one extra tiny
    job, not a per-row re-evaluation. The subquery expression is written
    ONCE (projected, then filtered on); the executed plan shows one
    subquery id shared by the projection, the filter, AND the pushed-down
    parquet filter (GreaterThan(o_totalprice, ScalarSubquery)) — the
    scalar computes once and prunes row groups at the scan."""
    orders = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("sq_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
               (ROUND((o_totalprice - avg_price) * 10000, 0) / 10000.0) AS vs_avg
        FROM (
          SELECT o_orderkey, o_totalprice,
                 (SELECT CAST(SUM(CAST(ROUND((o_totalprice) * 100, 0) AS BIGINT))
                              AS DOUBLE) / 100.0 / COUNT(*)
                  FROM sq_orders) AS avg_price
          FROM sq_orders
        )
        WHERE o_totalprice > avg_price
        """
    )


@REG.add(
    "q_subquery_in",
    """
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ) AND o_orderstatus = 'F'
    """,
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery — decorrelated by Catalyst into a left-semi join (same
    physical shape as q_join_semi; the SQL front-door to it)."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    orders.createOrReplaceTempView("sq_in_orders")
    customer.createOrReplaceTempView("sq_in_customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey FROM sq_in_orders
        WHERE o_custkey IN (
          SELECT c_custkey FROM sq_in_customer WHERE c_mktsegment = 'BUILDING'
        ) AND o_orderstatus = 'F'
        """
    )


@REG.add(
    "q_tpch_q3_shape",
    """
    SELECT l_orderkey,
           (CAST(((SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) - (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) % 100) // 100 AS DOUBLE) / 100.0) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
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
)
def q_tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite integration query (TPC-H Q3 shape): selective dim filter →
    two joins → grouped revenue → global top-10. Both date filters push to
    their scans; the customer filter shrinks the build side before the
    join; top-N is TakeOrderedAndProject."""
    customer = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            units_to_currency(F.sum(exact_units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)), 4).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "orderdate", "l_orderkey")
        .limit(10)
    )


@REG.add(
    "q_tpch_q10_shape",
    """
    SELECT c_custkey, c_name,
           (CAST(((SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) - (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) % 100) // 100 AS DOUBLE) / 100.0) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q_tpch_q10_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite integration query (TPC-H Q10 shape): returned-item revenue
    by customer over one quarter; nation broadcast, returnflag + date range
    pushed to scans."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            units_to_currency(F.sum(exact_units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)), 4).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@REG.add(
    "q_sort_limit",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100
    """,
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: Spark plans TakeOrderedAndProject — per-partition heaps
    of size N, no global sort, driver merges N*partitions rows. Ties at the
    boundary are broken by the unique (orderkey, linenumber)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(100)
    )


@REG.add(
    "q_union",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    UNION
    SELECT o_custkey FROM orders WHERE o_totalprice > 400000
    """,
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    return a.union(b).distinct()


@REG.add(
    "q_union_all",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_custkey FROM orders WHERE o_totalprice > 400000
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    return a.union(b)


@REG.add(
    "q_intersect",
    """
    SELECT o_custkey FROM orders
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 1000
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    rich = customer.filter(F.col("c_acctbal") > 1000).select(
        F.col("c_custkey").alias("o_custkey")
    )
    return orders.select("o_custkey").intersect(rich)


@REG.add(
    "q_except",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey FROM orders
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return customer.select("c_custkey").subtract(
        orders.select(F.col("o_custkey").alias("c_custkey"))
    )


RANGE_DELTA = 0.25  # q_join_range_bucket band half-width


@REG.add(
    "q_join_range_bucket",
    f"""
    SELECT CAST(floor(a.value / 50) AS BIGINT) AS val_band,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM events a JOIN events b
      ON b.event_id > a.event_id AND abs(a.value - b.value) <= {RANGE_DELTA}
    GROUP BY val_band
    """,
)
def q_join_range_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join with NO equi key (|value_a - value_b| <= delta over all
    event pairs), made scalable by manufacturing one: bucket = floor(value
    / delta), explode the left side to its three adjacent buckets, and
    equi-join on the bucket. A pair within delta always lands in the same
    or adjacent bucket, and each qualifying pair matches on exactly one of
    the three exploded values — no dedup pass needed.

    Contrast with ``q_join_theta`` (which has a user_id equi key): the
    naive plan here is a BroadcastNestedLoopJoin — O(n^2) comparisons and
    a single-threaded build at 100 TB. The bucket equi-join shuffles both
    sides by band (3x row inflation on one side only), turning it into an
    ordinary hash join whose cost tracks the true output size. Same trick
    spelled "overlap join binning" in DuckDB/Postgres literature."""
    delta = RANGE_DELTA
    ev = load(spark, sf_dir, "events").select(
        "event_id", "value", F.floor(F.col("value") / delta).cast("long").alias("bk")
    )
    a = ev.select(
        F.col("event_id").alias("a_id"),
        F.col("value").alias("a_value"),
        F.explode(
            F.array(F.col("bk") - 1, F.col("bk"), F.col("bk") + 1)
        ).alias("jb"),
    )
    b = ev.select(
        F.col("event_id").alias("b_id"),
        F.col("value").alias("b_value"),
        F.col("bk").alias("jb"),
    )
    pairs = a.join(b, "jb").filter(
        (F.col("b_id") > F.col("a_id"))
        & (F.abs(F.col("a_value") - F.col("b_value")) <= delta)
    )
    return pairs.groupBy(
        F.floor(F.col("a_value") / 50).cast("long").alias("val_band")
    ).agg(F.count("*").alias("n_pairs"))


@REG.add("q_hll_rollup")  # rows-only: sketch estimates are engine-specific
def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the pre-aggregation pattern that makes
    distinct counts tractable at 100 TB: build per-(event_type, day) HLL
    sketches ONCE (``hll_sketch_agg``), then answer coarser rollups by
    merging sketches (``hll_union_agg``) without ever touching the raw
    rows again. A materialized daily sketch table turns "distinct users
    this quarter" into a union over ~90 tiny binary blobs per key.
    Estimates are Datasketches-HLL-specific, so the driver check is
    rows-only; the pytest suite bounds the estimate against the exact
    distinct count."""
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sketch"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"),
            F.count("*").alias("n_daily_sketches"),
        )
        .select("event_type", "est_users", "n_daily_sketches")
    )


@REG.add(
    "q_bitmap_rollup",
    """
    SELECT event_type,
           strftime(date_trunc('month', ts), '%Y-%m') AS month,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type, month
    """,
)
def q_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct rollup via bitmap aggregates — the exact
    counterpart to ``q_hll_rollup``'s estimate: per-(day, event_type,
    bucket) user bitmaps built ONCE (``bitmap_construct_agg`` over
    32768-bit buckets keyed by ``bitmap_bucket_number`` — each user_id
    owns exactly one bit in exactly one bucket, so counts are exact, not
    sketched), monthly answers by OR-merging the daily bitmaps
    (``bitmap_or_agg``) and summing per-bucket ``bitmap_count`` — the
    raw events are never re-touched for coarser grains.

    Oracle-checkable precisely BECAUSE it is exact: DuckDB runs plain
    COUNT(DISTINCT user_id) per (event_type, month) and the numbers must
    match bit-for-bit. Scale shape: the daily shuffle carries one ≤4 KiB
    blob per (day, type, populated-bucket) — for a bounded id space a
    CONSTANT number of blobs per key per day — and the monthly re-agg
    reads only those blobs; COUNT(DISTINCT) at 100 TB would instead
    shuffle every raw (key, user) pair on every query. The HLL twin
    trades exactness for id-space-independent blob size; this one is
    the right tool when ids are dense ints (the Delta/ClickHouse
    bitmap-rollup pattern)."""
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
            "bm"
        )
    )
    monthly_buckets = daily.groupBy(
        F.date_format(F.date_trunc("month", "day"), "yyyy-MM").alias(
            "month"
        ),
        "event_type",
        "bucket",
    ).agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
    return monthly_buckets.groupBy("event_type", "month").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_users")
    )


@REG.add(
    "q_reagg_rollup",
    """
    SELECT event_type,
           strftime(date_trunc('month', ts), '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_events,
           (ROUND(CAST(SUM(CAST(ROUND((value) * 100, 0) AS BIGINT))
                       AS DOUBLE), 0) / 100.0) AS sum_value,
           (ROUND((CAST(SUM(CAST(ROUND((value) * 100, 0) AS BIGINT)) AS DOUBLE)
                   / count(*) / 100.0) * 10000, 0) / 10000.0) AS avg_value
    FROM events GROUP BY event_type, month
    """,
)
def q_reagg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate correctness: monthly numbers
    computed FROM a daily pre-aggregate (sum-of-sums / sum-of-counts, avg
    re-derived at read time), verified hash-identical to the oracle's
    direct monthly aggregation. This is the contract a materialized daily
    rollup must satisfy for coarser windows to be served from it; only
    algebraic aggregates (sum/count/min/max) re-aggregate — avg must be
    stored as (sum, count), never as a ratio."""
    events = load(spark, sf_dir, "events")
    # integer-cent daily partials (r15): sum-of-sums is then exact, so
    # "serve coarse windows from the daily rollup" holds as arithmetic
    # identity at any window size, not approximately
    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(exact_units(F.col("value"), 2)).alias("s_u2"),
    )
    return (
        daily.groupBy(
            "event_type",
            F.date_format(F.date_trunc("month", "day"), "yyyy-MM").alias("month"),
        )
        .agg(F.sum("n").alias("n_events"), F.sum("s_u2").alias("sv_u2"))
        .select(
            "event_type",
            "month",
            "n_events",
            units_to_currency(F.col("sv_u2"), 2).alias("sum_value"),
            round_to(F.col("sv_u2").cast("double") / F.col("n_events") / 100.0, 4).alias("avg_value"),
        )
    )


# Mergeable-quantile rollup: fixed equi-width bin count. 256 bins over
# the global [min, max] bounds the per-(day, key) sketch at 256 counters
# and the quantile estimate error at (max - min) / 256 per bin.
QROLLUP_BINS = 256
QROLLUP_QS = (0.5, 0.95, 0.99)


@REG.add(
    "q_quantile_rollup",
    f"""
    WITH s AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
    daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CASE WHEN mx = mn THEN 0
                  ELSE LEAST(CAST(floor((value - mn)
                             / ((mx - mn) / {QROLLUP_BINS}.0)) AS BIGINT),
                             {QROLLUP_BINS - 1}) END AS bin,
             count(*) AS c
      FROM events, s GROUP BY event_type, day, bin, mx, mn
    ),
    merged AS (
      SELECT event_type, bin, CAST(sum(c) AS BIGINT) AS c
      FROM daily GROUP BY event_type, bin
    ),
    cum AS (
      SELECT event_type, bin, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM merged
    ),
    qs AS (SELECT unnest([{", ".join(str(q) for q in QROLLUP_QS)}]) AS q),
    hit AS (
      SELECT event_type, q, bin, c, cum, n, mn, mx,
             ROW_NUMBER() OVER (PARTITION BY event_type, q
                                ORDER BY bin) AS rn
      FROM cum, qs, s
      WHERE cum >= q * n
    )
    SELECT event_type, q,
           (ROUND((CASE WHEN mx = mn THEN mn
                 ELSE mn + ((mx - mn) / {QROLLUP_BINS}.0)
                      * (bin + (q * n - (cum - c)) / c) END) * 10000, 0) / 10000.0) AS est,
           CAST(n AS BIGINT) AS n_events
    FROM hit WHERE rn = 1
    """,
)
def q_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-QUANTILE rollup — completes the re-aggregation family
    (``q_reagg_rollup``: algebraic sums, ``q_hll_rollup``: distinct
    counts) for percentiles, which are famously NOT re-aggregatable from
    stored percentile values: a daily p95 cannot be combined into a
    monthly p95. The mergeable representation is the fixed-bin
    histogram: per-(day, event_type) counts over 256
    equi-width bins spanning the global [min, max] (a 2-double broadcast
    from one 1-row aggregate). Coarser windows merge by SUMMING bin
    counts — associative, commutative, and exactly the quantity a
    materialized daily sketch table stores — then any quantile is
    answered by cumulative-count inversion with within-bin linear
    interpolation, error bounded by one bin width. (The fixed-bin form
    is chosen here because its merge AND its estimate are exactly
    mirrorable in ANSI SQL, so the whole rollup path is oracle-checked,
    not argued; the long-tail-safe production twin with
    distribution-free RANK error is ``q_quantile_rollup_kll`` in
    ``operators/sketches.py`` — same daily-sketch-table pattern, KLL
    merge, pytest-bounded rank error on Zipf values.)

    Scale shape: the daily pre-aggregate is one map-side-combined
    (day, event_type, bin) count; the merge re-aggregates O(keys x
    256) rows; the cumulative inversion windows over at most
    256 rows per key. Raw rows are touched exactly twice —
    one value-column pass for the range, one binning pass — the floor
    for equi-width binning."""
    events = load(spark, sf_dir, "events")
    # shared by the binning crossJoin and the final estimate
    s = events.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    ).transform(materialize)
    w = (F.col("mx") - F.col("mn")) / F.lit(float(QROLLUP_BINS))
    bin_expr = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("value") - F.col("mn")) / w).cast("long"),
            F.lit(QROLLUP_BINS - 1),
        )
    )
    daily = (
        events.crossJoin(F.broadcast(s))
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            bin_expr.alias("bin"),
        )
        .agg(F.count("*").alias("c"))
    )
    merged = daily.groupBy("event_type", "bin").agg(
        F.sum("c").cast("long").alias("c")
    )
    wc = Window.partitionBy("event_type").orderBy("bin")
    wn = Window.partitionBy("event_type")
    cum = merged.withColumn("cum", F.sum("c").over(wc)).withColumn(
        "n", F.sum("c").over(wn)
    )
    qs = spark.createDataFrame([(q,) for q in QROLLUP_QS], "q double")
    hit = (
        cum.crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(s))
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
    )
    wr = Window.partitionBy("event_type", "q").orderBy("bin")
    est = F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
        F.col("mn")
        + w
        * (
            F.col("bin")
            + (F.col("q") * F.col("n") - (F.col("cum") - F.col("c")))
            / F.col("c")
        )
    )
    return (
        hit.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "q",
            round_to(est, 4).alias("est"),
            F.col("n").cast("long").alias("n_events"),
        )
    )


@REG.add(
    "q_upsert_latest",
    """
    SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS last_ts,
           event_id AS last_event_id,
           event_type AS last_event_type,
           value AS last_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/upsert compaction: the latest event per ``user_id`` — the
    keep-newest-record-per-key pass that materializes a changelog into a
    snapshot (Flink's upsert sink / Delta MERGE latest-wins analog).

    Implemented as ``max(struct(ts_us, event_id, ...))``, a single
    map-side-combined hash aggregate whose shuffle carries ONE row per
    key per map partition — at 100 TB of changelog with a bounded key
    space this is the plan that works, where the oracle's
    ROW_NUMBER-over-window form would sort-shuffle every event. Ordering
    compares microseconds then event_id (struct comparison is
    lexicographic), matching the oracle's ORDER BY exactly; ts is emitted
    as epoch seconds per the contract's timestamp rule."""
    events = load(spark, sf_dir, "events")
    latest = events.groupBy("user_id").agg(
        F.max(
            F.struct(
                F.unix_micros("ts").alias("us"),
                F.col("event_id").alias("eid"),
                F.col("event_type").alias("et"),
                F.col("value").alias("v"),
            )
        ).alias("m")
    )
    return latest.select(
        "user_id",
        F.expr("m.us div 1000000").alias("last_ts"),
        F.col("m.eid").alias("last_event_id"),
        F.col("m.et").alias("last_event_type"),
        F.col("m.v").alias("last_value"),
    )


def cdc_snapshot(
    changelog: DataFrame,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str = "op",
    keep_tombstones: bool = False,
    seq_unique: bool = False,
) -> DataFrame:
    """Changelog → snapshot with DELETE tombstones: the MERGE/CDC
    compaction a lakehouse sink runs (Delta MERGE / Flink upsert-kafka
    / Debezium materialization). Each row is an op on a key — ``I``
    and ``U`` both set the row's payload (Debezium upsert semantics),
    ``D`` retracts the key. The snapshot is each key's HIGHEST-sequence
    row; a key whose winner is a delete is absent (or, with
    ``keep_tombstones=True``, retained as a tombstone row — the STATE
    form an incremental pipeline must carry, see ``cdc_merge``).

    Out-of-order changelogs are the normal case (CDC streams interleave
    by commit time per partition, not per key): correctness comes from
    the aggregate being order-free — ``max_by(row, struct(seq_cols…))``
    picks the same winner under any input order, and because ONLY the
    sequence struct is ordered, the payload may carry non-orderable
    types (maps, e.g. a raw ``props`` column) that the older
    ``max(struct(seq, row))`` form rejected at analysis time.
    ``seq_cols`` should be a per-key total order; as a belt-and-braces
    determinism guard, every ORDERABLE payload column is appended to
    the ordering struct after the caller's sequence (restoring the old
    form's byte-wise tie-break), so equal-sequence winners are
    run-to-run stable unless the tie extends into map-typed columns —
    only then is the winner undefined. Callers that DECLARE the
    sequence a per-key total order (``seq_unique=True``) skip the
    payload tie-break entirely: for wide rows with large text payloads
    the byte-wise struct comparison on every aggregate update is pure
    cost once the sequence alone decides the winner.

    Scale shape — the reason this is an aggregate and not the oracle's
    ROW_NUMBER window: one map-side-combined hash aggregate whose
    shuffle carries ONE candidate row per key per map partition, so a
    100 TB changelog over a bounded key space exchanges ~keys×tasks
    rows; the window form would sort-shuffle every event. Same plan
    family as ``q_upsert_latest``, plus the tombstone filter.
    """
    keys = list(key_cols)
    payload = [c for c in changelog.columns if c not in set(keys)]
    # deterministic tie-break: orderable payload columns (maps are the
    # only unorderable type here) follow the caller's sequence in the
    # ordering struct
    def _orderable(dt) -> bool:
        from pyspark.sql import types as T

        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    by_name = {f.name: f.dataType for f in changelog.schema.fields}
    tiebreak = (
        []
        if seq_unique
        else [
            c
            for c in payload
            if c not in set(seq_cols) and _orderable(by_name[c])
        ]
    )
    win = changelog.groupBy(*keys).agg(
        F.max_by(
            F.struct(*payload),
            F.struct(
                *[
                    F.col(c).alias(f"_s{i}")
                    for i, c in enumerate([*seq_cols, *tiebreak])
                ]
            ),
        ).alias("_row")
    )
    out = win.select(*keys, "_row.*")
    if not keep_tombstones:
        out = out.filter(F.col(op_col) != F.lit("D"))
    return out


def cdc_merge(
    state: DataFrame,
    chunk: DataFrame,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str = "op",
    seq_unique: bool = False,
) -> DataFrame:
    """Incrementally MERGE a changelog chunk into a tombstone-retaining
    snapshot state (both sides share the changelog schema; state rows
    carry their winning seq + op). Returns the new state.

    The state keeps tombstones ON PURPOSE: a late row with an OLDER
    sequence than a key's tombstone must lose, so the delete has to
    stay visible to the merge — dropping tombstones from the state is
    the classic resurrection bug (late update re-inserts a deleted
    key). Chunk-by-chunk merging through this function is provably
    order-insensitive WITHIN the late-arrival horizon: merge is
    associative/commutative/idempotent (each is an order-free max per
    key), so any chunking — including a replayed chunk, the
    at-least-once ``foreachBatch`` case — yields the same state as one
    ``cdc_snapshot`` over the concatenated changelog
    (``tests/test_relational_cdc.py`` asserts all three properties).
    Production builds expire tombstones past the horizon with an
    ordinary seq filter (retention, not correctness).

    Readers consume ``cdc_view(state)``."""
    return cdc_snapshot(
        state.unionByName(chunk),
        key_cols,
        seq_cols,
        op_col,
        keep_tombstones=True,
        seq_unique=seq_unique,
    )


def cdc_view(state: DataFrame, op_col: str = "op") -> DataFrame:
    """The public read view of a ``cdc_merge`` state: tombstones out."""
    return state.filter(F.col(op_col) != F.lit("D"))


def _events_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shape the events table as a CDC changelog on key=user_id:
    ``signup``→I, ``error``→D (the tombstone), other types→U; sequence
    is (ts microseconds, event_id) — unique, so out-of-order input has
    a deterministic winner."""
    return load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("seq_us"),
        "event_id",
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("op"),
        "value",
    )


@REG.add(
    "q_upsert_cdc",
    """
    SELECT user_id,
           CAST(seq_us // 1000000 AS BIGINT) AS last_ts,
           event_id AS last_event_id,
           op AS last_op,
           value AS last_value
    FROM (
      SELECT user_id,
             CAST(epoch_us(ts) AS BIGINT) AS seq_us,
             event_id,
             CASE WHEN event_type = 'error' THEN 'D'
                  WHEN event_type = 'signup' THEN 'I'
                  ELSE 'U' END AS op,
             value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 AND op <> 'D'
    """,
)
def q_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/CDC snapshot with delete tombstones over the events table
    shaped as a changelog (``_events_changelog``): latest op per
    user_id wins under the (ts, event_id) sequence; keys whose latest
    op is a delete are ABSENT — the retraction ``q_upsert_latest``
    cannot express. Semantics, out-of-order handling and the
    single-aggregate scale argument live on ``cdc_snapshot``; the
    incremental/replay form is ``cdc_merge`` (pytest-verified equal to
    this one-shot form under chunking, late rows, and batch replay)."""
    snap = cdc_snapshot(
        _events_changelog(spark, sf_dir),
        key_cols=["user_id"],
        seq_cols=["seq_us", "event_id"],
        # (ts, event_id) is a per-key total order: skip the payload
        # tie-break and its per-update struct comparisons
        seq_unique=True,
    )
    return snap.select(
        "user_id",
        F.expr("seq_us div 1000000").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("op").alias("last_op"),
        F.col("value").alias("last_value"),
    )


@REG.add(
    "q_join_fuzzy",
    """
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM part a, part b
    WHERE a.p_partkey < b.p_partkey
      AND levenshtein(a.p_name, b.p_name) <= 1
    """,
)
def q_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join: part-name pairs within edit distance 1, via
    deletion-neighborhood candidate generation (the SymSpell blocking
    scheme) over DISTINCT names: every distinct name emits itself plus
    its |name| single-character deletions; two names are within one edit
    iff their variant sets intersect, so an equi join on the variant
    string finds ALL candidate name pairs with no O(n^2) comparison.
    Candidates are deduped and confirmed with one exact ``levenshtein``
    call per distinct-name pair, then expanded back to key pairs:
    cross-name matches through a broadcast of the (tiny) confirmed
    name-pair table, same-name (dist-0) matches through a keyed
    self-equi-join on the name.

    The distinct-names reduction is the load-bearing move: when names
    repeat (every real corpus: product titles, URLs, user agents), a
    per-row variant join rediscovers each duplicate pair once per shared
    variant — g-sized name groups cost g^2 x |variants| candidate rows.
    Running the variant join on distinct names makes its cost a function
    of vocabulary size only; the key expansion emits exactly the output
    rows. At sf0.1 this is 64 distinct names over 20k parts: the variant
    join drops from ~40M candidate rows to ~600, 46 s -> ~1 s. Variant
    generation is a JVM higher-order function; no Python, no BNLJ."""
    part = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    # shared by both sides of the variant self-join
    names = materialize(part.select("p_name").distinct())
    variants = names.select(
        F.col("p_name").alias("name"),
        F.explode(
            F.array_union(
                F.array(F.col("p_name")),
                F.expr(
                    "transform(sequence(1, length(p_name)),"
                    " i -> concat(substring(p_name, 1, i - 1),"
                    "             substring(p_name, i + 1)))"
                ),
            )
        ).alias("v"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    name_pairs = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.name") < F.col("b.name")))
        .select(F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b"))
        .distinct()
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 1)
    )
    pa = part.select(F.col("p_partkey").alias("ka"), F.col("p_name").alias("name_a"))
    pb = part.select(F.col("p_partkey").alias("kb"), F.col("p_name").alias("name_b"))
    cross = (
        pa.join(F.broadcast(name_pairs), "name_a")
        .join(pb, "name_b")
        .select(
            F.least("ka", "kb").alias("key_a"),
            F.greatest("ka", "kb").alias("key_b"),
            "dist",
        )
    )
    x, y = part.alias("x"), part.alias("y")
    same = (
        x.join(
            y,
            (F.col("x.p_name") == F.col("y.p_name"))
            & (F.col("x.p_partkey") < F.col("y.p_partkey")),
        )
        .select(
            F.col("x.p_partkey").alias("key_a"),
            F.col("y.p_partkey").alias("key_b"),
            F.lit(0).alias("dist"),
        )
    )
    return cross.unionByName(same)


@REG.add(
    "q_tpch_q5_shape",
    """
    SELECT n_name,
           (CAST(((SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) - (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) % 100) // 100 AS DOUBLE) / 100.0) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
)
def q_tpch_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite integration query (TPC-H Q5 shape): local-supplier revenue
    per nation inside one region and one order year — the 6-table join
    with a cross-table equality (customer and supplier share a nation)
    that rewards join reordering.

    Scale shape: region prunes nation, and supplier joins those asian
    nations BEFORE being broadcast, carrying ``n_name``, so the
    broadcast side really is region-pruned (≈1/5 of supplier). Both dim
    joins run in the one task that reads the three tables
    (``join_small``: supplier qualifies because the key broadcasts the
    joined result whole), so the dims cost one broadcast job, where
    nested broadcasts cost one job each: 5 jobs at sf0.001, sf0.01 and
    sf0.1. The date range pushes to the orders scan; the only
    large shuffles are the two fact joins on their keys; the final
    per-nation aggregate is O(nations) rows. The c_nationkey =
    s_nationkey predicate rides the supplier join rather than forcing a
    separate exchange."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    supplier = load(spark, sf_dir, "supplier")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    asian_nations = join_small(
        nation, region, F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    supplier = join_small(
        supplier, asian_nations, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            units_to_currency(
                F.sum(
                    exact_units(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
                    )
                ),
                4,
            ).alias("revenue")
        )
        .transform(order_small, F.desc("revenue"), "n_name")
    )


# Feature-store as-of tolerance: a click older than this is too stale to
# attribute (point-in-time join with TTL).
ASOF_TOLERANCE_US = 24 * 3600 * 1_000_000


@REG.add(
    "q_join_asof_tolerance",
    f"""
    SELECT event_id, user_id, purchase_us,
           CASE WHEN last_click_us IS NOT NULL
                     AND purchase_us - last_click_us <= {ASOF_TOLERANCE_US}
                THEN last_click_us END AS click_us,
           CASE WHEN last_click_us IS NOT NULL
                     AND purchase_us - last_click_us <= {ASOF_TOLERANCE_US}
                THEN 1 ELSE 0 END AS fresh
    FROM (
      SELECT event_id, user_id, event_type,
             CAST(epoch_us(ts) AS BIGINT) AS purchase_us,
             last_value(CASE WHEN event_type = 'click'
                             THEN CAST(epoch_us(ts) AS BIGINT) END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_click_us
      FROM events WHERE event_type IN ('click', 'purchase')
    ) WHERE event_type = 'purchase'
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound (feature-store point-in-time
    join semantics): each purchase matches the latest same-user click
    at-or-before it ONLY if that click is within 24 h — older matches
    surface as NULL with fresh = 0, so downstream attribution can
    distinguish "no click" / "click too old" from a fresh match. This is
    the TTL variant of q_join_asof (Flink temporal join's idle-state
    eviction expressed in batch).

    Same single-shuffle composition as q_join_asof: one sort within
    user_id partitions + last_value(ignore nulls); the tolerance is a
    pure post-window expression, so the bound adds zero plan cost
    (microsecond-exact on both engines)."""
    events = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_us = F.when(
        F.col("event_type") == "click", F.unix_micros("ts")
    )
    base = (
        events.withColumn("purchase_us", F.unix_micros("ts"))
        .withColumn("last_click_us", F.last(click_us, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
    )
    is_fresh = F.col("last_click_us").isNotNull() & (
        F.col("purchase_us") - F.col("last_click_us") <= ASOF_TOLERANCE_US
    )
    return base.select(
        "event_id",
        "user_id",
        "purchase_us",
        F.when(is_fresh, F.col("last_click_us")).alias("click_us"),
        F.when(is_fresh, 1).otherwise(0).alias("fresh"),
    )


@REG.add("q_agg_quantile_approx")  # rows-only: the t-digest-style
# mergeable sketch is engine-specific by construction; pytest bounds it
# against the exact form (tests/test_retrieval.py).
def q_agg_quantile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB production twin of q_agg_quantile: mergeable
    approximate percentiles (``percentile_approx``, relative-accuracy
    10000) — one pass, map-side-combinable sketches, no per-group sort.
    Registered so the production swap every exact-percentile key's
    docstring points at is itself a tested, benched surface."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        round_to(F.expr("percentile_approx(value, 0.5, 10000)"), 4).alias("p50"),
        round_to(F.expr("percentile_approx(value, 0.95, 10000)"), 4).alias("p95"),
    )


# Salted JOIN (the join-side twin of q_agg_salted): pre-aggregation
# cannot help a join probe, so the skew fix is replicating the build
# side k ways and spreading the probe side across the replicas.
JOIN_SALT = 8


@REG.add(
    "q_join_salted",
    """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           (ROUND((SUM(e.value)) * 100, 0) / 100.0) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof salted equi join: events⋈customer on the user key with
    the BUILD side replicated 8x and the probe side salted by
    a deterministic hash — every hot key's probe rows spread across
    8 tasks instead of one. The salt is plan-only: the result
    is salt-invariant, so the oracle is the PLAIN join (the correctness
    contract that makes salting safe to deploy).

    This is the join-side twin of q_agg_salted: a skewed AGGREGATE fixes
    itself with partial combine, but a skewed JOIN probe cannot
    pre-combine — replication is the lever (AQE's skew-join split is the
    automatic form; explicit salting is the portable one and composes
    with it). Shuffle volume: probe unchanged, build x8 —
    cheap when the build side is dimension-sized."""
    events = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    salted_probe = events.withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(JOIN_SALT)).cast("int")
    )
    replicated_build = cust.select(
        "*", F.explode(F.expr(f"sequence(0, {JOIN_SALT - 1})")).alias("_salt")
    )
    return (
        salted_probe.join(
            replicated_build,
            (F.col("user_id") == F.col("c_custkey"))
            & (salted_probe["_salt"] == replicated_build["_salt"]),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            round_to(F.sum("value"), 2).alias("sum_value"),
        )
    )


# ------------------------------------------------- bloom-filtered join

# Bloom sizing for the fixture dim (~100-10k keys): m = 2^20 bits is a
# 128 KiB broadcast with FPR << 1e-6 at that load. The m that matters is
# the PRODUCTION one: m ~ 1.44 * n * log2(1/fpr) bits, so 100M dim keys
# at 1% FPR is 2^30 bits = 128 MiB — broadcastable where the exact
# distinct-key set (8 GiB of longs plus hash-relation overhead) is not.
BLOOM_M_BITS = 1 << 20
BLOOM_SEEDS = (101, 202, 303)


def build_bloom_bitmap(keys: DataFrame, col: str) -> list[int]:
    """Distributed Bloom-filter build: k=len(BLOOM_SEEDS) positions per
    key via ``xxhash64(col, seed)`` (seeding by hashing the seed literal
    alongside the key — the same device the MinHash family uses), OR-ed
    into 64-bit words by a partial-aggregating ``bit_or`` groupBy. The
    shuffle carries at most m/64 words per map partition (bit_or
    combines map-side); the driver collect is O(m/64) — a CONSTANT
    bounded by filter sizing, never O(keys). Returns the dense word
    array (missing words zero-filled)."""
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(col, F.lit(s)), F.lit(BLOOM_M_BITS))
                    for s in BLOOM_SEEDS
                ]
            )
        ).alias("p")
    )
    words = (
        pos.groupBy(F.shiftright("p", 6).alias("wi"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))"
            ).alias("w")
        )
        .collect()
    )
    dense = [0] * (BLOOM_M_BITS >> 6)
    for r in words:
        dense[r["wi"]] = r["w"]
    return dense


def _bloom_probe_sql(key: str, seed: int) -> str:
    """One seed's membership test as a codegen-able SQL predicate against
    the broadcast ``bloom`` word array (element_at is 1-indexed)."""
    p = f"pmod(xxhash64({key}, {seed}), {BLOOM_M_BITS})"
    return (
        f"(element_at(bloom, CAST(shiftright({p}, 6) AS INT) + 1)"
        f" & shiftleft(CAST(1 AS BIGINT), CAST({p} % 64 AS INT))) != 0"
    )


@REG.add(
    "q_join_bloom",
    """
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           (ROUND((SUM(l.l_extendedprice * (1 - l.l_discount))) * 100, 0) / 100.0) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate < TIMESTAMP '1995-04-01'
    GROUP BY l.l_returnflag
    """,
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pre-filtered selective join: revenue by return flag for line
    items of urgent Q1-1995 orders. The dim side (filtered orders) is
    distilled into a bit-packed Bloom bitmap (``build_bloom_bitmap``);
    the fact scan probes it through pure JVM bit expressions on a
    128 KiB broadcast 1-row frame BEFORE the join, so the join shuffle
    carries only probable matches (true matches + FPR) instead of the
    whole fact table. False positives are eliminated by the real join
    that follows — the result is bit-identical to the plain join, which
    is exactly what the oracle checks (same safety contract as
    q_join_salted: the physical trick must be semantics-free).

    This is the manual, portable form of Catalyst's runtime row-level
    bloom filtering (spark.sql.optimizer.runtime.bloomFilter.*), which
    only injects above multi-GiB scan thresholds; hand-building it keeps
    the technique testable at fixture scale and usable where the
    optimizer declines. At 100 TB: probe-side shuffle drops by the
    non-matching fraction (~99% here); the bitmap broadcast is O(m/8)
    bytes regardless of key count — the lever over an exact semi-join
    is that m is chosen, not dictated by |dim keys|."""
    dim = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .select("o_orderkey")
    )
    dense = build_bloom_bitmap(dim, "o_orderkey")
    bloom_df = spark.createDataFrame([(dense,)], "bloom array<bigint>")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    pred = " AND ".join(_bloom_probe_sql("l_orderkey", s) for s in BLOOM_SEEDS)
    probed = (
        li.crossJoin(F.broadcast(bloom_df)).filter(F.expr(pred)).drop("bloom")
    )
    return (
        probed.join(
            F.broadcast(dim), F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            units_to_currency(F.sum(exact_units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)), 4).alias("revenue"),
        )
    )


# ------------------------------------------- aggregate-as-join-filter

Q18_QTY_THRESHOLD = 250


@REG.add(
    "q_tpch_q18_shape",
    f"""
    WITH qual AS (
      SELECT l_orderkey, (ROUND((SUM(l_quantity)) * 100, 0) / 100.0) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > {Q18_QTY_THRESHOLD}
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_date,
           o.o_totalprice, q.sum_qty
    FROM qual q
    JOIN orders o ON o.o_orderkey = q.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q_tpch_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total line
    quantity exceeds 250, with customer attribution. The
    classic aggregate-as-join-filter pattern: the full-fact groupBy
    (map-side partial combine over l_orderkey) is HAVING-filtered down
    to pathological orders FIRST, and that tiny keyed aggregate then
    drives broadcast joins — the textbook Q18 rewrite that also REUSES
    the aggregate as the output measure instead of re-aggregating
    lineitem after the join (one lineitem pass total, vs two in the
    naive IN-subquery plan). At 100 TB the HAVING output is bounded by
    the data pathology (orders with >threshold items), not table size,
    so the broadcast holds; customer joins on the orders side by
    hash-shuffle if it outgrows broadcast — AQE decides per stats.
    Quantities are integral doubles, so the threshold compare and the
    rounded sum are order-exact."""
    li = load(spark, sf_dir, "lineitem")
    qual = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > Q18_QTY_THRESHOLD)
        .select("l_orderkey", round_to("_sq", 2).alias("sum_qty"))
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(
            F.broadcast(qual), orders.o_orderkey == qual.l_orderkey
        )
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            "o_totalprice",
            "sum_qty",
        )
    )


# ------------------------------------------- correlated-subquery shapes

# Q21's "problem line" surrogate on the fixture schema (no
# l_receiptdate/l_commitdate): a returned line (l_returnflag = 'R').
# Local to lineitem, so the EXISTS/NOT EXISTS correlation stays the
# classic single-column l_orderkey shape Catalyst must decorrelate.
Q21_REGIONKEY = 0


@REG.add(
    "q_tpch_q21_shape",
    f"""
    WITH li AS (
      SELECT l_orderkey, l_suppkey, (l_returnflag = 'R') AS late
      FROM lineitem
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier, li l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.late
      AND EXISTS (SELECT 1 FROM li l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM li l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.late)
      AND s_nationkey = n_nationkey
      AND n_regionkey = {Q21_REGIONKEY}
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q_tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for finished
    orders, count each supplier's returned lines in MULTI-supplier
    orders where it was the ONLY supplier with a returned line — a
    doubly correlated EXISTS (some other supplier participated) +
    NOT EXISTS (no other supplier's line was also returned) self-join
    on lineitem, the canonical Catalyst DECORRELATION stress the
    uncorrelated ``q_subquery_in``/``q_subquery_scalar`` never touch.

    The Spark side is deliberately the raw correlated SQL: Catalyst
    rewrites EXISTS into a left-semi and NOT EXISTS into a left-anti
    hash join on l_orderkey with the l_suppkey inequality as a join
    residual (plan-asserted in tests/test_relational_extra.py — no
    BroadcastNestedLoopJoin anywhere). Scale shape: three hash joins on
    the fact key plus two broadcast dims; the semi/anti sides carry only
    (l_orderkey, l_suppkey[, late]) — Catalyst prunes the columns — so
    the self-joins shuffle two narrow projections of lineitem, not the
    table. ORDER BY (numwait DESC, s_name) is a total order (s_name
    unique), so the LIMIT is deterministic."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("q21_lineitem")
    load(spark, sf_dir, "orders").createOrReplaceTempView("q21_orders")
    load(spark, sf_dir, "supplier").createOrReplaceTempView("q21_supplier")
    load(spark, sf_dir, "nation").createOrReplaceTempView("q21_nation")
    return spark.sql(
        f"""
        WITH li AS (
          SELECT l_orderkey, l_suppkey, (l_returnflag = 'R') AS late
          FROM q21_lineitem
        )
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM q21_supplier, li l1, q21_orders, q21_nation
        WHERE s_suppkey = l1.l_suppkey
          AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND l1.late
          AND EXISTS (SELECT 1 FROM li l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM li l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.late)
          AND s_nationkey = n_nationkey
          AND n_regionkey = {Q21_REGIONKEY}
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
        """
    )


Q17_BRAND = "Brand#4"


@REG.add(
    "q_tpch_q17_shape",
    f"""
    SELECT (ROUND(CAST(SUM(CAST(ROUND((l_extendedprice) * 100, 0) AS BIGINT))
                AS DOUBLE) / 7.0, 0) / 100.0) AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_small_lines
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = '{Q17_BRAND}'
      AND l_quantity < (SELECT CAST(0.2 AS DOUBLE) * AVG(l_quantity)
                        FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
)
def q_tpch_q17_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): revenue of lines
    whose quantity sits below 20% of their part's average quantity,
    for one brand — the correlated SCALAR-AVG subquery against the
    same fact (vs Q21's EXISTS pair).

    Single-pass discipline (the q_tpch_q18_shape rule): the brand's
    lineitem slice is cut ONCE — lineitem broadcast-semi-joined to the
    filtered part dim — and localCheckpoint'd; the correlated subquery
    then runs over THAT slice, so Catalyst's decorrelation (aggregate
    on l_partkey joined back, plan-asserted: no BNLJ, no second parquet
    scan) re-reads the materialized O(brand-selectivity × fact) slice,
    never the 100 TB table. The per-part AVG is order-exact (integral
    quantities sum exactly in doubles), making the `<` cut and thus the
    rounded revenue deterministic. Correctness of avg-over-slice: the
    brand filter is a part attribute, so the slice holds EVERY line of
    each selected part."""
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand") == Q17_BRAND)
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    sliced = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).drop("p_partkey")
    # shared by the decorrelated aggregate and the probe
    sliced = materialize(sliced)
    sliced.createOrReplaceTempView("q17_slice")
    return spark.sql(
        """
        SELECT (ROUND(CAST(SUM(CAST(ROUND((l_extendedprice) * 100, 0) AS BIGINT))
                AS DOUBLE) / 7.0, 0) / 100.0) AS avg_yearly,
               CAST(COUNT(*) AS BIGINT) AS n_small_lines
        FROM q17_slice l1
        WHERE l_quantity < (SELECT CAST(0.2 AS DOUBLE) * AVG(l_quantity)
                            FROM q17_slice l2
                            WHERE l2.l_partkey = l1.l_partkey)
        """
    )


@REG.add(
    "q_tpch_q22_shape",
    """
    SELECT c_nationkey AS cntry,
           CAST(count(*) AS BIGINT) AS numcust,
           (ROUND(CAST(SUM(CAST(ROUND((c_acctbal) * 100, 0) AS BIGINT))
                AS DOUBLE), 0) / 100.0) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(ROUND((c_acctbal) * 100, 0)
                                                   AS BIGINT)) AS DOUBLE)
                              / (COUNT(*) * 100.0)
                       FROM customer WHERE c_acctbal > 0.0)
      AND c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderstatus = 'F')
    GROUP BY c_nationkey
    """,
)
def q_tpch_q22_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): above-average-balance
    customers with no finished order, counted per nation — the NOT IN
    + uncorrelated scalar-average combination. NOT IN is semantically
    NULL-AWARE (one NULL in the subquery empties the result), so
    Catalyst cannot plan the plain left-anti hash join the EXISTS form
    gets: it plans the single-column null-aware anti join
    (BroadcastHashJoin LeftAnti with NULL-aware matching,
    spark.sql.optimization.useNullAwareAntiJoin) — the one physical
    join variant Q21's correlated EXISTS pair never exercises, and the
    classic NOT-IN-vs-NOT-EXISTS production trap (without the
    optimization it degenerates to BroadcastNestedLoopJoin; the plan
    test pins that it doesn't). The scalar average evaluates once and
    prunes at the customer scan (the q_subquery_scalar discipline).
    Scale shape: one customer scan filtered by a broadcast scalar, one
    anti join against the order-custkey projection, O(nations) output."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("q22_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("q22_orders")
    return spark.sql(
        """
        SELECT c_nationkey AS cntry,
               CAST(count(*) AS BIGINT) AS numcust,
               (ROUND(CAST(SUM(CAST(ROUND((c_acctbal) * 100, 0) AS BIGINT))
                AS DOUBLE), 0) / 100.0) AS totacctbal
        FROM q22_customer
        WHERE c_acctbal > (SELECT CAST(SUM(CAST(ROUND((c_acctbal) * 100, 0)
                                                       AS BIGINT)) AS DOUBLE)
                                  / (COUNT(*) * 100.0)
                           FROM q22_customer WHERE c_acctbal > 0.0)
          AND c_custkey NOT IN (SELECT o_custkey FROM q22_orders
                                WHERE o_orderstatus = 'F')
        GROUP BY c_nationkey
        """
    )


Q4_START = "1996-01-01"
Q4_END = "1996-04-01"
Q4_LATE_DAYS = 60


@REG.add(
    "q_tpch_q4_shape",
    f"""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '{Q4_START}'
      AND o.o_orderdate < TIMESTAMP '{Q4_END}'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate
                                       + INTERVAL {Q4_LATE_DAYS} DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_tpch_q4_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): per-priority count of
    one quarter's orders with at least one line shipped more than
    60 days after the order date (the commit-vs-receipt
    lateness test recast onto this schema's columns). The correlation
    differs from Q21's in kind: the EXISTS residual compares an INNER
    column against an OUTER column (l_shipdate > o_orderdate + 60d),
    so Catalyst must decorrelate into a left-semi hash join on
    l_orderkey carrying a cross-table residual predicate — the shape
    `q_join_semi` (static keys) and Q21 (same-table inequality) never
    produce.

    Scale shape: the quarter filter prunes the orders scan FIRST
    (pushed to parquet), the semi join probes with only the pruned
    orders, and the lineitem side carries the two-column
    (l_orderkey, l_shipdate) projection — at 100 TB the join exchanges
    one narrow quarter of orders against a pruned fact projection, and
    the output is O(priorities). ORDER BY the unique priority key is a
    total order."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("q4_orders")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("q4_lineitem")
    counts = spark.sql(
        f"""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM q4_orders o
        WHERE o.o_orderdate >= TIMESTAMP '{Q4_START}'
          AND o.o_orderdate < TIMESTAMP '{Q4_END}'
          AND EXISTS (SELECT 1 FROM q4_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate
                                           + INTERVAL {Q4_LATE_DAYS} DAY)
        GROUP BY o_orderpriority
        """
    )
    return order_small(counts, "o_orderpriority")


Q20_NAME_PREFIX = "red"
Q20_HAVING_FACTOR = 1.05


@REG.add(
    "q_tpch_q20_shape",
    f"""
    WITH sl AS (
      SELECT l_suppkey, SUM(l_quantity) AS qty
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE '{Q20_NAME_PREFIX}%')
      GROUP BY l_suppkey
    )
    SELECT s_name, n_nationkey AS nation, (ROUND((s_acctbal) * 100, 0) / 100.0) AS acctbal
    FROM supplier, nation
    WHERE s_suppkey IN (SELECT l_suppkey FROM sl
                        WHERE qty > (SELECT {Q20_HAVING_FACTOR} * AVG(qty)
                                     FROM sl))
      AND s_nationkey = n_nationkey
    ORDER BY s_name
    """,
)
def q_tpch_q20_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers whose
    shipped quantity of 'red…' parts exceeds
    1.05× the average such quantity across suppliers —
    the DOUBLE-NESTED subquery ladder (IN over an aggregate whose
    source is itself filtered by an IN, with an uncorrelated scalar
    subquery inside the HAVING-equivalent predicate). Q20's real form
    keys on partsupp availability; this schema has no partsupp, so the
    excess-stock test is recast as excess-shipment against the
    cross-supplier average — same plan skeleton: semi join (outer IN)
    over an aggregate fed by a semi join (inner IN) with a
    one-row-broadcast scalar cut. The scale-relative threshold keeps
    the key's selectivity stable at every sf (a fixed quantity constant
    goes all-or-nothing as data grows).

    Scale shape: the part-name filter cuts the dim FIRST and
    broadcast-semi-joins the fact (only matching lines aggregate); the
    per-supplier aggregate is map-side combined on l_suppkey; the
    scalar average folds O(suppliers) rows to one broadcast value; the
    outer IN is a hash semi join against the O(suppliers) qualifying
    set. No correlated re-scan anywhere — the 100 TB fact is read
    once. ORDER BY s_name is unique."""
    load(spark, sf_dir, "supplier").createOrReplaceTempView("q20_supplier")
    load(spark, sf_dir, "nation").createOrReplaceTempView("q20_nation")
    load(spark, sf_dir, "part").createOrReplaceTempView("q20_part")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("q20_lineitem")
    return spark.sql(
        f"""
        WITH sl AS (
          SELECT l_suppkey, SUM(l_quantity) AS qty
          FROM q20_lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM q20_part
                              WHERE p_name LIKE '{Q20_NAME_PREFIX}%')
          GROUP BY l_suppkey
        )
        SELECT s_name, n_nationkey AS nation, (ROUND((s_acctbal) * 100, 0) / 100.0) AS acctbal
        FROM q20_supplier, q20_nation
        WHERE s_suppkey IN (SELECT l_suppkey FROM sl
                            WHERE qty > (SELECT {Q20_HAVING_FACTOR} * AVG(qty)
                                         FROM sl))
          AND s_nationkey = n_nationkey
        ORDER BY s_name
        """
    )


Q15_START = "1996-01-01"
Q15_END = "1996-04-01"


@REG.add(
    "q_tpch_q15_shape",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             (CAST(((SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) - (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) % 100) // 100 AS DOUBLE) / 100.0)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{Q15_START}'
        AND l_shipdate < TIMESTAMP '{Q15_END}'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q_tpch_q15_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): suppliers whose quarterly revenue
    EQUALS the maximum quarterly revenue — the aggregate-of-an-aggregate
    scalar subquery (Q15's revenue view + MAX self-reference), a third
    decorrelation flavor beside Q17's correlated AVG and Q22's pushed
    scalar: the subquery aggregates the SAME derived relation the outer
    query consumes, so a naive plan computes the revenue view twice.

    Single-pass discipline: the revenue aggregate is materialized ONCE
    (localCheckpoint — the q_tpch_q17_shape rule: materialize a shared
    AGGREGATE consumed by divergent branches); the MAX folds those
    O(suppliers) rows into a 1-row broadcast and the winners join the
    supplier dim broadcast-side. Revenue is rounded to cents BEFORE the
    max/equality, so the tie semantics (all max-revenue suppliers
    return, per the real Q15) are engine-identical. At 100 TB: one
    pruned fact scan, one O(suppliers) frame, two broadcasts."""
    li = load(spark, sf_dir, "lineitem")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit(Q15_START).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(Q15_END).cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            units_to_currency(F.sum(exact_units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)), 4).alias("total_revenue")
        )
        .transform(materialize)  # feeds MAX and the winner join — one build
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(
            F.broadcast(supplier),
            F.col("supplier_no") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q2_TYPE = "PROMO"


@REG.add(
    "q_tpch_q2_shape",
    f"""
    WITH sl AS (
      SELECT l_partkey, l_suppkey, l_extendedprice
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_type = '{Q2_TYPE}')
    )
    SELECT l_partkey AS partkey, l_suppkey AS cheapest_supp,
           (ROUND((l_extendedprice) * 100, 0) / 100.0) AS price
    FROM sl l1
    WHERE l_extendedprice = (SELECT MIN(l2.l_extendedprice) FROM sl l2
                             WHERE l2.l_partkey = l1.l_partkey)
    ORDER BY partkey, cheapest_supp
    """,
)
def q_tpch_q2_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for every part of one
    type, the supplier(s) whose line price EQUALS that part's minimum —
    the correlated scalar-MIN subquery (Q2's min supplycost recast onto
    this schema, which has no partsupp). Completes the correlated-
    subquery battery: Q17 correlated AVG (inequality cut), Q21
    EXISTS/NOT EXISTS, Q4 outer-column residual, Q20 nested IN, Q15
    aggregate-of-aggregate — this is the equality-join-back flavor
    whose decorrelated form is the classic min-join (aggregate then
    equi-join on (key, min)).

    Single-pass discipline (the Q17 rule): the type slice is cut ONCE
    (broadcast semi-join against the filtered part dim — the type is a
    part attribute so the slice holds every line of each selected
    part) and localCheckpoint'd; the correlated MIN decorrelates into
    a per-part aggregate hash-joined back over THAT slice — zero
    parquet scans in the registered plan. The equality compares
    UNROUNDED stored values against their own MIN (no arithmetic), so
    tie groups are engine-identical; ties are all returned, per Q2."""
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_type") == Q2_TYPE)
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    sliced = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).drop("p_partkey").transform(materialize)
    sliced.createOrReplaceTempView("q2_slice")
    return spark.sql(
        """
        SELECT l_partkey AS partkey, l_suppkey AS cheapest_supp,
               (ROUND((l_extendedprice) * 100, 0) / 100.0) AS price
        FROM q2_slice l1
        WHERE l_extendedprice = (SELECT MIN(l2.l_extendedprice)
                                 FROM q2_slice l2
                                 WHERE l2.l_partkey = l1.l_partkey)
        ORDER BY partkey, cheapest_supp
        """
    )


Q13_EXCLUDED_PRIORITY = "1-URGENT"


@REG.add(
    "q_tpch_q13_shape",
    f"""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey
       AND o_orderpriority <> '{Q13_EXCLUDED_PRIORITY}'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_tpch_q13_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): how many
    customers placed exactly k qualifying orders, INCLUDING the
    zero-order customers — the classic optimizer stress Q13 is famous
    for: an OUTER join whose predicate lives in the JOIN CONDITION (in
    the WHERE it would silently turn the join inner and drop the
    zero-order bucket) feeding a DOUBLE aggregation (per-customer count,
    then the distribution of those counts). count(o_orderkey) not
    count(*): the unmatched-row NULL must count 0, not 1.

    Scale shape: one hash join on the customer key (the filter prunes
    the orders side BEFORE the join — pushed to its scan), first
    aggregate map-side combines on the SAME key the join just shuffled
    (no second exchange of fact rows — the join output is already
    custkey-clustered), second aggregate folds O(customers) rows to
    O(max order count). ORDER BY (custdist, c_count) both DESC is a
    total order."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("q13_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("q13_orders")
    return spark.sql(
        f"""
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM q13_customer LEFT OUTER JOIN q13_orders
            ON c_custkey = o_custkey
           AND o_orderpriority <> '{Q13_EXCLUDED_PRIORITY}'
          GROUP BY c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
        """
    )


Q16_EXCLUDED_TYPE = "PROMO"


@REG.add(
    "q_tpch_q16_shape",
    f"""
    SELECT p_brand, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part, lineitem
    WHERE p_partkey = l_partkey
      AND p_type <> '{Q16_EXCLUDED_TYPE}'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    LIMIT 50
    """,
)
def q_tpch_q16_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct supplier
    counts per (brand, size) for non-excluded part types, with a
    complained-about supplier blacklist as NOT IN (Q16's
    'complaints' predicate recast as negative account balance) — the
    combination Q22 doesn't cover: the null-aware anti join feeding a
    COUNT(DISTINCT) grouped on DIM attributes, where the distinct
    dedup (not the join) is the expensive stage.

    Scale shape: the blacklist is O(suppliers) → broadcast null-aware
    anti join at the fact scan; the part dim filter prunes before its
    broadcast join; COUNT DISTINCT plans as the two-phase partial
    dedup aggregate — the shuffle carries (brand, size, suppkey)
    triples already locally deduped, never raw lines. ORDER BY
    (cnt DESC, brand, size) is a total order so the LIMIT is
    deterministic."""
    load(spark, sf_dir, "part").createOrReplaceTempView("q16_part")
    load(spark, sf_dir, "supplier").createOrReplaceTempView("q16_supplier")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("q16_lineitem")
    return spark.sql(
        f"""
        SELECT p_brand, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM q16_part, q16_lineitem
        WHERE p_partkey = l_partkey
          AND p_type <> '{Q16_EXCLUDED_TYPE}'
          AND l_suppkey NOT IN (SELECT s_suppkey FROM q16_supplier
                                WHERE s_acctbal < 0)
        GROUP BY p_brand, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_size
        LIMIT 50
        """
    )


Q8_REGIONKEY = 0
Q8_SHARE_NATION = "NATION_3"


@REG.add(
    "q_tpch_q8_shape",
    f"""
    WITH vol AS (
      SELECT EXTRACT(year FROM o_orderdate) AS yr,
             CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0)
                  AS BIGINT) AS v,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE cn.n_regionkey = {Q8_REGIONKEY}
    )
    SELECT CAST(yr AS INT) AS yr,
           (ROUND((CAST(SUM(CASE WHEN supp_nation = '{Q8_SHARE_NATION}'
                          THEN v ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(v) AS DOUBLE)) * 1000000, 0) / 1000000.0) AS mkt_share,
           (CAST(((SUM(v) + CASE WHEN SUM(v) < 0 THEN -50 ELSE 50 END) - (SUM(v) + CASE WHEN SUM(v) < 0 THEN -50 ELSE 50 END) % 100) // 100 AS DOUBLE) / 100.0) AS total_vol
    FROM vol GROUP BY yr ORDER BY yr
    """,
)
def q_tpch_q8_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): one nation's share of
    the revenue supplied into one region's customer market, per order
    year — the DUAL-ROLE dimension join (nation joined TWICE under
    different roles: once filtering the customer side, once labeling
    the supplier side) plus the conditional-share aggregate, a plan
    shape none of the other TPC-H keys produce (Catalyst must keep the
    two nation scans' attributes apart through a 6-relation join).

    Scale shape: the region filter prunes the customer-side nation dim
    BEFORE its broadcast, which cascades — customers of other regions
    drop at the first dim join, so the fact's expensive
    orders⋈customer path carries only the selected region; all four
    dims broadcast; the CASE share folds in the same single aggregate
    as the denominator (one pass, no self-join of vol). Share =
    ratio of same-aggregate sums — round(6) after the division."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("q8_lineitem")
    load(spark, sf_dir, "orders").createOrReplaceTempView("q8_orders")
    load(spark, sf_dir, "customer").createOrReplaceTempView("q8_customer")
    load(spark, sf_dir, "supplier").createOrReplaceTempView("q8_supplier")
    load(spark, sf_dir, "nation").createOrReplaceTempView("q8_nation")
    shares = spark.sql(
        f"""
        WITH vol AS (
          SELECT year(o_orderdate) AS yr,
                 CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0)
                  AS BIGINT) AS v,
                 sn.n_name AS supp_nation
          FROM q8_lineitem
          JOIN q8_orders ON l_orderkey = o_orderkey
          JOIN q8_customer ON o_custkey = c_custkey
          JOIN q8_nation cn ON c_nationkey = cn.n_nationkey
          JOIN q8_supplier ON l_suppkey = s_suppkey
          JOIN q8_nation sn ON s_nationkey = sn.n_nationkey
          WHERE cn.n_regionkey = {Q8_REGIONKEY}
        )
        SELECT CAST(yr AS INT) AS yr,
               (ROUND((CAST(SUM(CASE WHEN supp_nation = '{Q8_SHARE_NATION}'
                              THEN v ELSE 0 END) AS DOUBLE)
                       / CAST(SUM(v) AS DOUBLE)) * 1000000, 0) / 1000000.0) AS mkt_share,
               (CAST(((SUM(v) + CASE WHEN SUM(v) < 0 THEN -50 ELSE 50 END) - (SUM(v) + CASE WHEN SUM(v) < 0 THEN -50 ELSE 50 END) % 100) div 100 AS DOUBLE) / 100.0) AS total_vol
        FROM vol GROUP BY yr
        """
    )
    return order_small(shares, "yr")


# ------------------------- round-14: TPC-H shape family completion ----
#
# The seven Q-shapes below close out the TPC-H family (Q1 is the
# flagship q_agg_group). Where the benchmark's schema exceeds the
# fixtures — there is no partsupp table, and lineitem carries no
# shipmode/commitdate/receiptdate — the shape keeps the QUERY STRUCTURE
# (the plan class Catalyst must handle) and substitutes available
# columns, documented per key. Reference parity target: the reference
# README's keyed-stream relational surface (README.md:54); these are
# the canonical analytic join/agg plans any engine claiming that
# surface must run.

Q7_NATION_A = "NATION_1"
Q7_NATION_B = "NATION_2"


@REG.add(
    "q_tpch_q6_shape",
    """
    SELECT (CAST(((SUM(CAST(ROUND((l_extendedprice * l_discount) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * l_discount) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) - (SUM(CAST(ROUND((l_extendedprice * l_discount) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * l_discount) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) % 100) // 100 AS DOUBLE) / 100.0) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): the pure
    filter-and-global-aggregate — no join at all, the plan whose entire
    cost is the scan, so it is the canary for predicate pushdown: all
    three range predicates must reach the parquet reader as
    PushedFilters and the read schema must be the 4 touched columns.

    Scale shape: at 100 TB this is ONE narrow pass, map-side partial
    aggregation, a single-row exchange. Nothing else is acceptable."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        units_to_currency(
            F.sum(exact_units(F.col("l_extendedprice") * F.col("l_discount"), 4)),
            4,
        ).alias("revenue"),
        F.count("*").cast("long").alias("n_lines"),
    )


@REG.add(
    "q_tpch_q7_shape",
    f"""
    WITH shipping AS (
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS INT) AS yr,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      WHERE ((sn.n_name = '{Q7_NATION_A}' AND cn.n_name = '{Q7_NATION_B}')
          OR (sn.n_name = '{Q7_NATION_B}' AND cn.n_name = '{Q7_NATION_A}'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
    )
    SELECT supp_nation, cust_nation, yr,
           (CAST(((SUM(CAST(ROUND((volume) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((volume) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) - (SUM(CAST(ROUND((volume) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((volume) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) % 100) // 100 AS DOUBLE) / 100.0) AS revenue
    FROM shipping GROUP BY supp_nation, cust_nation, yr
    ORDER BY supp_nation, cust_nation, yr
    """,
)
def q_tpch_q7_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade volume between
    two nations by ship year — the dual-role nation join (like Q8) with
    a DISJUNCTIVE cross-table pair predicate ((A,B) or (B,A)) that
    cannot be pushed to either dim alone, only to their conjunction
    after both joins.

    Scale shape: each nation-role dim broadcasts pre-filtered to the
    two named nations, which prunes supplier and customer to ~2/25 of
    their rows BEFORE the fact joins — the pair disjunction then runs
    on the tiny joined dims, not the fact. Output is
    2 nations x 2 years rows; the big shuffles are the two fact joins
    on their natural keys. supplier⋈nation stays a broadcast join, not
    a ``join_small``: both nation roles read the same filtered scan, so
    the customer side reuses the supplier side's nation broadcast
    (``ReusedExchange``), and taking it out of the supplier side only
    moves its job to the customer side (5 jobs at sf0.001, 7 at sf0.1,
    either way).

    The result is empty at sf0.001: none of its 10 suppliers is in
    either nation (13 of its 150 customers are), so the supplier side
    empties the join. sf0.01 and sf0.1 give 4 rows each (DuckDB), and
    ``tests/test_plans.py`` pins the sf0.01 result as non-empty."""
    two = [Q7_NATION_A, Q7_NATION_B]
    nation = load(spark, sf_dir, "nation").filter(F.col("n_name").isin(two))
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    supplier = load(spark, sf_dir, "supplier").join(
        F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key")
    )
    customer = load(spark, sf_dir, "customer").join(
        F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load(spark, sf_dir, "orders")
    pair = (
        (F.col("supp_nation") == Q7_NATION_A)
        & (F.col("cust_nation") == Q7_NATION_B)
    ) | (
        (F.col("supp_nation") == Q7_NATION_B)
        & (F.col("cust_nation") == Q7_NATION_A)
    )
    return (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("yr"),
        )
        .agg(
            units_to_currency(F.sum(exact_units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)), 4).alias("revenue")
        )
        .transform(order_small, "supp_nation", "cust_nation", "yr")
    )


@REG.add(
    "q_tpch_q9_shape",
    """
    WITH profit AS (
      SELECT n_name AS nation,
             CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
             l_extendedprice * (1 - l_discount)
               - 0.1 * (p_retailprice * l_quantity) AS amount
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN orders   ON o_orderkey = l_orderkey
      WHERE p_name LIKE '%red%'
    )
    SELECT nation, yr,
           (CAST(((SUM(CAST(ROUND((amount) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((amount) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) - (SUM(CAST(ROUND((amount) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((amount) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) % 100) // 100 AS DOUBLE) / 100.0) AS sum_profit
    FROM profit GROUP BY nation, yr ORDER BY nation, yr DESC
    """,
)
def q_tpch_q9_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit per supplier nation
    per order year over parts matching a name pattern. The fixtures
    ship no partsupp table, so ps_supplycost*l_quantity is substituted
    by a fixed cost fraction of list price, 0.1*(p_retailprice *
    l_quantity) — the SHAPE (5-relation star join, LIKE-filtered part
    dim, two-level group) is what the key pins, not the benchmark's
    monetary answer.

    Scale shape: the LIKE filter prunes part before its join (predicate
    can't push to parquet as a range but runs in the scan's codegen
    stage); supplier⋈nation runs in one task (``join_small``) and
    broadcasts whole, one job where a nested broadcast costs two; the
    two fact
    joins (part on
    l_partkey, orders on l_orderkey) are the shuffles. Catalyst's AQE
    picks broadcast for the filtered part side when it fits — at 100 TB
    with a billion-row part table it degrades to a shuffle join on
    partkey, which is the right plan there."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    sn = join_small(
        supplier, nation, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "n_name")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.1 * (
        F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("yr"),
            # amount is exact at 4 decimals (price*(1-disc) 4dp;
            # 0.1*(retail*qty) 2dp) -> exact 1e-4-unit BIGINT sum (r15
            # sf1 differential: 5 nation-years drifted one cent under
            # the double sum)
            exact_units(amount, 4).alias("amount_u4"),
        )
        .groupBy("nation", "yr")
        .agg(units_to_currency(F.sum("amount_u4"), 4).alias("sum_profit"))
        .transform(order_small, "nation", F.desc("yr"))
    )


Q11_NATION = "NATION_3"
# Threshold = this multiple of the AVERAGE per-part value. TPC-H's own
# Q11 scales its fraction by 1/SF because a fixed fraction of the total
# degenerates as the part universe grows (the r14 sf1 probe measured
# exactly that: 364 rows at sf0.01, 0 rows at sf0.1 with a fixed 0.001
# cut). A multiple-of-average cut is the scale-invariant restatement of
# the same intent ("parts well above their weight") and keeps the key
# non-degenerate at every sf.
Q11_AVG_MULTIPLE = 2.0


@REG.add(
    "q_tpch_q11_shape",
    f"""
    WITH value_by_part AS (
      SELECT l_partkey AS partkey,
             SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100, 0)
                      AS BIGINT)) AS cents
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = '{Q11_NATION}'
      GROUP BY l_partkey
    )
    SELECT partkey, cents / 100.0 AS val
    FROM value_by_part
    WHERE cents > CAST(ROUND({Q11_AVG_MULTIPLE} * (SELECT SUM(cents)
                                                          / COUNT(*)
                                                   FROM value_by_part),
                             0) AS BIGINT)
    ORDER BY val DESC, partkey
    """,
)
def q_tpch_q11_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): parts whose
    traded value through one nation's suppliers exceeds a fixed
    multiple of that nation's AVERAGE per-part value — the
    HAVING-against-a-scalar-subquery-over-the-same-aggregate plan. No
    partsupp table in the fixtures, so value is lineitem revenue
    instead of ps_supplycost*ps_availqty, and the benchmark's
    1/SF-scaled fraction-of-total cut is restated as a multiple of the
    average (scale-invariant — a fixed fraction emptied the result at
    sf0.1, measured in the r14 probe); the plan class (aggregate reused
    as both rows and threshold) is identical.

    Scale shape: ONE grouped aggregate (localCheckpoint'd so the rows
    and the threshold derive from the same materialization instead of
    re-running the 3-table join twice); supplier⋈nation runs in one
    task (``join_small``) and broadcasts whole, one job where a nested
    broadcast costs two; the total re-aggregates the
    O(parts) frame; the threshold joins back as a 1-row broadcast
    cross. Arithmetic is integer-CENTS end to end (per-line revenue
    quantized before the sum, BIGINT-exact under any partitioning, see
    the in-body comment) so parallel-sum drift can neither flip a
    boundary row's membership nor move a hash cell — the round(2)
    double form was caught one cent off by the first sf0.1 oracle
    sweep. At 100 TB: fact shuffle once on partkey, everything after
    is parts-sized."""
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation").filter(
        F.col("n_name") == Q11_NATION
    )
    sn = join_small(
        supplier, nation, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    # Order-free arithmetic: each line's revenue quantizes to integer
    # CENTS before the sum (the two-op double product is bit-identical
    # in both engines, so the per-term round is too), and the sum is
    # BIGINT-exact under any partitioning. The first sf0.1 oracle sweep
    # caught the SUM(double) form one cent off at one part (the
    # parallel add order landed within an ulp of a half-cent) — and in
    # THIS key a cent of drift can flip threshold membership, not just
    # a hash cell, so the drift budget other revenue keys tolerate is
    # not acceptable here.
    cents = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100, 0
    ).cast("long")
    by_part = (
        li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(cents).alias("cents"))
        .transform(materialize)
    )
    thresh = by_part.agg(
        F.round(
            F.lit(Q11_AVG_MULTIPLE) * (F.sum("cents") / F.count("*")), 0
        )
        .cast("long")
        .alias("cut_cents")
    )
    return (
        by_part.crossJoin(F.broadcast(thresh))
        .filter(F.col("cents") > F.col("cut_cents"))
        .select("partkey", (F.col("cents") / 100.0).alias("val"))
        .orderBy(F.desc("val"), "partkey")
    )


@REG.add(
    "q_tpch_q12_shape",
    """
    SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                THEN 'late' ELSE 'on-time' END AS ship_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1 ORDER BY 1
    """,
)
def q_tpch_q12_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority): line counts split by
    order priority inside a derived shipping bucket. The fixtures carry
    no l_shipmode/commitdate/receiptdate, so the bucket is the ship
    LATENESS (shipped >90 days after order) — same plan class: fact-fact
    join, grouping on a computed CASE column, conditional counts.

    Scale shape: the date range pushes to the lineitem scan; one
    shuffle join on orderkey; the aggregate is 2 output rows with
    map-side combine. Integer counts — no float drift anywhere."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    bucket = F.when(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"),
        F.lit("late"),
    ).otherwise(F.lit("on-time"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .transform(order_small, "ship_bucket")
    )


@REG.add(
    "q_tpch_q14_shape",
    """
    SELECT (ROUND((100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                             THEN CAST(ROUND((l_extendedprice * (1 - l_discount))
                                             * 10000, 0) AS BIGINT)
                             ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount))
                                       * 10000, 0) AS BIGINT)) AS DOUBLE))
                  * 10000, 0) / 10000.0)
             AS promo_revenue_pct,
           (CAST(((SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) - (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) % 100) // 100 AS DOUBLE) / 100.0)
             AS total_revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def q_tpch_q14_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): the share of one month's
    revenue carried by promo-typed parts — the conditional-numerator /
    same-aggregate-denominator ratio (one pass, no self-join), Q8's
    share pattern but over a dim attribute instead of a dim role.

    Scale shape: the month filter prunes lineitem at the scan (at
    production scale, a partition-pruned month); the part join carries
    only (p_partkey, p_type); both CASE sum and total fold in ONE
    aggregate. Arithmetic: exact 1e-4-dollar BIGINT units per line
    (exact_units), so numerator, denominator, and total are exact
    integers under any partitioning — zero summation drift (r15)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    # exact 1e-4-dollar units per line (r15 class hardening): the promo
    # share becomes a ratio of two EXACT integers — no summation drift
    # in numerator or denominator at any group size
    rev_u4 = exact_units(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            round_to(100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev_u4).otherwise(F.lit(0).cast("long"))
                ).cast("double")
                / F.sum(rev_u4).cast("double"), 4).alias("promo_revenue_pct"),
            units_to_currency(F.sum(rev_u4), 4).alias("total_revenue"),
        )
    )


@REG.add(
    "q_tpch_q19_shape",
    """
    SELECT (CAST(((SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) - (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + CASE WHEN SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) < 0 THEN -50 ELSE 50 END) % 100) // 100 AS DOUBLE) / 100.0) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): the three-branch
    DISJUNCTIVE join predicate mixing dim attributes (brand, size) with
    fact attributes (quantity) — the classic test of OR-predicate
    handling: the optimizer must still run ONE equi-join on partkey and
    evaluate the disjunction as a post-join filter (or derive the
    per-side implied filters), never a cartesian. The fixtures lack
    l_shipinstruct/l_shipmode; the container/instruct legs are dropped,
    keeping brand x size x quantity branches.

    Scale shape: the implied dim filter (brand IN the 3 named, size
    1-15) prunes part BEFORE the broadcast; the implied fact filter
    (quantity 1-30) pushes to the lineitem scan; the exact disjunction
    then runs post-join in codegen. One broadcast join, one 1-row
    aggregate — no shuffle of the fact at all."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    )
    part = load(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= 15)
    )
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(branch)
        .agg(
            units_to_currency(F.sum(exact_units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)), 4).alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )
