"""ML feature-preparation operators: the transformations a training
pipeline applies between curation and the trainer — smoothed target
encoding of categoricals and global feature scaling (z-score + min-max)
— expressed as aggregate-then-broadcast scan projections so the fact
table is never windowed or re-shuffled.

Reference parity note: the reference engine (``WindowPublisher.java``)
has no feature surface; north-star scope from BASELINE.json (the
"large-scale training-data pipeline" tier, alongside llm/classifier's
trainer which consumes exactly these encodings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.contract import Registry, round_to
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()

TARGET_SMOOTHING = 100.0  # pseudo-observations of the global prior
# The encoding ledger's layout as ``encoding_ingest_sink`` writes it;
# ``current_encoding`` reads with it, so the read infers nothing.
LEDGER_SCHEMA = "category string, n long, s double, batch_id int"


@REG.add(
    "q_target_encoding",
    f"""
    WITH per_cust AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(ROUND((o_totalprice) * 100, 0) AS BIGINT)) AS s_u2
      FROM orders GROUP BY o_custkey
    ),
    seg AS (
      SELECT c_mktsegment,
             CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_orders,
             CAST(SUM(s_u2) AS BIGINT) AS s_u2
      FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
      GROUP BY c_mktsegment
    ),
    prior AS (
      SELECT CAST(SUM(s_u2) AS DOUBLE) / 100.0 / SUM(n_orders) AS mu FROM seg
    )
    SELECT c_mktsegment,
           n_orders,
           (ROUND((CAST(s_u2 AS DOUBLE) / 100.0 / n_orders) * 1000000, 0) / 1000000.0)
             AS seg_mean,
           (ROUND(((COALESCE(CAST(s_u2 AS DOUBLE), 0.0) / 100.0 + {TARGET_SMOOTHING} * mu)
                 / (n_orders + {TARGET_SMOOTHING})) * 1000000, 0) / 1000000.0) AS encoded
    FROM seg, prior
    """,
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean target encoding of ``c_mktsegment`` against order
    value: encoded(seg) = (Σ target + m·prior) / (n + m) with
    m = 100.0 pseudo-observations of the global mean — the
    leakage-resistant categorical encoding (empirical-Bayes shrinkage:
    rare categories collapse to the prior, large ones keep their mean)
    every tabular feature pipeline ships. Segments with zero orders
    encode exactly to the prior rather than NULL.

    Scale shape: the fact collapses FIRST to per-customer (n, Σ)
    partials — one map-side-combined shuffle on o_custkey, the fact's
    natural key — then joins the customer dim and folds to O(segments);
    the prior is a second fold over those O(segments) rows (no second
    fact pass) broadcast back via a 1-row cross join. Sum-of-doubles
    determinism: per-segment sums aggregate ≤ |customers| partials;
    the round(6) absorbs the ulp-level association differences per the
    contract rules."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    # integer-cent partials end to end (r15 drift hardening): per-segment
    # sums are exact, so mean/prior/shrinkage see identical inputs in
    # both engines; the division chains mirror the oracle op-for-op
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("s_u2"),
    )
    seg = (
        customer.join(
            per_cust, customer.c_custkey == per_cust.o_custkey, "left"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_orders"),
            F.sum("s_u2").alias("s_u2"),
        )
    )
    prior = seg.agg(
        (F.sum("s_u2").cast("double") / 100.0 / F.sum("n_orders")).alias("mu")
    )
    m = F.lit(TARGET_SMOOTHING)
    return seg.crossJoin(F.broadcast(prior)).select(
        "c_mktsegment",
        "n_orders",
        round_to(F.col("s_u2").cast("double") / 100.0 / F.col("n_orders"), 6).alias("seg_mean"),
        round_to((F.coalesce(F.col("s_u2").cast("double"), F.lit(0.0)) / 100.0 + m * F.col("mu"))
            / (F.col("n_orders") + m), 6).alias("encoded"),
    )


FEATURE_COLS = ("l_quantity", "l_extendedprice", "l_discount")


@REG.add(
    "q_feature_scale",
    """
    WITH stats AS (
      SELECT """
    + ", ".join(
        f"AVG({c}) AS mu_{c}, STDDEV_POP({c}) AS sd_{c}, "
        f"MIN({c}) AS lo_{c}, MAX({c}) AS hi_{c}"
        for c in FEATURE_COLS
    )
    + """
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
    """
    + ", ".join(
        f"(ROUND((AVG(({c} - mu_{c}) / sd_{c})) * 1000000, 0) / 1000000.0) AS z_mean_{c}, "
        f"(ROUND((MIN(({c} - lo_{c}) / (hi_{c} - lo_{c}))) * 1000000, 0) / 1000000.0) AS mm_min_{c}, "
        f"(ROUND((MAX(({c} - lo_{c}) / (hi_{c} - lo_{c}))) * 1000000, 0) / 1000000.0) AS mm_max_{c}"
        for c in FEATURE_COLS
    )
    + """
    FROM lineitem, stats
    GROUP BY l_returnflag
    """,
)
def q_feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global feature scaling of the lineitem numerics — z-score
    ((x−μ)/σ) and min-max ((x−lo)/(hi−lo)) — verified through a
    per-returnflag digest of the SCALED columns (slice z-means shift
    off 0 exactly as the slice differs from the population; min-max
    stays inside [0,1]), so the contract checks the whole per-row
    transformation without shipping the per-row frame.

    Scale shape: the normalization constants are ONE map-side-combined
    global aggregate (O(1) rows) cross-joined back onto the scan as a
    broadcast — the scaled columns are pure scan-level expressions
    (whole-stage codegen, no window, no shuffle of scaled rows) — and
    the digest is a second O(flags) aggregate. At 100 TB: two fact
    passes, both narrow projections, zero wide shuffles. Per-row z/mm
    values are single IEEE ops (bit-stable); the digest means round(6)
    per the sum-association rule."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", *FEATURE_COLS
    )
    stats = li.agg(
        *[
            agg
            for c in FEATURE_COLS
            for agg in (
                F.avg(c).alias(f"mu_{c}"),
                F.stddev_pop(c).alias(f"sd_{c}"),
                F.min(c).alias(f"lo_{c}"),
                F.max(c).alias(f"hi_{c}"),
            )
        ]
    )
    scaled = li.crossJoin(F.broadcast(stats))
    digest_aggs = [F.count("*").cast("long").alias("n")]
    for c in FEATURE_COLS:
        z = (F.col(c) - F.col(f"mu_{c}")) / F.col(f"sd_{c}")
        mm = (F.col(c) - F.col(f"lo_{c}")) / (
            F.col(f"hi_{c}") - F.col(f"lo_{c}")
        )
        digest_aggs += [
            round_to(F.avg(z), 6).alias(f"z_mean_{c}"),
            round_to(F.min(mm), 6).alias(f"mm_min_{c}"),
            round_to(F.max(mm), 6).alias(f"mm_max_{c}"),
        ]
    return scaled.groupBy("l_returnflag").agg(*digest_aggs)


ROBUST_OUT_Z = 3.0  # |robust z| beyond this counts as an outlier


@REG.add(
    "q_robust_scale",
    """
    WITH stats AS (
      SELECT """
    + ", ".join(
        f"quantile_cont({c}, 0.5) AS med_{c}, "
        f"quantile_cont({c}, 0.75) - quantile_cont({c}, 0.25) AS iqr_{c}"
        for c in FEATURE_COLS
    )
    + """
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
    """
    + ", ".join(
        f"(ROUND((AVG(({c} - med_{c}) / iqr_{c})) * 1000000, 0) / 1000000.0) AS r_mean_{c}, "
        f"CAST(sum(CASE WHEN ABS(({c} - med_{c}) / iqr_{c}) > 3.0"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS n_out_{c}"
        for c in FEATURE_COLS
    )
    + """
    FROM lineitem, stats
    GROUP BY l_returnflag
    """,
)
def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust scaling of the lineitem numerics — (x − median) / IQR —
    the scaler a pipeline reaches for when q_feature_scale's mean/σ
    is dragged by heavy tails, digest-verified per returnflag (robust-z
    slice means plus the count of |z| > 3.0 outliers — an
    integer, so that column is exact, not rounded). Spark's exact
    ``percentile`` and DuckDB's ``quantile_cont`` share the linear
    interpolation convention, making median/IQR bit-identical across
    engines (verified) and every per-row comparison deterministic.

    Scale shape: same aggregate-then-broadcast skeleton as
    q_feature_scale, except the constants aggregate is an EXACT
    percentile — fine to O(memory) inputs; at 100 TB swap in
    ``approx_percentile`` (the q_agg_quantile_approx twin) or the
    mergeable KLL sketch (q_quantile_rollup_kll) for the constants and
    keep the identical scan projection."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", *FEATURE_COLS
    )
    # ONE percentile buffer per column (the array form): three separate
    # percentile() aggregates each build their own sorted value buffer —
    # measured 5.1 s vs 2.4 s at sf0.1 for the shared-buffer form
    qarr = {
        c: F.expr(f"percentile({c}, array(0.25, 0.5, 0.75))")
        for c in FEATURE_COLS
    }
    stats = li.agg(
        *[
            agg
            for c in FEATURE_COLS
            for agg in (
                qarr[c].getItem(1).alias(f"med_{c}"),
                (qarr[c].getItem(2) - qarr[c].getItem(0)).alias(f"iqr_{c}"),
            )
        ]
    )
    scaled = li.crossJoin(F.broadcast(stats))
    aggs = [F.count("*").cast("long").alias("n")]
    for c in FEATURE_COLS:
        rz = (F.col(c) - F.col(f"med_{c}")) / F.col(f"iqr_{c}")
        aggs += [
            round_to(F.avg(rz), 6).alias(f"r_mean_{c}"),
            F.sum(F.when(F.abs(rz) > ROBUST_OUT_Z, 1).otherwise(0))
            .cast("long")
            .alias(f"n_out_{c}"),
        ]
    return scaled.groupBy("l_returnflag").agg(*aggs)


OOF_FOLDS = 5


@REG.add(
    "q_target_encoding_oof",
    f"""
    WITH per AS (
      SELECT c_mktsegment,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % {OOF_FOLDS} AS fold,
             CAST(count(*) AS BIGINT) AS n_f,
             SUM(CAST(ROUND((o_totalprice) * 100, 0) AS BIGINT)) AS s_f
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    w AS (
      SELECT c_mktsegment, fold, n_f, s_f,
             SUM(n_f) OVER (PARTITION BY c_mktsegment) AS n_seg,
             SUM(s_f) OVER (PARTITION BY c_mktsegment) AS s_seg,
             SUM(n_f) OVER (PARTITION BY fold) AS n_fold,
             SUM(s_f) OVER (PARTITION BY fold) AS s_fold,
             SUM(n_f) OVER () AS n_all,
             SUM(s_f) OVER () AS s_all
      FROM per
    )
    SELECT c_mktsegment, CAST(fold AS INT) AS fold,
           CAST(n_seg - n_f AS BIGINT) AS n_oof,
           (ROUND(((CAST(s_seg - s_f AS DOUBLE) / 100.0
                  + {TARGET_SMOOTHING} * ((CAST(s_all - s_fold AS DOUBLE) / 100.0)
                    / (n_all - n_fold)))
                 / ((n_seg - n_f) + {TARGET_SMOOTHING})) * 1000000, 0) / 1000000.0) AS encoded_oof
    FROM w
    """,
)
def q_target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-FOLD target encoding — the leakage-PROOF form of
    q_target_encoding: each (segment, fold) cell is encoded from the
    OTHER 4 folds only (segment totals minus the cell's
    own fold; the shrinkage prior is likewise the out-of-fold global
    mean), so a row's own target never leaks into its own feature —
    the k-fold trick every gradient-boosting pipeline applies to mean
    encodings. Folds are md5(o_orderkey) % 5 (the RNG-free
    assignment device). Only observed (segment, fold) cells are
    emitted.

    Scale shape: ONE fact-side map-side-combined aggregate to the
    O(segments × folds) cell frame; every total (segment, fold,
    global) is a window over THAT tiny frame — the 100 TB fact is
    scanned once and never re-joined. Leave-one-out arithmetic is
    subtraction of already-reduced doubles; round(6) per the contract
    sum rule."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    fold = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % OOF_FOLDS
    )
    per = (
        orders.join(
            customer, orders.o_custkey == customer.c_custkey
        )
        .withColumn("fold", fold)
        .groupBy("c_mktsegment", "fold")
        .agg(
            F.count("*").cast("long").alias("n_f"),
            # exact integer cents (r15): window totals below are then
            # BIGINT-exact, so leave-one-out subtraction is exact too
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("s_f"),
        )
    )
    w_seg = Window.partitionBy("c_mktsegment")
    w_fold = Window.partitionBy("fold")
    w_all = Window.partitionBy()
    m = F.lit(TARGET_SMOOTHING)
    prior_oof = (
        (F.sum("s_f").over(w_all) - F.sum("s_f").over(w_fold)).cast("double")
        / 100.0
    ) / (F.sum("n_f").over(w_all) - F.sum("n_f").over(w_fold))
    enc = (
        (F.sum("s_f").over(w_seg) - F.col("s_f")).cast("double") / 100.0
        + m * prior_oof
    ) / ((F.sum("n_f").over(w_seg) - F.col("n_f")) + m)
    return per.select(
        "c_mktsegment",
        F.col("fold").cast("int").alias("fold"),
        (F.sum("n_f").over(w_seg) - F.col("n_f"))
        .cast("long")
        .alias("n_oof"),
        round_to(enc, 6).alias("encoded_oof"),
    )


def encoding_ingest_sink(spark: SparkSession, ledger_dir: str):
    """Continuous target encoding as a ``foreachBatch`` sink — the
    streaming twin of ``q_target_encoding`` (the feature tier's entry
    in the everything-has-a-streaming-twin story: indexes, quantiles,
    smoothers, and now encodings). Each micro-batch of (category,
    target) rows collapses to per-category (n, Σ) sufficient-statistic
    partials that land in the ledger's own ``batch_id=N`` partition as
    a dynamic-partition OVERWRITE — crash-replay re-runs the batch and
    rewrites IDENTICAL partials (the aggregate is a pure function of
    the batch), so the sink is exactly-once without reading the ledger
    at all: sufficient statistics compose additively across batches,
    which is the whole reason encodings stream this cheaply.

    Scale posture: the shuffle per batch is one map-side-combined
    O(categories) aggregate; the ledger grows one KiB-scale partition
    per batch and ``current_encoding`` folds it lazily at read time —
    the serving join never touches raw events."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        category = F.col("category").cast("string").alias("category")
        agg = batch_df.groupBy(category).agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("target").cast("double")).alias("s"),
        )
        (
            agg.withColumn("batch_id", F.lit(int(batch_id)))
            .repartition(1)
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(ledger_dir)
        )

    return write


def current_encoding(
    spark: SparkSession,
    ledger_dir: str,
    smoothing: float = TARGET_SMOOTHING,
) -> DataFrame:
    """The encoding SERVED from the streaming ledger: fold every
    batch's per-category partials to totals, compute the global prior
    from the same O(categories) frame, and emit the identical
    (category, n, seg_mean, encoded) formula as ``q_target_encoding``
    — so a batch recompute and the streamed ledger agree exactly
    (pytest-pinned). The ledger is read with the sink's
    ``LEDGER_SCHEMA``: no schema-inference job."""
    ledger = spark.read.schema(LEDGER_SCHEMA).parquet(ledger_dir)
    seg = ledger.groupBy("category").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").alias("s"),
    )
    prior = seg.agg((F.sum("s") / F.sum("n")).alias("mu"))
    m = F.lit(smoothing)
    return seg.crossJoin(F.broadcast(prior)).select(
        "category",
        "n",
        round_to(F.col("s") / F.col("n"), 6).alias("seg_mean"),
        round_to((F.coalesce(F.col("s"), F.lit(0.0)) + m * F.col("mu"))
            / (F.col("n") + m), 6).alias("encoded"),
    )
