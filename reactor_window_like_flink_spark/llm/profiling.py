"""Dataset profiling operators: per-column quality stats and fixed-width
value histograms — the "look at your data before you train on it" passes
of a large-scale pipeline (null-rate drift, cardinality explosions,
value-distribution shifts between crawl snapshots).

Scale shape: both operators are single-pass aggregations whose outputs are
O(columns) / O(buckets) rows regardless of input size. ``profile_columns``
computes every per-column stat in ONE aggregate (Spark plans the multiple
count-distincts via expand — ~(n_cols+1)× the scan rows through a
map-side-combined hash aggregate, never a per-column rescan); the wide
1-row result is then unpivoted driver-free with ``stack``. At 100 TB the
exact count-distinct expand is the oracle-exact form; the production swap
is ``approx_count_distinct`` (HLL, one pass, no expand), which drops the
expand factor entirely and is noted per-stat below.

Reference parity note: the reference engine (``WindowPublisher.java``) has
no profiling surface; north-star scope from BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.contract import Registry, round_to
from reactor_window_like_flink_spark.functions.materialize import materialize
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()

# Histogram contract: fixed bounds keep the pass single-scan (a data-driven
# min/max would add a tiny 1-row pre-pass; fixed bounds are what a
# production pipeline pins in config so histograms compare across runs).
HIST_LO = 0.0
HIST_WIDTH = 5_000.0
HIST_BUCKETS = 22  # covers l_extendedprice's [901, 104998] domain


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-format per-column profile: (column, n_rows, n_nulls,
    n_distinct, min_val, max_val) with min/max cast to string so the
    schema is uniform across column types.

    One wide aggregate (4 stats x n_cols, single scan) unpivoted with
    ``stack`` — no driver-side loop over columns, no per-column job."""
    aggs = [F.count("*").alias("_n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nn_{c}"),
            F.countDistinct(c).alias(f"_nd_{c}"),
            F.min(c).cast("string").alias(f"_mn_{c}"),
            F.max(c).cast("string").alias(f"_mx_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _nn_{c}, _nd_{c}, _mn_{c}, _mx_{c}" for c in cols
    )
    return wide.select(
        F.col("_n").cast("long").alias("n_rows"),
        F.expr(
            f"stack({len(cols)}, {stack_args})"
            " AS (column, n_nulls, n_distinct, min_val, max_val)"
        ),
    ).select(
        "column",
        "n_rows",
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_val",
        "max_val",
    )


@REG.add(
    "q_profile_stats",
    """
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM documents)
    SELECT 'lang' AS "column", n.n_rows,
           CAST(count(*) FILTER (lang IS NULL) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_distinct,
           CAST(min(lang) AS VARCHAR) AS min_val,
           CAST(max(lang) AS VARCHAR) AS max_val
    FROM documents, n GROUP BY n.n_rows
    UNION ALL
    SELECT 'source', n.n_rows,
           CAST(count(*) FILTER (source IS NULL) AS BIGINT),
           CAST(count(DISTINCT source) AS BIGINT),
           CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
    FROM documents, n GROUP BY n.n_rows
    UNION ALL
    SELECT 'n_chars', n.n_rows,
           CAST(count(*) FILTER (n_chars IS NULL) AS BIGINT),
           CAST(count(DISTINCT n_chars) AS BIGINT),
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
    FROM documents, n GROUP BY n.n_rows
    """,
)
def q_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-quality profile of ``documents`` (lang, source, n_chars):
    null counts, exact distinct cardinality, min/max — the pre-training
    sanity pass. Production swap at 100 TB: ``approx_count_distinct``
    instead of exact (drops the expand; documented in the module doc)."""
    docs = load(spark, sf_dir, "documents")
    return profile_columns(docs, ["lang", "source", "n_chars"])


def histogram(df: DataFrame, col: str, lo: float, width: float, n: int) -> DataFrame:
    """Fixed-width value histogram: one map-side-combined aggregate to
    O(n) rows. Out-of-range values clamp into the edge buckets so mass is
    conserved (a production run alerts on edge-bucket growth)."""
    x = F.col(col).cast("double")
    bucket = F.greatest(
        F.lit(0),
        F.least(F.lit(n - 1), F.floor((x - F.lit(lo)) / F.lit(width)).cast("int")),
    )
    return (
        df.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            # exact integer-cent sum (r15 drift hardening): the fixture's
            # monetary/metric columns are 2-decimal exact, so the bucket
            # sums are exact under any partitioning
            (F.round(F.sum(F.round(x * 100, 0).cast("long"))
                     .cast("double"), 0) / 100.0).alias("sum_val"),
        )
        .select(
            "bucket",
            round_to(F.lit(lo) + F.col("bucket") * F.lit(width), 2).alias("bucket_lo"),
            "n_rows",
            "sum_val",
        )
    )


@REG.add(
    "q_histogram",
    f"""
    SELECT bucket,
           (ROUND(({HIST_LO} + bucket * {HIST_WIDTH}) * 100, 0) / 100.0) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_rows,
           (ROUND(CAST(sum(CAST(ROUND((CAST(l_extendedprice AS DOUBLE)) * 100, 0)
                                AS BIGINT)) AS DOUBLE), 0) / 100.0) AS sum_val
    FROM (
      SELECT l_extendedprice,
             GREATEST(0, LEAST({HIST_BUCKETS - 1},
               CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - {HIST_LO})
                          / {HIST_WIDTH}) AS INT))) AS bucket
      FROM lineitem
    ) GROUP BY bucket
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """22-bucket fixed-width histogram of ``l_extendedprice`` — the
    distribution-drift monitor; single aggregate, 22-row output at any
    scale."""
    li = load(spark, sf_dir, "lineitem")
    return histogram(li, "l_extendedprice", HIST_LO, HIST_WIDTH, HIST_BUCKETS)


OUTLIER_Z = 2.5  # |z| at/above this flags the row


def zscore_outliers(df: DataFrame, key: str, val: str) -> DataFrame:
    """Rows whose ``val`` deviates from their group's mean by more than
    ``OUTLIER_Z`` sample standard deviations — the statistical
    quality-filter pass (drop corrupt metric rows before training).

    Two-step shape: a tiny per-group (mean, stddev) aggregate — O(groups)
    rows, map-side combined — broadcast-joined back onto the scan, then a
    pure per-row predicate. The fact side never shuffles; at 100 TB this
    is one narrow pass plus an O(groups) broadcast."""
    stats = df.groupBy(key).agg(
        F.avg(val).alias("_m"), F.stddev_samp(val).alias("_sd")
    )
    # zero-variance groups have no outliers by definition; dropping them
    # here also keeps the division ANSI-safe (x/0 raises under ANSI mode)
    stats = stats.filter(F.col("_sd") > 0)
    z = (F.col(val) - F.col("_m")) / F.col("_sd")
    return (
        df.join(F.broadcast(stats), key)
        .filter(F.abs(z) > OUTLIER_Z)
        .select(
            "event_id",
            key,
            val,
            round_to(z, 3).alias("z"),
        )
    )


@REG.add(
    "q_outliers",
    f"""
    WITH s AS (
      SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd
      FROM events GROUP BY event_type
      HAVING stddev_samp(value) > 0
    )
    SELECT e.event_id, e.event_type, e.value,
           (ROUND(((e.value - s.m) / s.sd) * 1000, 0) / 1000.0) AS z
    FROM events e JOIN s USING (event_type)
    WHERE abs((e.value - s.m) / s.sd) > {OUTLIER_Z}
    """,
)
def q_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers over ``events.value`` (see
    ``zscore_outliers``)."""
    return zscore_outliers(load(spark, sf_dir, "events"), "event_type", "value")


# Robust (MAD) outlier contract: the Iglewicz-Hoaglin modified z-score —
# 0.6745 * (x - median) / MAD — flags at the standard 3.5 cutoff. Unlike
# the mean/stddev z-score above, one corrupt heavy row cannot drag the
# center/scale estimate and mask itself (50% breakdown point vs 0%).
MAD_SCALE = 0.6745
MAD_CUTOFF = 3.5


@REG.add(
    "q_anomaly_mad",
    f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type
      HAVING quantile_cont(abs(e.value - m.med), 0.5) > 0
    )
    SELECT e.event_id, e.event_type, e.value,
           (ROUND(({MAD_SCALE} * (e.value - m.med) / d.mad) * 1000, 0) / 1000.0) AS mz
    FROM events e
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    WHERE abs({MAD_SCALE} * (e.value - m.med) / d.mad) > {MAD_CUTOFF}
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection via the MAD modified z-score
    (Iglewicz & Hoaglin 1993): |0.6745*(x - median)/MAD| > 3.5
    over ``events.value`` per event_type — the quality filter that stays
    calibrated even when the contamination itself is extreme.

    Scale shape: two tiny O(groups) aggregates (median, then MAD of
    absolute deviations) each broadcast back onto the scan; the fact side
    never shuffles. Exact ``percentile`` keeps the oracle bit-matched; the
    100 TB swap is ``percentile_approx`` (mergeable sketch, no per-group
    sort), same as q_agg_quantile. Zero-MAD groups (>50% of rows at one
    value) are dropped — no deviation is measurable there and the division
    stays ANSI-safe."""
    events = load(spark, sf_dir, "events")
    med = (
        events.groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("med"))
        # broadcast into the MAD aggregate and the final filter
        .transform(materialize)
    )
    with_med = events.join(F.broadcast(med), "event_type")
    mad = (
        with_med.groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
        .filter(F.col("mad") > 0)
    )
    mz = F.lit(MAD_SCALE) * (F.col("value") - F.col("med")) / F.col("mad")
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .filter(F.abs(mz) > MAD_CUTOFF)
        .select(
            "event_id",
            "event_type",
            "value",
            round_to(mz, 3).alias("mz"),
        )
    )


# Numeric-column correlation battery for the fact table. The +0.0 after
# rounding normalizes IEEE -0.0 (a near-zero correlation can round to
# negative zero in one engine and positive zero in the other).
CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@REG.add(
    "q_corr_matrix",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{x}' AS col_x, '{y}' AS col_y,
           (ROUND((corr({x}, {y})) * 10000, 0) / 10000.0) + 0.0 AS pearson_r
    FROM lineitem"""
        for i, x in enumerate(CORR_COLS)
        for y in CORR_COLS[i + 1 :]
    ),
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations among the lineitem numeric measures
    — the feature-redundancy / leakage screen run before any model sees
    the table (a |r| ~ 1 pair means one column is derivable from the
    other and should be dropped or flagged).

    Scale shape: ONE wide aggregate computes all C(n,2) co-moment pairs
    in a single scan (Spark's corr is a streaming one-pass co-moment
    update, map-side combined — no per-pair rescan, no row materialization
    of pairs), then a ``stack`` unpivot emits the O(n^2) tidy rows from
    the 1-row wide result. Adding a column costs n more expressions on
    the same scan, never another pass."""
    li = load(spark, sf_dir, "lineitem")
    pairs = [
        (x, y)
        for i, x in enumerate(CORR_COLS)
        for y in CORR_COLS[i + 1 :]
    ]
    wide = li.agg(
        *[
            (round_to(F.corr(x, y), 4) + F.lit(0.0)).alias(f"_c_{i}")
            for i, (x, y) in enumerate(pairs)
        ]
    )
    stack_args = ", ".join(
        f"'{x}', '{y}', _c_{i}" for i, (x, y) in enumerate(pairs)
    )
    return wide.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) AS (col_x, col_y, pearson_r)"
        )
    )


# Winsorization bounds: the conventional p01/p99 clip.
WINSOR_LO = 0.01
WINSOR_HI = 0.99


@REG.add(
    "q_winsorize",
    f"""
    WITH q AS (
      SELECT event_type,
             quantile_disc(value, {WINSOR_LO}) AS p01,
             quantile_disc(value, {WINSOR_HI}) AS p99
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           (ROUND((q.p01) * 10000, 0) / 10000.0) AS p01,
           (ROUND((q.p99) * 10000, 0) / 10000.0) AS p99,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN e.value < q.p01 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_lo,
           CAST(sum(CASE WHEN e.value > q.p99 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_hi,
           (ROUND((avg(e.value)) * 10000, 0) / 10000.0) AS mean_raw,
           (ROUND((avg(GREATEST(q.p01, LEAST(q.p99, e.value)))) * 10000, 0) / 10000.0)
             AS mean_winsor
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type, q.p01, q.p99
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization audit: clip ``events.value`` to its
    event_type's [p01, p99] and report clip counts plus the mean shift —
    the robust-cleaning pass run before any mean-sensitive feature or
    loss statistic is computed from heavy-tailed metrics.

    Scale shape: one tiny O(groups) exact-percentile aggregate broadcast
    back onto the scan (fact side never shuffles), then a single
    map-side-combined audit aggregate — same two-pass economics as
    q_anomaly_mad. 100 TB swap: ``percentile_approx``. The clip itself is
    the pure expression ``greatest(p01, least(p99, value))``; emitting
    clipped rows instead of the audit is the same plan minus the final
    aggregate."""
    events = load(spark, sf_dir, "events")
    # DISCRETE (nearest-rank) thresholds, not interpolated: percentile_disc
    # picks an ACTUAL data value, so both engines take the same element of
    # the same sorted multiset and the clip compare sees bit-identical
    # thresholds. Interpolated quantiles diverged by an ulp at the sf1
    # differential (10x-replicated values pile ties on the cut), and a
    # 1-ulp threshold shift moves a whole tie-block across the `>` —
    # n_clipped_hi jumped 2000 -> 2010 (r15). Winsorizing at observed
    # values is the standard robust-statistics form anyway.
    q = events.groupBy("event_type").agg(
        F.expr(
            f"percentile_disc({WINSOR_LO}) WITHIN GROUP (ORDER BY value)"
        ).alias("p01"),
        F.expr(
            f"percentile_disc({WINSOR_HI}) WITHIN GROUP (ORDER BY value)"
        ).alias("p99"),
    )
    clipped = F.greatest(
        F.col("p01"), F.least(F.col("p99"), F.col("value"))
    )
    return (
        events.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "p01", "p99")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("value") < F.col("p01"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_lo"),
            F.sum(F.when(F.col("value") > F.col("p99"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_hi"),
            # means stay plain AVG: at value magnitude ~1e2 the drift
            # margin sits ~7 orders below the 1e-4 rounding grid, and
            # quantizing a generic metric column to cents would narrow
            # the operator's semantics to the fixture (r15 review)
            round_to(F.avg("value"), 4).alias("mean_raw"),
            round_to(F.avg(clipped), 4).alias("mean_winsor"),
        )
        .select(
            "event_type",
            round_to("p01", 4).alias("p01"),
            round_to("p99", 4).alias("p99"),
            "n",
            "n_clipped_lo",
            "n_clipped_hi",
            "mean_raw",
            "mean_winsor",
        )
    )


def skew_metrics(df: DataFrame, key: str, label: str) -> DataFrame:
    """Shuffle-key skew diagnostics for one key column: group-size
    distribution stats + the Gini coefficient over group sizes. This is
    the measurement that decides whether a join/agg on ``key`` needs
    salting (q_agg_salted) or AQE skew handling before it runs at scale.

    Shape: one count-per-key aggregate (map-side combined), then a
    SECOND aggregate collapsing the O(keys) counts to the group-size
    VALUE distribution (v = size, m = how many keys have it) — and every
    output statistic is closed-form over that tiny frame. Keys with size
    v occupy ranks S_v+1 .. S_v+m_v in the df-sorted order (S_v = keys
    with smaller sizes), so the Gini's Σ i·c_i telescopes to
    Σ v·(m_v·S_v + m_v(m_v+1)/2); percentiles use ``percentile(v, p,
    m)`` frequency weighting; max share is max(v)/Σ v·m. No per-key
    rank, no join, nothing touches raw rows twice. The cumulative-S
    window IS single-task, but its input is bounded by O(distinct size
    values) ≤ O(√Σc) — at 10¹² rows that is ≤ ~10⁶ tiny rows, constant
    for a scheduler, versus the billions of per-key rank rows the
    previous range-partition + offset form (and before it, a global
    row_number) had to move. Ties on equal sizes don't affect the Gini
    sum — equal c makes rank order irrelevant."""
    c = df.groupBy(F.col(key).alias("k")).agg(F.count("*").alias("c"))
    vdist = c.groupBy(F.col("c").alias("v")).agg(
        F.count("*").cast("long").alias("m")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    s = vdist.withColumn(
        "S", F.coalesce(F.sum("m").over(w), F.lit(0).cast("long"))
    )
    # Σ i·c over df-sorted keys, telescoped per size value — integer-exact
    # until the one division below.
    sum_ic = F.sum(
        F.col("v")
        * (F.col("m") * F.col("S") + F.expr("(m * (m + 1)) div 2"))
    )
    n_keys = F.sum("m")
    n_rows = F.sum(F.col("v") * F.col("m"))
    gini_num = 2 * sum_ic - (n_keys + 1) * n_rows
    return s.agg(
        n_keys.cast("long").alias("n_keys"),
        n_rows.cast("long").alias("n_rows"),
        round_to(F.max("v").cast("double") / n_rows, 4).alias("max_share"),
        round_to(F.expr("percentile(v, 0.99, m)")
            / F.expr("percentile(v, 0.5, m)"), 4).alias("p99_over_p50"),
        round_to(gini_num.cast("double") / (n_keys * n_rows), 4).alias("gini"),
    ).filter(
        # an ungrouped agg emits one row even over an empty relation;
        # the grouped SQL oracle emits none — align on "no keys, no row"
        F.col("n_keys") > 0
    ).select(
        F.lit(label).alias("key_col"),
        "n_keys",
        "n_rows",
        "max_share",
        "p99_over_p50",
        "gini",
    )


@REG.add(
    "q_skew_profile",
    """
    WITH ce AS (
      SELECT user_id AS k, count(*) AS c FROM events GROUP BY user_id
    ),
    re AS (
      SELECT 'events.user_id' AS key_col, c,
             ROW_NUMBER() OVER (ORDER BY c ASC, k ASC) AS i FROM ce
    ),
    cl AS (
      SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY l_orderkey
    ),
    rl AS (
      SELECT 'lineitem.l_orderkey' AS key_col, c,
             ROW_NUMBER() OVER (ORDER BY c ASC, k ASC) AS i FROM cl
    ),
    u AS (SELECT * FROM re UNION ALL SELECT * FROM rl)
    SELECT key_col,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           (ROUND((CAST(max(c) AS DOUBLE) / sum(c)) * 10000, 0) / 10000.0) AS max_share,
           (ROUND((quantile_cont(c, 0.99) / quantile_cont(c, 0.5)) * 10000, 0) / 10000.0)
             AS p99_over_p50,
           (ROUND((CAST(2 * sum(i * c) - (max(i) + 1) * sum(c) AS DOUBLE)
                 / (max(i) * sum(c))) * 10000, 0) / 10000.0) AS gini
    FROM u
    GROUP BY key_col
    """,
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profile for the two hot join/agg keys
    (events.user_id, lineitem.l_orderkey): key cardinality, hottest-key
    share, p99/p50 group-size ratio, and the Gini coefficient of group
    sizes — the pre-flight report that decides between plain hash
    partitioning, salting, and AQE skew-join thresholds (see
    q_agg_salted / tests/test_skew.py for the mitigation side)."""
    events = load(spark, sf_dir, "events")
    li = load(spark, sf_dir, "lineitem")
    return skew_metrics(events, "user_id", "events.user_id").unionAll(
        skew_metrics(li, "l_orderkey", "lineitem.l_orderkey")
    )


# Embedding-norm profile bands: ~unit-norm vectors are healthy; tiny or
# huge norms flag encoder bugs / zero rows upstream.
NORM_LO = 0.5
NORM_HI = 2.0


@REG.add(
    "q_embed_norm_profile",
    f"""
    WITH n AS (
      SELECT vec_id, label,
             sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                  (a, b) -> a + b)) AS nrm,
             CAST(len(embedding) AS BIGINT) AS dim
      FROM embeddings
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(min(dim) AS BIGINT) AS min_dim,
           CAST(max(dim) AS BIGINT) AS max_dim,
           (ROUND((avg(nrm)) * 10000, 0) / 10000.0) AS mean_norm,
           (ROUND((quantile_cont(nrm, 0.5)) * 10000, 0) / 10000.0) AS p50_norm,
           (ROUND((quantile_cont(nrm, 0.95)) * 10000, 0) / 10000.0) AS p95_norm,
           CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero,
           CAST(sum(CASE WHEN nrm < {NORM_LO} OR nrm > {NORM_HI}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_band
    FROM n
    """,
)
def q_embed_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table health profile: L2-norm distribution (mean, exact
    p50/p95), dimension min/max (a dim mismatch means a mixed-encoder
    table), zero-vector count, and out-of-band [0.5, 2.0]
    norms — the pre-flight check before any cosine/ANN pass assumes
    well-scaled vectors.

    Scale shape: the norm is a pure JVM higher-order fold per row
    (sequential left fold, bit-identical to the DuckDB oracle's
    list_reduce — same trick as q_similarity_cosine), then ONE global
    aggregate to a single row. No shuffle of vectors; 100 TB swap for
    the exact percentiles is ``percentile_approx`` as usual."""
    emb = load(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            F.transform(
                F.col("embedding"),
                lambda x: x.cast("double") * x.cast("double"),
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )
    )
    n = emb.select(
        nrm.alias("nrm"), F.size("embedding").cast("long").alias("dim")
    )
    return n.agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.min("dim").cast("long").alias("min_dim"),
        F.max("dim").cast("long").alias("max_dim"),
        round_to(F.avg("nrm"), 4).alias("mean_norm"),
        round_to(F.expr("percentile(nrm, 0.5)"), 4).alias("p50_norm"),
        round_to(F.expr("percentile(nrm, 0.95)"), 4).alias("p95_norm"),
        F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero"),
        F.sum(
            F.when((F.col("nrm") < NORM_LO) | (F.col("nrm") > NORM_HI), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_out_of_band"),
    )


DECILES = 10


@REG.add(
    "q_length_deciles",
    f"""
    WITH e AS (
      SELECT [{", ".join(f"quantile_cont(n_chars, {q / DECILES})" for q in range(1, DECILES))}]
               AS edges
      FROM documents
    ),
    b AS (
      SELECT d.n_chars,
             CAST(1 + len(list_filter(e.edges,
                                      x -> x < d.n_chars)) AS INT) AS decile
      FROM documents d, e
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           (ROUND((avg(n_chars)) * 10000, 0) / 10000.0) AS avg_chars
    FROM b
    GROUP BY decile
    """,
)
def q_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth length distribution: documents bucketed into
    10 deciles by exact n_chars percentile EDGES, with per-decile
    stats — the quantile complement of the fixed-width q_histogram
    (fixed-width answers "where is the mass", equi-depth answers "what
    does a typical p40-p50 document look like"). Bucket rule: decile =
    1 + number of edges strictly below the value, so ties on an edge
    land identically in both engines.

    Scale shape: NO global sort — the edges come from one tiny
    percentile aggregate (O(deciles) rows) broadcast back as a pure
    comparison expression on the scan; the decile aggregate is
    map-side-combined to O(deciles) rows. The classic ntile() window
    formulation would funnel the corpus through a single-partition sort;
    this one never shuffles the fact side at all. 100 TB swap:
    ``percentile_approx`` edges, same plan."""
    docs = load(spark, sf_dir, "documents")
    qs = ", ".join(str(q / DECILES) for q in range(1, DECILES))
    edges = docs.agg(
        F.expr(f"percentile(n_chars, array({qs}))").alias("edges")
    )
    decile = (
        F.lit(1)
        + F.expr(
            "aggregate(edges, 0, (acc, e) ->"
            " acc + CASE WHEN e < CAST(n_chars AS DOUBLE)"
            " THEN 1 ELSE 0 END)"
        )
    ).cast("int")
    return (
        docs.crossJoin(F.broadcast(edges))
        .select("n_chars", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            round_to(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@REG.add(
    "q_chi2_contingency",
    """
    WITH c AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY source, lang
    ),
    r AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt FROM c GROUP BY source),
    k AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ct FROM c GROUP BY lang),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM c),
    terms AS (
      SELECT c.source, c.lang, c.o,
             (r.rt * 1.0 * k.ct / n.n) AS e
      FROM c JOIN r USING (source) JOIN k USING (lang) CROSS JOIN n
    ),
    agg AS (
      SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_cols,
             sum((o - e) * (o - e) / e) AS chi2
      FROM terms
    )
    SELECT n_rows, n_cols,
           CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
           (ROUND((chi2) * 10000, 0) / 10000.0) AS chi2,
           (ROUND((sqrt(chi2 / (n.n * LEAST(n_rows - 1, n_cols - 1)))) * 10000, 0) / 10000.0)
             AS cramers_v
    FROM agg CROSS JOIN n
    """,
)
def q_chi2_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test over the source x lang contingency
    table (is language mix independent of crawl source?), with Cramer's
    V as the bounded effect size — the one-number answer to "does this
    source's language distribution differ from the corpus" that the PSI
    drift monitor asks per-bucket.

    Scale shape: documents collapse to ONE map-side-combined
    O(sources x langs) cell aggregate; marginals re-aggregate those
    cells; every later join is over the tiny cell frame. chi2 sums
    cells in partition order (order-dependent doubles) — rounded to
    4dp, far above the 1e-10 summation drift, per the contract rule."""
    docs = load(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("o")
    )
    r = c.groupBy("source").agg(F.sum("o").cast("long").alias("rt"))
    k = c.groupBy("lang").agg(F.sum("o").cast("long").alias("ct"))
    n = c.agg(F.sum("o").cast("long").alias("n"))
    terms = (
        c.join(F.broadcast(r), "source")
        .join(F.broadcast(k), "lang")
        .crossJoin(F.broadcast(n))
        .withColumn("e", F.col("rt") * 1.0 * F.col("ct") / F.col("n"))
    )
    agg = terms.agg(
        F.countDistinct("source").cast("long").alias("n_rows"),
        F.countDistinct("lang").cast("long").alias("n_cols"),
        F.sum(
            (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
        ).alias("chi2"),
    )
    return agg.crossJoin(F.broadcast(n)).select(
        "n_rows",
        "n_cols",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
        .cast("long")
        .alias("dof"),
        round_to("chi2", 4).alias("chi2"),
        round_to(F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("n_rows") - 1, F.col("n_cols") - 1))
            ), 4).alias("cramers_v"),
    )


@REG.add(
    "q_gini_source",
    """
    WITH w AS (
      SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS wt,
             CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source
    ),
    r AS (
      SELECT wt, chars,
             ROW_NUMBER() OVER (ORDER BY wt, source) AS i
      FROM w
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sources,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           CASE WHEN count(*) = 0 OR SUM(wt) = 0 THEN NULL
             ELSE (ROUND((2.0 * SUM(i * wt) / (count(*) * SUM(wt))
                        - (count(*) + 1.0) / count(*)) * 1000000, 0) / 1000000.0) END AS gini
    FROM r
    """,
)
def q_gini_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of corpus volume (chars) across sources — the
    concentration readout a curation team tracks next to the mixing
    weights (q_domain_mix): G = 0 means every source contributes
    equally, G → 1 means one domain dominates the corpus (and the
    trained model). Computed by the sorted-rank identity
    G = 2·Σᵢ i·wᵢ / (n·Σw) − (n+1)/n over weights sorted ascending
    (ties ordered by source — rank·weight sums are tie-order-invariant,
    the tiebreak just pins both engines to one plan).

    Scale shape: the corpus collapses to ONE map-side-combined
    O(sources) aggregate; the rank window and both folds run over
    those O(sources) rows — at 100 TB this is a scan plus a
    few-hundred-row window. Integral char sums are exact, so G is
    bit-stable before the round; a zero-volume corpus emits NULL."""
    docs = load(spark, sf_dir, "documents")
    w = docs.groupBy("source").agg(
        F.sum("n_chars").cast("double").alias("wt"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    r = w.select(
        "wt",
        "chars",
        F.row_number().over(Window.orderBy("wt", "source")).alias("i"),
    )
    n = F.count("*")
    gini = 2.0 * F.sum(F.col("i") * F.col("wt")) / (n * F.sum("wt")) - (
        n + 1.0
    ) / n
    return r.agg(
        F.count("*").cast("long").alias("n_sources"),
        F.sum("chars").cast("long").alias("total_chars"),
        F.when((n == 0) | (F.sum("wt") == 0), F.lit(None).cast("double"))
        .otherwise(round_to(gini, 6))
        .alias("gini"),
    )
