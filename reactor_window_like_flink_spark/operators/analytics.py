"""Behavioral-analytics operators over the ``events`` stream: ordered
funnel conversion and weekly cohort retention — the product-analytics
surface (Flink's CEP-lite / every warehouse's funnel dashboard) expressed
as two-level aggregations.

Scale shape: both operators reduce to ONE keyed shuffle on ``user_id``
with map-side partial combine (per-user conditional mins / first-seen),
followed by aggregation over O(users) or O(weeks²) rows. No window over
raw events, no self-join of the fact table, no per-event state.

Reference parity note: the reference engine (``WindowPublisher.java``) has
no analytics surface; north-star scope from BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.contract import Registry, round_to
from reactor_window_like_flink_spark.functions.materialize import (
    aggregate_row,
    materialize,
)
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()

FUNNEL_STAGES = ("view", "click", "purchase")
WEEK_SECONDS = 7 * 24 * 3600


def funnel(events: DataFrame, stages: tuple[str, ...]) -> DataFrame:
    """Strictly-ordered funnel: a user converts stage k iff their FIRST
    stage-k event happens after their first stage-(k-1) event (classic
    first-touch funnel semantics; re-ordering visits don't double count).

    One groupBy(user_id) computes every stage's first-event time as a
    conditional min (map-side combined, shuffle carries one row per user
    per map partition); the conversion ladder is then a pure expression
    over that per-user row and a single tiny global aggregate. Times
    compare at microsecond precision on both engines."""
    aggs = [
        F.min(F.when(F.col("event_type") == s, F.unix_micros("ts"))).alias(
            f"_t{k}"
        )
        for k, s in enumerate(stages)
    ]
    per_user = events.groupBy("user_id").agg(*aggs)
    converted = [F.col("_t0").isNotNull()]
    for k in range(1, len(stages)):
        converted.append(
            converted[k - 1] & (F.col(f"_t{k}") > F.col(f"_t{k - 1}"))
        )
    counts = per_user.agg(
        *[
            F.sum(c.cast("long")).alias(f"_n{k}")
            for k, c in enumerate(converted)
        ]
    )
    # rates derive on the single aggregate row BEFORE the unpivot — no
    # window, no second pass
    for k in range(len(stages)):
        counts = counts.withColumn(
            f"_r{k}",
            round_to(F.col(f"_n{k}") / F.col("_n0").cast("double"), 4),
        )
    stack_args = ", ".join(
        f"{k + 1}, '{s}', _n{k}, _r{k}" for k, s in enumerate(stages)
    )
    return counts.select(
        F.expr(
            f"stack({len(stages)}, {stack_args})"
            " AS (stage, stage_name, n_users, conv_rate)"
        )
    ).select(
        "stage",
        "stage_name",
        F.col("n_users").cast("long").alias("n_users"),
        "conv_rate",
    )


@REG.add(
    "q_funnel",
    f"""
    WITH m AS (
      SELECT user_id,
             min(epoch_us(ts)) FILTER (event_type = '{FUNNEL_STAGES[0]}') AS t0,
             min(epoch_us(ts)) FILTER (event_type = '{FUNNEL_STAGES[1]}') AS t1,
             min(epoch_us(ts)) FILTER (event_type = '{FUNNEL_STAGES[2]}') AS t2
      FROM events GROUP BY user_id
    ),
    c AS (
      SELECT CAST(count(*) FILTER (t0 IS NOT NULL) AS BIGINT) AS n0,
             CAST(count(*) FILTER (t0 IS NOT NULL AND t1 > t0) AS BIGINT) AS n1,
             CAST(count(*) FILTER (t0 IS NOT NULL AND t1 > t0 AND t2 > t1)
                  AS BIGINT) AS n2
      FROM m
    )
    SELECT 1 AS stage, '{FUNNEL_STAGES[0]}' AS stage_name, n0 AS n_users,
           (ROUND((CAST(n0 AS DOUBLE) / n0) * 10000, 0) / 10000.0) AS conv_rate FROM c
    UNION ALL
    SELECT 2, '{FUNNEL_STAGES[1]}', n1, (ROUND((CAST(n1 AS DOUBLE) / n0) * 10000, 0) / 10000.0) FROM c
    UNION ALL
    SELECT 3, '{FUNNEL_STAGES[2]}', n2, (ROUND((CAST(n2 AS DOUBLE) / n0) * 10000, 0) / 10000.0) FROM c
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase first-touch funnel over events (see
    ``funnel``)."""
    return funnel(load(spark, sf_dir, "events"), FUNNEL_STAGES)


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: users grouped by the ISO week of their
    first event; for each (cohort_week, week_offset) cell, how many of
    the cohort's users were active that week.

    Shape: ONE raw-events pass builds the per-(user, week) distinct
    activity (materialized via localCheckpoint); the per-user first-seen
    week RE-aggregates it as min(week) — date_trunc is monotone, so
    min-of-truncated equals truncated-min — and the join touches only
    the two pre-shrunk O(users × weeks) / O(users) sides. Week
    arithmetic is integer epoch division on week-truncated timestamps:
    exact and identical across engines under the UTC session contract."""
    active = (
        events.select(
            "user_id",
            F.unix_timestamp(F.date_trunc("week", "ts")).alias("_aw"),
        )
        .distinct()
        .transform(materialize)  # shared by the cohort re-aggregate and the join
    )
    cohort = active.groupBy("user_id").agg(F.min("_aw").alias("_cw"))
    joined = active.join(cohort, "user_id")
    return (
        joined.groupBy(
            F.date_format(
                F.timestamp_seconds(F.col("_cw")), "yyyy-MM-dd"
            ).alias("cohort_week"),
            ((F.col("_aw") - F.col("_cw")) / WEEK_SECONDS)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


@REG.add(
    "q_cohort_retention",
    f"""
    WITH first AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cw
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events
    )
    SELECT strftime(f.cw, '%Y-%m-%d') AS cohort_week,
           CAST((epoch(a.aw) - epoch(f.cw)) / {WEEK_SECONDS} AS INT)
             AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM active a JOIN first f USING (user_id)
    GROUP BY cohort_week, week_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention grid over events (see
    ``cohort_retention``)."""
    return cohort_retention(load(spark, sf_dir, "events"))


# Fixture events are low-frequency (median inter-event gap ~7 h at
# sf0.01), so the demo gap is 24 h; a web clickstream would use 30 min.
SESSION_GAP_US = 24 * 3600 * 1_000_000


def sessionize(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Gap-based sessionization: consecutive events of a user belong to
    one session while the inter-event gap stays <= ``gap_us``; a larger
    gap opens the next session (the batch form of the streaming session
    window, but emitting stable per-user session indexes).

    Plan: ONE sort-shuffle keyed on user_id (the window); the lag flag
    and running sum both run inside that single WindowExec, and the
    per-session aggregate re-uses the user_id hash partitioning (its
    grouping keys start with user_id), so no second exchange. At 100 TB
    this is the canonical shape — per-user data sorts within its
    partition, nothing global."""
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    flagged = e.withColumn(
        "_new",
        F.when(F.col("us") - F.lag("us").over(w) > gap_us, 1).otherwise(0),
    )
    sess = flagged.withColumn("session_idx", F.sum("_new").over(run) + 1)
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("us").alias("start_us"),
            F.max("us").alias("end_us"),
        )
        .select(
            "user_id",
            "session_idx",
            "n_events",
            "start_us",
            "end_us",
            (F.col("end_us") - F.col("start_us")).alias("duration_us"),
        )
    )


@REG.add(
    "q_sessionize",
    f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ),
    f AS (
      SELECT user_id, event_id, us,
             CASE WHEN us - lag(us) OVER (
                    PARTITION BY user_id ORDER BY us, event_id)
                  > {SESSION_GAP_US} THEN 1 ELSE 0 END AS n
      FROM e
    ),
    s AS (
      SELECT user_id, us,
             SUM(n) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) + 1 AS session_idx
      FROM f
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(us) AS BIGINT) AS start_us,
           CAST(max(us) AS BIGINT) AS end_us,
           CAST(max(us) - min(us) AS BIGINT) AS duration_us
    FROM s GROUP BY user_id, session_idx
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24 h-gap sessionization of events with per-session stats (see
    ``sessionize``)."""
    return sessionize(load(spark, sf_dir, "events"))


# CEP-style sequence pattern: ordered view -> click -> purchase chains
# (relaxed contiguity — Flink's followedBy, not next — greedy/last-match).
PATTERN_SPAN_US = 72 * 3600 * 1_000_000  # whole chain inside 72 h
# (the fixture's browse->buy cadence is hours-to-days: min complete-chain
# span at sf0.01 is 2.3 h, median 84 h — 72 h keeps the key selective)


def pattern_sequence(events: DataFrame) -> DataFrame:
    """MATCH_RECOGNIZE-lite: for every purchase, the chain
    (latest click at-or-before it, latest view at-or-before THAT click),
    kept when the whole chain spans <= 72 hours — Flink CEP's
    ``A followedBy B followedBy C within T`` with last-match (greedy)
    binding, expressed relationally.

    Two chained as-of matches over ONE (user_id, ts, event_id) sort: a
    running ``last(view)`` resolves each click's view binding, then a
    running ``last(click-with-its-view)`` resolves each purchase — both
    windows share the partitioning and sort, so the plan pays a single
    exchange + sort and streams through two WindowExecs (no self-join,
    no per-pattern state). At 100 TB this is the sessionize shape: one
    keyed sort-shuffle regardless of pattern depth; pattern depth only
    adds window expressions.

    ``last(..., ignorenulls)`` over (ts, event_id) makes the binding
    deterministic under ts ties (larger event_id wins, matching the SQL
    oracle's identical window)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    with_view = base.withColumn(
        "last_view",
        F.last(
            F.when(
                F.col("event_type") == FUNNEL_STAGES[0],
                F.struct(F.col("us").alias("v_us"), F.col("event_id").alias("v_id")),
            ),
            ignorenulls=True,
        ).over(w),
    )
    with_click = with_view.withColumn(
        "last_click",
        F.last(
            F.when(
                F.col("event_type") == FUNNEL_STAGES[1],
                F.struct(
                    F.col("us").alias("c_us"),
                    F.col("event_id").alias("c_id"),
                    F.col("last_view").alias("c_view"),
                ),
            ),
            ignorenulls=True,
        ).over(w),
    )
    return (
        with_click.filter(F.col("event_type") == FUNNEL_STAGES[2])
        .filter(F.col("last_click").isNotNull())
        .filter(F.col("last_click.c_view").isNotNull())
        .select(
            "user_id",
            F.col("last_click.c_view.v_id").alias("view_id"),
            F.col("last_click.c_id").alias("click_id"),
            F.col("event_id").alias("purchase_id"),
            (F.col("us") - F.col("last_click.c_view.v_us")).alias("span_us"),
        )
        .filter(F.col("span_us") <= PATTERN_SPAN_US)
    )


@REG.add(
    "q_pattern_sequence",
    f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ),
    v AS (
      SELECT *,
             last_value(CASE WHEN event_type = '{FUNNEL_STAGES[0]}'
                             THEN struct_pack(v_us := us, v_id := event_id)
                        END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_view
      FROM e
    ),
    c AS (
      SELECT *,
             last_value(CASE WHEN event_type = '{FUNNEL_STAGES[1]}'
                             THEN struct_pack(c_us := us, c_id := event_id,
                                              c_view := last_view)
                        END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_click
      FROM v
    )
    SELECT user_id,
           (last_click).c_view.v_id AS view_id,
           (last_click).c_id AS click_id,
           event_id AS purchase_id,
           us - (last_click).c_view.v_us AS span_us
    FROM c
    WHERE event_type = '{FUNNEL_STAGES[2]}'
      AND last_click IS NOT NULL
      AND (last_click).c_view IS NOT NULL
      AND us - (last_click).c_view.v_us <= {PATTERN_SPAN_US}
    """,
)
def q_pattern_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase chains (relaxed contiguity,
    greedy/last-match binding) within 72 hours (see
    ``pattern_sequence``)."""
    return pattern_sequence(load(spark, sf_dir, "events"))


def followed_by_chain(
    events: DataFrame,
    stages: list[str] | tuple[str, ...],
    span_us: int = PATTERN_SPAN_US,
    contiguity: str = "relaxed",
) -> DataFrame:
    """Generalized N-stage CEP chain matcher — Flink CEP's
    ``begin(s0).followedBy(s1)...followedBy(sN-1).within(span)`` with
    greedy last-match binding, for ANY ordered stage list (the 3-stage
    ``pattern_sequence`` is the ``FUNNEL_STAGES`` special case, asserted
    equal in ``tests/test_analytics.py``).

    ``contiguity``: ``"relaxed"`` is ``followedBy`` (any events may sit
    between stages); ``"strict"`` is Flink's ``next`` / MATCH_RECOGNIZE
    default — each stage event must be the IMMEDIATELY next event of the
    user (any intervening event, pattern-typed or noise, breaks the
    chain). Strict adds one ``lag`` per stage over the same window — the
    plan still pays a single sort-shuffle.

    Output: one row per final-stage event whose chain completes inside
    ``span_us`` — ``(user_id, stage0_id..stageN-1_id, span_us)``.

    Plan shape is the whole point: one (user_id, us, event_id)
    sort-shuffle, then N-1 running ``last(..., ignorenulls)`` expressions
    over the SAME window — pattern depth adds WindowExec expressions,
    never joins, self-unions, or extra exchanges. Each stage-i binding
    struct carries (us0, ids) = the chain head's event time and the id
    path so far; an event of stage i>0 whose prefix is incomplete still
    OVERWRITES the binding with an incomplete one (null ``us0``) — that
    is exactly greedy/blocking followedBy, where a fresh partial match
    supersedes an older complete one."""
    n = len(stages)
    if n < 2:
        raise ValueError("need at least 2 stages")
    if contiguity not in ("relaxed", "strict"):
        raise ValueError(
            f"contiguity must be 'relaxed' or 'strict', got {contiguity!r}"
        )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lag = Window.partitionBy("user_id").orderBy("us", "event_id")
    df = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    if contiguity == "strict":
        df = df.withColumn("_prev_id", F.lag("event_id").over(w_lag))

    def chained(i: int):
        """Stage-i >= 1 fires off the stage-(i-1) binding; under strict
        contiguity the previous event must BE that binding's last id."""
        cond = F.col("event_type") == stages[i]
        if contiguity == "strict":
            cond = cond & (
                F.col("_prev_id")
                == F.element_at(F.col(f"b{i - 1}.ids"), -1)
            )
        return cond

    for i, stage in enumerate(stages[:-1]):
        if i == 0:
            binding = F.when(
                F.col("event_type") == stage,
                F.struct(
                    F.col("us").alias("us0"),
                    F.array(F.col("event_id")).alias("ids"),
                ),
            )
        else:
            binding = F.when(
                chained(i),
                F.struct(
                    F.col(f"b{i - 1}.us0").alias("us0"),
                    F.concat(
                        F.col(f"b{i - 1}.ids"), F.array(F.col("event_id"))
                    ).alias("ids"),
                ),
            )
            if contiguity == "strict":
                # a stage-i event whose predecessor is NOT the previous
                # binding still blocks (overwrites with incomplete):
                # greedy semantics are contiguity-independent
                binding = binding.otherwise(
                    F.when(
                        F.col("event_type") == stage,
                        F.struct(
                            F.lit(None).cast("long").alias("us0"),
                            F.lit(None).cast("array<long>").alias("ids"),
                        ),
                    )
                )
        df = df.withColumn(f"b{i}", F.last(binding, ignorenulls=True).over(w))
    last_b = f"b{n - 2}"
    out_ids = [
        F.element_at(F.col(f"{last_b}.ids"), i + 1).alias(f"stage{i}_id")
        for i in range(n - 1)
    ]
    final = df.filter(F.col("event_type") == stages[-1])
    if contiguity == "strict":
        final = final.filter(
            F.col("_prev_id") == F.element_at(F.col(f"{last_b}.ids"), -1)
        )
    return (
        final.filter(F.col(last_b).isNotNull())
        .filter(F.col(f"{last_b}.us0").isNotNull())
        .select(
            "user_id",
            *out_ids,
            F.col("event_id").alias(f"stage{n - 1}_id"),
            (F.col("us") - F.col(f"{last_b}.us0")).alias("span_us"),
        )
        .filter(F.col("span_us") <= span_us)
    )


@REG.add(
    "q_pattern_sequence_strict",
    f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ),
    l AS (
      SELECT *,
             lag(event_id) OVER (PARTITION BY user_id ORDER BY us, event_id)
               AS prev_id
      FROM e
    ),
    v AS (
      SELECT *,
             last_value(CASE WHEN event_type = '{FUNNEL_STAGES[0]}'
                             THEN struct_pack(v_us := us, v_id := event_id)
                        END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_view
      FROM l
    ),
    c AS (
      SELECT *,
             last_value(CASE WHEN event_type = '{FUNNEL_STAGES[1]}' THEN
               CASE WHEN prev_id = (last_view).v_id
                    THEN struct_pack(c_us := us, c_id := event_id,
                                     c_view := last_view)
                    ELSE struct_pack(c_us := us, c_id := event_id,
                                     c_view := CAST(NULL AS
                                       STRUCT(v_us BIGINT, v_id BIGINT)))
               END
             END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_click
      FROM v
    )
    SELECT user_id,
           (last_click).c_view.v_id AS view_id,
           (last_click).c_id AS click_id,
           event_id AS purchase_id,
           us - (last_click).c_view.v_us AS span_us
    FROM c
    WHERE event_type = '{FUNNEL_STAGES[2]}'
      AND last_click IS NOT NULL
      AND prev_id = (last_click).c_id
      AND (last_click).c_view IS NOT NULL
      AND us - (last_click).c_view.v_us <= {PATTERN_SPAN_US}
    """,
)
def q_pattern_sequence_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-contiguity (Flink ``next`` / MATCH_RECOGNIZE-default) CEP:
    view, click, purchase as the user's CONSECUTIVE events — any
    intervening event (including the fixture's ``error`` noise type)
    breaks the chain. The ``contiguity='strict'`` instance of
    ``followed_by_chain``; the oracle mirrors the lag-based contiguity
    checks on the identical window."""
    out = followed_by_chain(
        load(spark, sf_dir, "events"), FUNNEL_STAGES, contiguity="strict"
    )
    return out.select(
        "user_id",
        F.col("stage0_id").alias("view_id"),
        F.col("stage1_id").alias("click_id"),
        F.col("stage2_id").alias("purchase_id"),
        "span_us",
    )


QUANTIFIED_STAGES = (
    # Flink CEP  begin('view').oneOrMore()
    #            .next('click').timesOrMore(2).consecutive()
    #            .next('error').times(1).optional()
    #            .next('purchase')                     .within(72h)
    ("view", 1, None),
    ("click", 2, None),
    ("error", 0, 1),
    ("purchase", 1, None),
)


def followed_by_quantified(
    events: DataFrame,
    stages: list[tuple[str, int, int | None]],
    span_us: int = PATTERN_SPAN_US,
) -> DataFrame:
    """Quantified strict-contiguity CEP — Flink CEP's ``times(n)`` /
    ``timesOrMore(n).consecutive()`` / ``optional()`` quantifiers
    (MATCH_RECOGNIZE ``A+ B{2,} C? D`` shapes), the piece
    ``followed_by_chain`` doesn't cover. Each stage is a triple
    ``(event_type, lo, hi)`` — ``hi=None`` for unbounded, ``lo=0`` (with
    ``hi=1``) for ``optional()``.

    Semantics (documented contract): quantifiers bind to MAXIMAL runs of
    consecutive same-type events per user — ``times(2)`` means "exactly a
    run of 2 consecutive clicks, flanked by non-clicks", which is Flink's
    ``times(2).consecutive()`` between different-typed neighbors. A match
    is a sequence of ADJACENT runs aligned to the non-skipped stages
    (strict contiguity at run granularity: any intervening event of
    another type closes a run and must itself be matched by the next
    stage). ``span_us`` bounds first-event-of-anchor-run to
    first-event-of-final-run. Anchor and final stages must be
    non-optional; consecutive stages (and stages adjacent across an
    optional) must name distinct types, else run-maximality makes the
    pattern unsatisfiable.

    Output: one row per matched anchor run — ``user_id``, per stage
    ``stage{i}_id`` (first event id of the bound run, NULL when an
    optional stage is skipped) and ``stage{i}_n`` (run length, 0 when
    skipped), ``span_us``.

    Plan shape: one (user_id, us, event_id) sort-shuffle for run
    detection, one (user_id, run_seq) aggregate riding the SAME hash
    partitioning, then lead() expressions over the runs — pattern depth
    adds window expressions, never joins or extra exchanges. Runs are
    O(events) worst case but the post-aggregate rows are runs, not
    events, so the lead stage shrinks with every repeated event."""
    n = len(stages)
    if n < 2:
        raise ValueError("need at least 2 stages")
    for stype, lo, hi in stages:
        if lo < 0 or (hi is not None and hi < max(lo, 1)):
            raise ValueError(f"bad quantifier for {stype!r}: ({lo}, {hi})")
    if stages[0][1] == 0 or stages[-1][1] == 0:
        raise ValueError("anchor and final stages must be non-optional")
    # run-maximality makes same-type adjacent stages unsatisfiable —
    # including stages that BECOME adjacent when the optionals between
    # them are skipped; fail loudly instead of silently matching nothing
    # (mirrors the streaming twin's distinctness validation, cep.py)
    for i in range(n):
        for j in range(i + 1, n):
            if all(stages[k][1] == 0 for k in range(i + 1, j)):
                if stages[i][0] == stages[j][0]:
                    raise ValueError(
                        f"stages {i} and {j} share type {stages[i][0]!r} "
                        "and can be adjacent (directly or across skipped "
                        "optionals): maximal runs make that unsatisfiable"
                    )

    w_seq = Window.partitionBy("user_id").orderBy("us", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    e = events.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    runs = (
        e.withColumn(
            "_new",
            F.when(
                F.lag("event_type").over(w_seq).isNull()
                | (F.lag("event_type").over(w_seq) != F.col("event_type")),
                1,
            ).otherwise(0),
        )
        .withColumn("run_seq", F.sum("_new").over(w_run))
        .groupBy("user_id", "run_seq")
        .agg(
            F.min("event_type").alias("rtype"),  # all equal within a run
            F.count("*").cast("long").alias("n"),
            F.min("us").alias("start_us"),
            F.min(F.struct("us", "event_id"))["event_id"].alias("first_id"),
        )
    )
    wr = Window.partitionBy("user_id").orderBy("run_seq")
    # lead depth = stages beyond the anchor, all present
    max_off = n - 1
    for d in range(1, max_off + 1):
        runs = (
            runs.withColumn(f"_t{d}", F.lead("rtype", d).over(wr))
            .withColumn(f"_n{d}", F.lead("n", d).over(wr))
            .withColumn(f"_f{d}", F.lead("first_id", d).over(wr))
            .withColumn(f"_s{d}", F.lead("start_us", d).over(wr))
        )

    def at(d: int, field: str):
        if d == 0:
            return F.col({"t": "rtype", "n": "n", "f": "first_id",
                          "s": "start_us"}[field])
        return F.col(f"_{field}{d}")

    optionals = [i for i, (_, lo, _) in enumerate(stages) if lo == 0]
    # greedy optional(): masks ordered most-stages-present first
    masks = sorted(
        range(1 << len(optionals)),
        key=lambda m: -bin(m).count("1"),
    )
    out_fields = []
    for i in range(n):
        out_fields += [f"stage{i}_id", f"stage{i}_n"]
    out_fields.append("span_us")

    mask_structs = []
    for m in masks:
        skipped = {
            optionals[b] for b in range(len(optionals)) if not (m >> b) & 1
        }
        cond = F.lit(True)
        offset = 0
        per_stage: list[tuple] = []
        final_off = 0
        for i, (stype, lo, hi) in enumerate(stages):
            if i in skipped:
                per_stage.append((None, None))
                continue
            c = at(offset, "t") == stype
            c = c & (at(offset, "n") >= max(lo, 1))
            if hi is not None:
                c = c & (at(offset, "n") <= hi)
            cond = cond & c
            per_stage.append((at(offset, "f"), at(offset, "n")))
            final_off = offset
            offset += 1
        span = at(final_off, "s") - F.col("start_us")
        cond = cond & (span <= F.lit(span_us))
        fields = []
        for i in range(n):
            fid, fn = per_stage[i]
            fields.append(
                (fid if fid is not None else F.lit(None).cast("long"))
                .alias(f"stage{i}_id")
            )
            fields.append(
                (fn if fn is not None else F.lit(0).cast("long"))
                .alias(f"stage{i}_n")
            )
        fields.append(span.alias("span_us"))
        # a when() without otherwise() is NULL when unmatched, so the
        # coalesce picks the FIRST matching mask = greedy optional()
        mask_structs.append(F.when(cond, F.struct(*fields)))
    return (
        runs.withColumn("_m", F.coalesce(*mask_structs))
        .filter(F.col("_m").isNotNull())
        .select("user_id", *[F.col(f"_m.{f}").alias(f) for f in out_fields])
    )


@REG.add(
    "q_pattern_quantified",
    f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ),
    m AS (
      SELECT *, CASE WHEN lag(event_type)
                       OVER (PARTITION BY user_id ORDER BY us, event_id)
                     IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS new_run
      FROM e
    ),
    s AS (
      SELECT *, sum(new_run) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS run_seq
      FROM m
    ),
    r AS (
      SELECT user_id, run_seq, min(event_type) AS rtype,
             CAST(count(*) AS BIGINT) AS n, min(us) AS start_us,
             (min(struct_pack(us := us, id := event_id))).id AS first_id
      FROM s GROUP BY user_id, run_seq
    ),
    l AS (
      SELECT *,
             lead(rtype, 1) OVER w AS t1, lead(n, 1) OVER w AS n1,
             lead(first_id, 1) OVER w AS f1, lead(start_us, 1) OVER w AS s1,
             lead(rtype, 2) OVER w AS t2, lead(n, 2) OVER w AS n2,
             lead(first_id, 2) OVER w AS f2, lead(start_us, 2) OVER w AS s2,
             lead(rtype, 3) OVER w AS t3, lead(n, 3) OVER w AS n3,
             lead(first_id, 3) OVER w AS f3, lead(start_us, 3) OVER w AS s3
      FROM r WINDOW w AS (PARTITION BY user_id ORDER BY run_seq)
    )
    SELECT user_id,
           first_id AS view_id, n AS n_views,
           f1 AS click_id, n1 AS n_clicks,
           CASE WHEN t2 = 'error' THEN f2 END AS error_id,
           CASE WHEN t2 = 'error' THEN f3 ELSE f2 END AS purchase_id,
           CASE WHEN t2 = 'error' THEN s3 - start_us
                ELSE s2 - start_us END AS span_us
    FROM l
    WHERE rtype = 'view' AND t1 = 'click' AND n1 >= 2
      AND ((t2 = 'error' AND n2 = 1 AND t3 = 'purchase'
            AND s3 - start_us <= {PATTERN_SPAN_US})
           OR (t2 = 'purchase' AND s2 - start_us <= {PATTERN_SPAN_US}))
    """,
)
def q_pattern_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified CEP: ``view+ click{2,} error? purchase`` with
    consecutive (run-maximal) quantifier semantics inside 72 h — Flink
    CEP's ``oneOrMore`` / ``timesOrMore(2).consecutive()`` / ``optional``,
    the MATCH_RECOGNIZE ``A+ B{2,} C? D`` shape the plain chain matcher
    can't express (see ``followed_by_quantified``). The oracle mirrors the
    gaps-and-islands run construction and the two optional-presence
    alignments exactly."""
    out = followed_by_quantified(
        load(spark, sf_dir, "events"), list(QUANTIFIED_STAGES)
    )
    return out.select(
        "user_id",
        F.col("stage0_id").alias("view_id"),
        F.col("stage0_n").alias("n_views"),
        F.col("stage1_id").alias("click_id"),
        F.col("stage1_n").alias("n_clicks"),
        F.col("stage2_id").alias("error_id"),
        F.col("stage3_id").alias("purchase_id"),
        "span_us",
    )


@REG.add(
    "q_resample_ffill",
    """
    WITH hv AS (
      SELECT user_id, hr, value FROM (
        SELECT user_id, date_trunc('hour', ts) AS hr, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    span AS (
      SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM hv GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      FROM span
    ),
    j AS (
      SELECT g.user_id, g.hr, hv.value,
             CASE WHEN hv.value IS NULL THEN 0 ELSE 1 END AS observed
      FROM grid g LEFT JOIN hv ON hv.user_id = g.user_id AND hv.hr = g.hr
    )
    SELECT user_id, CAST(epoch(hr) AS BIGINT) AS hour_ts,
           last_value(value IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY hr
                   ROWS UNBOUNDED PRECEDING) AS value,
           CAST(observed AS INT) AS observed
    FROM j
    """,
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with forward fill: each user's event stream
    regularized onto an hourly grid spanning their own [first, last]
    hour; empty hours carry the last observed value forward (the
    hypertable/`pandas.resample('1h').ffill()` operation — gap-free
    per-key series for downstream feature windows).

    Pipeline: (1) per-(user, hour) LAST value via one row_number window
    (latest ts, event_id tie-break — deterministic under duplicate
    timestamps); (2) each user's grid from a pure JVM
    ``sequence(lo, hi, 1 hour)`` explode over the O(users) span
    aggregate — grid rows are generated distributed, never enumerated on
    the driver; (3) grid LEFT JOIN hourly-last, keyed (user, hour);
    (4) forward fill = ``last(value, ignorenulls)`` over the user's grid
    order. Every shuffle keys on user_id (the window and the join share
    the partitioning); output is O(users x span-hours). Timestamps emit
    as epoch-seconds BIGINT per the determinism contract. At 100 TB the
    dense-key hazard is a user spanning years of hours — bounded by the
    fixture's 30-day domain here; a production rollout bounds the span
    or tiers to a coarser grid."""
    events = load(spark, sf_dir, "events")
    hr = F.date_trunc("hour", F.col("ts"))
    # per-(user, hour) LAST value as max(struct(ts, event_id, value)):
    # struct comparison is lexicographic and (ts, event_id) is unique,
    # so the max IS the row_number()=1 row of the (ts DESC, event_id
    # DESC) window — but as an aggregate it map-side combines, where
    # the window shipped and sorted every raw event (r16, guide §2.3)
    hv = (
        events.select("user_id", hr.alias("hr"), "ts", "event_id", "value")
        .groupBy("user_id", "hr")
        .agg(F.max(F.struct("ts", "event_id", "value")).alias("s"))
        .select("user_id", "hr", F.col("s.value").alias("value"))
        # shared by the span aggregate and the grid join
        .transform(materialize)
    )
    span = hv.groupBy("user_id").agg(
        F.min("hr").alias("lo"), F.max("hr").alias("hi")
    )
    grid = span.select(
        "user_id",
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hr"),
    )
    j = grid.join(hv, ["user_id", "hr"], "left").select(
        "user_id",
        "hr",
        "value",
        F.when(F.col("value").isNull(), 0).otherwise(1).alias("observed"),
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.unix_timestamp("hr").alias("hour_ts"),
        F.last("value", ignorenulls=True).over(w_fill).alias("value"),
        F.col("observed").cast("int").alias("observed"),
    )


@REG.add(
    "q_scd2_runs",
    """
    WITH b AS (
      SELECT user_id, event_id, event_type,
             CAST(epoch_us(ts) AS BIGINT) AS us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, event_type, us,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS new_run
      FROM b
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    runs AS (
      SELECT user_id, event_id, event_type, us,
             SUM(new_run) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS run_idx
      FROM flagged
    )
    SELECT user_id,
           CAST(run_idx AS BIGINT) AS run_idx,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(us) AS BIGINT) AS valid_from_us,
           CAST(max(us) AS BIGINT) AS last_seen_us
    FROM runs
    GROUP BY user_id, run_idx, event_type
    """,
)
def q_scd2_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style run-length encoding of each user's event_type stream:
    consecutive same-type events collapse into one validity run
    (valid_from = first ts, last_seen = last ts) — the gaps-and-islands
    build behind slowly-changing-dimension tables and state-transition
    analysis (a type CHANGE starts a new version; q_sessionize is the
    same shape keyed on time gaps instead of value changes).

    Scale shape: identical to sessionize — ONE (user_id) sort-shuffle
    feeds a lag flag and a running sum in a single WindowExec pass, and
    the run aggregate reuses the user_id partitioning (no second
    exchange for the groupBy's user_id component). Microsecond ties
    break on event_id so run boundaries are engine-deterministic."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b = events.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    lagged = F.lag("event_type").over(w)
    flagged = b.withColumn(
        "new_run",
        F.when(lagged.isNull() | (lagged != F.col("event_type")), 1).otherwise(0),
    )
    runs = flagged.withColumn("run_idx", F.sum("new_run").over(w_run))
    return runs.groupBy(
        "user_id", F.col("run_idx").cast("long").alias("run_idx"), "event_type"
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("us").cast("long").alias("valid_from_us"),
        F.max("us").cast("long").alias("last_seen_us"),
    )


# Absence detection (Flink CEP notFollowedBy): a view with NO purchase in
# the following window is a churn/abandonment signal.
ABSENCE_SPAN_US = 24 * 3600 * 1_000_000


@REG.add(
    "q_pattern_absence",
    f"""
    WITH v AS (
      SELECT user_id, event_id AS view_id,
             CAST(epoch_us(ts) AS BIGINT) AS view_us
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS mx FROM events)
    SELECT v.user_id, v.view_id, v.view_us
    FROM v, m
    WHERE v.view_us + {ABSENCE_SPAN_US} < m.mx
      AND NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND p.us > v.view_us
          AND p.us <= v.view_us + {ABSENCE_SPAN_US}
      )
    """,
)
def q_pattern_absence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative CEP pattern (Flink's ``notFollowedBy`` /
    MATCH_RECOGNIZE absence): views NOT followed by a same-user purchase
    within 24 h — the abandonment/churn detector, the complement of
    q_pattern_sequence's positive chains. Only OBSERVABLE absences are
    emitted: a view whose 24 h window extends past the end of the data
    cannot be judged yet (exactly the rows the streaming twin's
    event-time timer has not fired for — see
    ``streaming/cep.py:not_followed_by_stateful``).

    Scale shape: ONE user_id sort-shuffle; the "next purchase within the
    window" resolves as a conditional min over a RANGE frame
    (us+1 .. us+span) on the event-time long — no self-join, no
    NOT-EXISTS subquery at plan level, and the range frame makes the
    strictly-after semantics exact under same-microsecond ties. The
    data-end cutoff joins as a broadcast 1-row max."""
    events = load(spark, sf_dir, "events")
    b = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(1, ABSENCE_SPAN_US)
    )
    next_p = F.min(
        F.when(F.col("event_type") == "purchase", F.col("us"))
    ).over(w)
    mx = b.agg(F.max("us").alias("mx"))
    return (
        b.withColumn("_np", next_p)
        .filter(F.col("event_type") == "view")
        .crossJoin(F.broadcast(mx))
        .filter(
            (F.col("us") + ABSENCE_SPAN_US < F.col("mx"))
            & F.col("_np").isNull()
        )
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("us").alias("view_us"),
        )
    )


@REG.add(
    "q_changepoint_cusum",
    """
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             avg(value) AS daily_mean
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    m AS (
      SELECT event_type, day, daily_mean,
             avg(daily_mean) OVER (PARTITION BY event_type) AS type_mean,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
      FROM d
    ),
    s AS (
      SELECT event_type, day, n_days,
             (ROUND((SUM(daily_mean - type_mean)
                     OVER (PARTITION BY event_type ORDER BY day
                           ROWS UNBOUNDED PRECEDING)) * 1000000, 0) / 1000000.0) AS cusum
      FROM m
    ),
    r AS (
      SELECT event_type, day, n_days, cusum,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY abs(cusum) DESC, day) AS rn
      FROM s
    )
    SELECT event_type, n_days,
           CAST(epoch(day) AS BIGINT) AS cp_day,
           (ROUND((cusum) * 10000, 0) / 10000.0) AS cp_cusum
    FROM r WHERE rn = 1
    """,
)
def q_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event_type: the day where the
    cumulative sum of (daily mean - series mean) peaks in magnitude —
    the classic level-shift locator (Page 1954) run as the
    did-this-metric-move monitor over the daily series.

    Scale shape: raw events collapse to ONE map-side-combined daily
    aggregate (O(types x days) rows — tiny forever); the series mean,
    the running CUSUM, and the argmax all ride windows over that tiny
    frame partitioned by event_type, reusing one partitioning. The
    CUSUM is rounded to 6 decimals BEFORE ranking so the argmax is
    engine-deterministic even when two days' statistics differ only by
    float-summation order; remaining ties break on the earlier day."""
    events = load(spark, sf_dir, "events")
    d = (
        events.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.avg("value").alias("daily_mean"))
    )
    w_type = Window.partitionBy("event_type")
    w_cum = w_type.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    m = d.select(
        "event_type",
        "day",
        "daily_mean",
        F.avg("daily_mean").over(w_type).alias("type_mean"),
        F.count("*").over(w_type).cast("long").alias("n_days"),
    )
    s = m.withColumn(
        "cusum",
        round_to(F.sum(F.col("daily_mean") - F.col("type_mean")).over(w_cum), 6),
    )
    w_rank = w_type.orderBy(F.desc(F.abs(F.col("cusum"))), F.asc("day"))
    return (
        s.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "n_days",
            F.unix_timestamp("day").alias("cp_day"),
            round_to("cusum", 4).alias("cp_cusum"),
        )
    )


# Linear multi-touch attribution: every touch (view/click) inside the
# window before a purchase shares its value equally.
ATTRIB_SPAN_US = 24 * 3600 * 1_000_000
ATTRIB_TOUCHES = ("view", "click")


@REG.add(
    "q_attribution_linear",
    f"""
    WITH b AS (
      SELECT user_id, event_id, event_type, value,
             CAST(epoch_us(ts) AS BIGINT) AS us
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    w AS (
      SELECT *,
             COALESCE(SUM(CASE WHEN event_type IN ('view', 'click')
                               THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us
                     RANGE BETWEEN {ATTRIB_SPAN_US} PRECEDING
                               AND 1 PRECEDING), 0) AS n_touches
      FROM b
    ),
    shares AS (
      SELECT user_id, us,
             value / n_touches AS share
      FROM w WHERE event_type = 'purchase' AND n_touches > 0
    ),
    credited AS (
      SELECT w.event_type,
             SUM(s.cred) AS credited_value,
             CAST(SUM(CASE WHEN s.cred > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_credited
      FROM (
        SELECT w.user_id, w.event_id, w.event_type, w.us
        FROM w WHERE w.event_type IN ('view', 'click')
      ) w
      JOIN LATERAL (
        SELECT COALESCE(SUM(share), 0) AS cred
        FROM shares s
        WHERE s.user_id = w.user_id
          AND s.us > w.us AND s.us <= w.us + {ATTRIB_SPAN_US}
      ) s ON true
      GROUP BY w.event_type
    ),
    unattr AS (
      SELECT 'unattributed' AS event_type,
             SUM(value) AS credited_value,
             CAST(count(*) AS BIGINT) AS n_credited
      FROM w WHERE event_type = 'purchase' AND n_touches = 0
    )
    SELECT event_type, (ROUND((credited_value) * 100, 0) / 100.0) AS credited_value,
           n_credited
    FROM credited
    UNION ALL
    SELECT event_type, (ROUND((credited_value) * 100, 0) / 100.0), n_credited
    FROM unattr WHERE n_credited > 0
    """,
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch revenue attribution: each purchase's value is
    split equally across every same-user touch (view/click) in the
    preceding 24 h; purchases with no touch in window report as
    'unattributed'. Output: credited value + credited-touch count per
    touch type — the marketing-mix report that usually gets built with
    an events-to-events self-join.

    Scale shape: NO self-join — one user_id sort-shuffle carries both
    directions as RANGE frames on the event-time long: each purchase
    counts its preceding-window touches (share = value/n), then each
    touch sums the FOLLOWING-window purchase shares; both window passes
    and the final aggregate reuse the same partitioning. The strict
    (1 PRECEDING / us+1) frame bounds make the same-microsecond tie rule
    identical in both engines. (The oracle states the touch-side sum as
    a LATERAL join because SQL window frames cannot carry the
    purchase-only conditional sum — same semantics, different plan; at
    Spark scale the window form is the one that runs.)"""
    events = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(*ATTRIB_TOUCHES, "purchase")
    )
    b = events.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("us"),
    )
    w_before = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-ATTRIB_SPAN_US, -1)
    )
    is_touch = F.col("event_type").isin(*ATTRIB_TOUCHES)
    # an EMPTY range frame sums to NULL, not 0 — coalesce so the
    # no-touch purchase lands in the unattributed branch (both engines)
    w = b.withColumn(
        "n_touches",
        F.coalesce(
            F.sum(F.when(is_touch, 1).otherwise(0)).over(w_before),
            F.lit(0),
        ),
    )
    share = F.when(
        (F.col("event_type") == "purchase") & (F.col("n_touches") > 0),
        F.col("value") / F.col("n_touches"),
    )
    w_after = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(1, ATTRIB_SPAN_US)
    )
    credited = (
        w.withColumn("_share", share)
        .withColumn("cred", F.sum("_share").over(w_after))
        .filter(is_touch)
        .groupBy("event_type")
        .agg(
            round_to(F.sum(F.coalesce(F.col("cred"), F.lit(0.0))), 2).alias(
                "credited_value"
            ),
            F.sum(F.when(F.col("cred") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_credited"),
        )
    )
    unattr = (
        w.filter(
            (F.col("event_type") == "purchase") & (F.col("n_touches") == 0)
        )
        .agg(
            round_to(F.sum("value"), 2).alias("credited_value"),
            F.count("*").cast("long").alias("n_credited"),
        )
        .select(
            F.lit("unattributed").alias("event_type"),
            "credited_value",
            "n_credited",
        )
        .filter(F.col("n_credited") > 0)
    )
    return credited.unionAll(unattr)


# ------------------------------------------- frequent pattern mining

# Mining thresholds. The oracle SQL casts each literal to DOUBLE before
# the ceil (DuckDB would otherwise parse it as DECIMAL and do exact
# arithmetic), so BOTH engines compute minCount = ceil(minSupport * n)
# in IEEE doubles from the same literal and the cutoffs agree by
# construction, not by luck — threshold edits can't silently diverge
# the cross-engine agreement.
FPM_MIN_SUPPORT = 0.0002  # itemsets: fraction of baskets (orders) —
#   sized so the fixture's uniform-random baskets still surface
#   frequent pairs at every shipped scale (0.001 went output-empty at
#   sf0.1, a trivial pass; production corpora with real co-purchase
#   structure raise this)
SEQ_MIN_SUPPORT = 0.5  # sequences: fraction of user sequences
ASSOC_MIN_CONFIDENCE = 0.05  # rules: min P(consequent | antecedent)
ASSOC_MIN_SUPPORT = 0.0002  # rules: pair-support floor (below
#   FPM_MIN_SUPPORT so the rule lattice is non-empty at sweep scale --
#   random fixture baskets co-occur rarely; production raises both)


def _basket_pairs(df: DataFrame, key: str, item: str) -> DataFrame:
    """(key, item) rows → the distinct ORDERED co-occurrence pairs
    (u < v) per key, expanded IN-ROW from each key's sorted distinct
    item array: ONE shuffle on the basket key plus a per-row pair
    expansion, where the equivalent self-join shuffles the fact twice
    and joins (measured 3.5x slower at sf0.1 — 6.8 s vs 1.9 s for the
    1.2M-edge co-purchase graph). Pair volume is Σ C(|basket|, 2),
    identical either way; the expansion never leaves the row."""
    baskets = df.groupBy(key).agg(
        F.array_sort(F.collect_set(item)).alias("items")
    )
    return baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) ->"
                " transform(slice(items, i + 2, size(items)),"
                " y -> struct(x AS u, y AS v))))"
            )
        ).alias("p")
    ).select("p.u", "p.v")


def frequent_itemsets(baskets: DataFrame, min_support: float) -> DataFrame:
    """Frequent itemsets over ``(items: array)`` baskets via Spark ML's
    parallel FP-growth (Li et al., PFP, RecSys'08 — the distributed
    algorithm, JVM-side, shuffle = conditional pattern bases, never the
    basket cross product), sliced to itemsets of size <= 2 so the result
    is exactly ANSI-SQL-expressible (singles = per-item basket counts,
    pairs = co-occurrence counts) for the driver oracle. Items are
    sorted numerically inside each itemset and csv-joined, so the
    itemset string is deterministic."""
    from pyspark.ml.fpm import FPGrowth

    model = FPGrowth(
        itemsCol="items", minSupport=min_support, minConfidence=0.5
    ).fit(baskets)
    return (
        model.freqItemsets.filter(F.size("items") <= 2)
        .select(
            F.array_join(
                F.transform(F.array_sort("items"), lambda x: x.cast("string")),
                ",",
            ).alias("itemset"),
            F.size("items").cast("int").alias("n_items"),
            F.col("freq").cast("long").alias("support_count"),
        )
    )


@REG.add(
    "q_frequent_itemsets",
    f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    minc AS (
      SELECT CAST(CEIL(count(DISTINCT l_orderkey)
                       * CAST({FPM_MIN_SUPPORT} AS DOUBLE)) AS BIGINT)
               AS mc
      FROM b
    ),
    singles AS (
      SELECT CAST(l_partkey AS VARCHAR) AS itemset, 1 AS n_items,
             CAST(count(*) AS BIGINT) AS support_count
      FROM b GROUP BY l_partkey
    ),
    pairs AS (
      SELECT CAST(x.l_partkey AS VARCHAR) || ',' || CAST(y.l_partkey AS VARCHAR)
               AS itemset,
             2 AS n_items, CAST(count(*) AS BIGINT) AS support_count
      FROM b x JOIN b y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      GROUP BY x.l_partkey, y.l_partkey
    )
    SELECT itemset, CAST(n_items AS INT) AS n_items, support_count
    FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs), minc
    WHERE support_count >= mc
    """,
)
def q_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining over order baskets (each order's distinct
    parts): every itemset of size <= 2 carried by >= ceil(0.02% of
    orders), oracle-checked against plain co-occurrence SQL.

    Plan (r14): apriori pair slice, NOT FP-growth. Because the key only
    emits itemsets of size <= 2, the FP-tree machinery is pure overhead
    — the r14 sf1 probe measured the FPGrowth plan at 3.0 s / 9.7 s
    (sf0.1/sf1 warm medians, 3.24x at 10x data) vs 1.6 s / 3.3 s
    (2.03x) for this plan, identical output. Shape: ONE distinct
    shuffle materialized (localCheckpoint — consumed by the order
    count, the singles aggregate, and both self-join sides, so the
    distinct never recomputes); frequent singles broadcast back as an
    apriori semi-join prefilter (Agrawal-Srikant: no pair is frequent
    unless both members are), bounding the basket self-join's fan-out;
    the co-located orderkey self-join emits a<b pairs into a map-side-
    combining count. At 100 TB: two shuffles of the filtered basket
    frame + pair-count combine — no lattice, no model fit.
    ``frequent_itemsets`` (FP-growth) remains the library path for
    arbitrary-depth mining and q_association_rules."""
    import math

    lineitem = load(spark, sf_dir, "lineitem")
    b = (
        lineitem.select("l_orderkey", "l_partkey")
        .distinct()
        .transform(materialize)
    )
    n_orders = b.agg(F.countDistinct("l_orderkey").alias("n")).first()["n"]
    mc = math.ceil(n_orders * FPM_MIN_SUPPORT)
    singles = (
        b.groupBy("l_partkey")
        .agg(F.count("*").cast("long").alias("support_count"))
        .filter(F.col("support_count") >= mc)
        .transform(materialize)
    )
    fb = b.join(
        F.broadcast(singles.select("l_partkey")), "l_partkey", "left_semi"
    )
    x = fb.select("l_orderkey", F.col("l_partkey").alias("a"))
    y = fb.select("l_orderkey", F.col("l_partkey").alias("b"))
    pairs = (
        x.join(y, "l_orderkey")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("support_count"))
        .filter(F.col("support_count") >= mc)
    )
    out_singles = singles.select(
        F.col("l_partkey").cast("string").alias("itemset"),
        F.lit(1).cast("int").alias("n_items"),
        "support_count",
    )
    out_pairs = pairs.select(
        F.concat_ws(
            ",", F.col("a").cast("string"), F.col("b").cast("string")
        ).alias("itemset"),
        F.lit(2).cast("int").alias("n_items"),
        "support_count",
    )
    return out_singles.unionAll(out_pairs)


def frequent_sequences(
    sequences: DataFrame, min_support: float, max_len: int = 2
) -> DataFrame:
    """Sequential pattern mining over ``(sequence: array<array>)`` rows
    via Spark ML's PrefixSpan (Pei et al., ICDE'01 — projected-database
    parallelism; support = #sequences containing the pattern as a
    subsequence, counted once per sequence). ``max_len <= 2`` keeps the
    result ANSI-SQL-expressible for the oracle: length-1 = distinct
    carriers per item, length-2 = carriers with an ordered occurrence."""
    from pyspark.ml.fpm import PrefixSpan

    ps = PrefixSpan(
        minSupport=min_support,
        maxPatternLength=max_len,
        sequenceCol="sequence",
    )
    out = ps.findFrequentSequentialPatterns(sequences)
    return out.select(
        F.array_join(F.flatten("sequence"), ">").alias("pattern"),
        F.size("sequence").cast("int").alias("length"),
        F.col("freq").cast("long").alias("support_count"),
    )


@REG.add(
    "q_frequent_sequences",
    f"""
    WITH minc AS (
      SELECT CAST(CEIL(count(DISTINCT user_id) * {SEQ_MIN_SUPPORT}) AS BIGINT)
               AS mc
      FROM events
    ),
    singles AS (
      SELECT event_type AS pattern, 1 AS length,
             CAST(count(DISTINCT user_id) AS BIGINT) AS support_count
      FROM events GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type || '>' || b.event_type AS pattern, 2 AS length,
             CAST(count(DISTINCT a.user_id) AS BIGINT) AS support_count
      FROM events a JOIN events b ON a.user_id = b.user_id
        AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
      GROUP BY a.event_type, b.event_type
    )
    SELECT pattern, CAST(length AS INT) AS length, support_count
    FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs), minc
    WHERE support_count >= mc
    """,
)
def q_frequent_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent behavioral sequences: every event-type pattern of length
    <= 2 (e.g. 'view>purchase') followed, in order, by >= half the
    users. Per-user sequences are ordered by (ts, event_id) — the same
    deterministic tie-break every window key uses — with one
    single-item itemset per event, so PrefixSpan's 'strictly later
    itemset' rule equals the oracle's ordered-pair EXISTS."""
    events = load(spark, sf_dir, "events")
    seqs = events.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(ts, event_id,"
            " event_type))), s -> array(s.event_type))"
        ).alias("sequence")
    )
    return frequent_sequences(seqs, SEQ_MIN_SUPPORT)


@REG.add(
    "q_association_rules",
    f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM b),
    minc AS (SELECT CAST(CEIL(n * CAST({ASSOC_MIN_SUPPORT} AS DOUBLE)) AS BIGINT) AS mc FROM n),
    singles AS (
      SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS cnt
      FROM b GROUP BY l_partkey
    ),
    pairs AS (
      SELECT x.l_partkey AS a, y.l_partkey AS c,
             CAST(count(*) AS BIGINT) AS cnt
      FROM b x JOIN b y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey
      GROUP BY x.l_partkey, y.l_partkey
    )
    SELECT CAST(p.a AS VARCHAR) AS antecedent,
           CAST(p.c AS VARCHAR) AS consequent,
           (ROUND((p.cnt * 1.0 / sa.cnt) * 1000000, 0) / 1000000.0) AS confidence,
           (ROUND(((p.cnt * 1.0 / sa.cnt) / (sc.cnt * 1.0 / n.n)) * 1000000, 0) / 1000000.0) AS lift,
           (ROUND((p.cnt * 1.0 / n.n) * 1000000, 0) / 1000000.0) AS support
    FROM pairs p
    JOIN singles sa ON sa.item = p.a
    JOIN singles sc ON sc.item = p.c
    CROSS JOIN n CROSS JOIN minc
    WHERE p.cnt >= mc AND sa.cnt >= mc
      AND p.cnt * 1.0 / sa.cnt >= {ASSOC_MIN_CONFIDENCE}
    """,
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules from the frequent-pair lattice (the rules half
    of market-basket mining): every 1→1 rule whose antecedent AND pair
    are frequent, with confidence = sup(a,c)/sup(a), lift =
    confidence / (sup(c)/n), support = sup(a,c)/n — the standard
    Agrawal-Srikant measures, restricted to singleton antecedents/
    consequents so the whole rule set is exactly SQL-expressible for
    the oracle (Spark ML's ``associationRules`` emits the same measures
    from the FP-growth model; this key computes them from the SAME
    aggregates the oracle runs so the floats match fold-for-fold).

    Scale shape: one (order, part) distinct projection feeds a
    pair-count aggregate (map-side combined; the shuffle key is the
    part pair, never the basket) and two broadcast joins against the
    O(parts) singles frame. At 100 TB the pair aggregate is the classic
    co-occurrence shuffle — bounded by pairs actually co-occurring, not
    the cross product."""
    lineitem = load(spark, sf_dir, "lineitem")
    b = lineitem.select("l_orderkey", "l_partkey").distinct()
    n = b.select(F.countDistinct("l_orderkey").alias("n"))
    singles = b.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    # ordered pair counts from the in-row expansion, mirrored into both
    # rule directions (co-occurrence counts are symmetric)
    po = _basket_pairs(lineitem, "l_orderkey", "l_partkey").groupBy(
        F.col("u").alias("a"), F.col("v").alias("c")
    ).agg(F.count("*").cast("long").alias("cnt"))
    pairs = po.unionAll(
        po.select(F.col("c").alias("a"), F.col("a").alias("c"), "cnt")
    )
    sa = singles.select(F.col("item").alias("a"), F.col("cnt").alias("cnt_a"))
    sc = singles.select(F.col("item").alias("c"), F.col("cnt").alias("cnt_c"))
    mc = F.ceil(F.col("n") * ASSOC_MIN_SUPPORT).cast("long")
    conf = F.col("cnt") * 1.0 / F.col("cnt_a")
    return (
        pairs.join(F.broadcast(sa), "a")
        .join(F.broadcast(sc), "c")
        .crossJoin(F.broadcast(n))
        .filter(
            (F.col("cnt") >= mc)
            & (F.col("cnt_a") >= mc)
            & (conf >= ASSOC_MIN_CONFIDENCE)
        )
        .select(
            F.col("a").cast("string").alias("antecedent"),
            F.col("c").cast("string").alias("consequent"),
            round_to(conf, 6).alias("confidence"),
            round_to(conf / (F.col("cnt_c") * 1.0 / F.col("n")), 6).alias("lift"),
            round_to(F.col("cnt") * 1.0 / F.col("n"), 6).alias("support"),
        )
    )


EWMA_ALPHA = 0.3  # smoothing weight on the newest observation


@REG.add(
    "q_ewma_daily",
    f"""
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             list(CAST(cnt AS DOUBLE) ORDER BY day) AS vals,
             CAST(count(*) AS BIGINT) AS n_days,
             strftime(max(day), '%Y-%m-%d') AS last_day,
             CAST(max_by(cnt, day) AS BIGINT) AS last_value
      FROM d GROUP BY event_type
    )
    SELECT event_type, n_days, last_day, last_value,
           (ROUND((list_reduce(vals,
                 (acc, x) -> {EWMA_ALPHA} * x + {1 - EWMA_ALPHA} * acc)) * 1000000, 0) / 1000000.0)
             AS ewma_level,
           (ROUND((last_value - list_reduce(vals,
                 (acc, x) -> {EWMA_ALPHA} * x + {1 - EWMA_ALPHA} * acc)) * 1000000, 0) / 1000000.0)
             AS last_deviation
    FROM s
    """,
)
def q_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the daily event count per
    type (alpha = 0.3, seeded at the first day — the
    level-tracking smoother behind every "is today's volume normal?"
    monitor), reporting the current level and the last day's deviation
    from it.

    Scale shape: raw events collapse to ONE map-side-combined daily
    aggregate (O(types x days) — tiny forever); the sequential fold runs
    as a JVM ``aggregate`` over each type's date-ordered array, O(days)
    per type, no window shuffle. The fold is LEFT-TO-RIGHT in day order
    in both engines (DuckDB ``list_reduce`` seeds with the first
    element; Spark seeds with element 1 and folds the tail), so the
    order-dependent float recurrence is bit-reproducible — only the
    final emit rounds."""
    events = load(spark, sf_dir, "events")
    d = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    s = d.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, cnt))),"
            " p -> CAST(p.cnt AS DOUBLE))"
        ).alias("vals"),
        F.count("*").cast("long").alias("n_days"),
        F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_day"),
        F.expr("max_by(cnt, day)").cast("long").alias("last_value"),
    )
    ewma = F.expr(
        f"aggregate(slice(vals, 2, size(vals) - 1), vals[0],"
        f" (acc, x) -> {EWMA_ALPHA}D * x + {1 - EWMA_ALPHA}D * acc)"
    )
    return s.select(
        "event_type",
        "n_days",
        "last_day",
        "last_value",
        round_to(ewma, 6).alias("ewma_level"),
        round_to(F.col("last_value") - ewma, 6).alias("last_deviation"),
    )


@REG.add(
    "q_triangle_count",
    """
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      FROM b x JOIN b y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ),
    nodes AS (
      SELECT CAST(count(DISTINCT n) AS BIGINT) AS n_nodes
      FROM (SELECT u AS n FROM e UNION SELECT v FROM e)
    ),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM e ab JOIN e bc ON ab.v = bc.u JOIN e ac
        ON ac.u = ab.u AND ac.v = bc.v
    ),
    wedges AS (
      SELECT CAST(COALESCE(SUM(d * (d - 1) / 2), 0) AS BIGINT) AS n_wedges
      FROM (
        SELECT n, count(*) AS d
        FROM (SELECT u AS n, v FROM e UNION ALL SELECT v, u FROM e)
        GROUP BY n
      )
    )
    SELECT n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           n_triangles,
           n_wedges,
           (ROUND((CASE WHEN n_wedges = 0 THEN 0.0
                      ELSE 3.0 * n_triangles / n_wedges END) * 1000000, 0) / 1000000.0)
             AS clustering_coefficient
    FROM nodes, tri, wedges
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    co-purchase graph (parts are nodes, an edge = the pair co-occurred
    in some order) — the graph-health primitive behind community/
    clustering analyses, distinct from connected components.

    Algorithm: degree-ordered edge orientation (Schank's forward /
    Suri & Vassilvitskii's MapReduce node-iterator, WWW'11) — every
    edge is oriented from its LOWER-(degree, id) endpoint to the
    higher, and a triangle is an oriented edge (u, v) plus a common
    out-neighbor. The orientation is a total order, so each triangle is
    counted exactly ONCE under ANY such order — the count is
    orientation-invariant, which is why the oracle can keep the plain
    id-ordered triple join while Spark runs the degree-ordered form.
    Degree ordering is the hub-taming trick: out-degree is bounded by
    O(sqrt(edges)) on any graph, so the wedge volume Σ C(d⁺, 2) stays
    polynomial even when a raw hub's d² would explode. The fixture's
    co-purchase graph is near-uniform-degree (d≈120 for all 20k parts
    at sf0.1), so the ordering buys little THERE; the payoff is on
    skewed real graphs, which is the regime this orientation exists
    for. Counts are exact integers, so the oracle mirrors
    cell-for-cell; the coefficient is the one order-dependent float
    and rounds at emit.

    The graph is the graph family's one adjacency
    (``llm/clustering.py::_adjacency``): one ``aggregate_row`` job reads
    n_nodes, 2m and the wedge count Σ C(|dsts|, 2) off it, and each
    end's degree is ``size(dsts)``, so no degree table is built.
    Triangles are counted as Σ over oriented edges (u, v) of
    |N⁺(u) ∩ N⁺(v)|: a triangle {a<b<c} (rank order) is counted once,
    at its base edge (a, b). The O(V) out-neighbour arrays and the O(E)
    oriented edge list are shuffled, never the Σ C(d⁺, 2) wedge rows,
    and the intersection runs in-row."""
    from reactor_window_like_flink_spark.llm.clustering import _adjacency

    lineitem = load(spark, sf_dir, "lineitem")
    adj = _adjacency(_basket_pairs(lineitem, "l_orderkey", "l_partkey"))
    deg = F.size("dsts").cast("long")
    n_nodes, two_m, two_wedges = aggregate_row(
        adj,
        F.count("*"),
        F.coalesce(F.sum(deg), F.lit(0)),
        F.coalesce(F.sum(deg * (deg - 1)), F.lit(0)),
    )
    n_wedges = two_wedges // 2
    # orient each edge lower-(degree, id) -> higher; rk packs (degree, id)
    # into one sortable long key (ids are int-ranged)
    rk = lambda d, n: d * F.lit(2**32) + n  # noqa: E731
    far = adj.select(F.col("src").alias("dst"), F.size("dsts").alias("dd"))
    eo = (
        adj.select(
            "src", F.size("dsts").alias("ds"), F.explode("dsts").alias("dst")
        )
        .join(F.broadcast(far), "dst")
        .filter(rk(F.col("ds"), F.col("src")) < rk(F.col("dd"), F.col("dst")))
        .select("src", "dst")
        .transform(materialize)  # read by the out-adjacency AND the edge probe
    )
    out_adj = eo.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    au = out_adj.select(F.col("src").alias("_u"), F.col("nbrs").alias("nu"))
    av = out_adj.select(F.col("src").alias("_v"), F.col("nbrs").alias("nv"))
    tri = (
        eo.join(au, eo.src == au._u)
        .join(av, eo.dst == av._v, "left")
        .agg(
            F.sum(
                F.when(F.col("nv").isNull(), 0).otherwise(
                    F.size(F.array_intersect("nu", "nv"))
                )
            )
            .cast("long")
            .alias("n_triangles")
        )
    )
    coeff = (
        3.0 * F.col("n_triangles") / n_wedges if n_wedges else F.lit(0.0)
    )
    return tri.select(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.lit(two_m // 2).cast("long").alias("n_edges"),
        F.coalesce("n_triangles", F.lit(0).cast("long")).alias("n_triangles"),
        F.lit(n_wedges).cast("long").alias("n_wedges"),
        round_to(coeff, 6).alias("clustering_coefficient"),
    )


HOLT_ALPHA = 0.3  # level smoothing (matches EWMA_ALPHA's regime)
HOLT_BETA = 0.1  # trend smoothing


@REG.add(
    "q_holt_trend",
    f"""
    WITH RECURSIVE d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, day, CAST(cnt AS DOUBLE) AS x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM d
    ),
    hw AS (
      SELECT event_type, rn, n, x AS l, CAST(0.0 AS DOUBLE) AS b
      FROM r WHERE rn = 1
      UNION ALL
      SELECT r.event_type, r.rn, r.n,
             CAST({HOLT_ALPHA} AS DOUBLE) * r.x
               + CAST({1 - HOLT_ALPHA} AS DOUBLE) * (hw.l + hw.b),
             CAST({HOLT_BETA} AS DOUBLE)
               * ((CAST({HOLT_ALPHA} AS DOUBLE) * r.x
                   + CAST({1 - HOLT_ALPHA} AS DOUBLE) * (hw.l + hw.b))
                  - hw.l)
               + CAST({1 - HOLT_BETA} AS DOUBLE) * hw.b
      FROM hw JOIN r
        ON r.event_type = hw.event_type AND r.rn = hw.rn + 1
    ),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             strftime(max(day), '%Y-%m-%d') AS last_day,
             CAST(max_by(cnt, day) AS BIGINT) AS last_value
      FROM d GROUP BY event_type
    )
    SELECT s.event_type, s.n_days, s.last_day, s.last_value,
           (ROUND((hw.l) * 1000000, 0) / 1000000.0) AS level,
           (ROUND((hw.b) * 1000000, 0) / 1000000.0) AS trend,
           (ROUND((hw.l + hw.b) * 1000000, 0) / 1000000.0) AS forecast_next
    FROM hw JOIN s ON hw.event_type = s.event_type
    WHERE hw.rn = hw.n
    """,
)
def q_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing of the daily event
    count per type (Holt 1957 / the ETS(A,A,N) workhorse): level AND
    trend state, plus the one-step forecast — the monitor that catches
    a steady drift ``q_ewma_daily``'s level-only smoother lags on
    (EWMA under-forecasts a trending series by b/alpha forever).
    Recurrence, seeded l_1 = x_1, b_1 = 0:
    l_t = a*x_t + (1-a)(l_{{t-1}} + b_{{t-1}});
    b_t = B*(l_t - l_{{t-1}}) + (1-B)*b_{{t-1}}.

    Scale shape — the q_ewma_daily device with a 2-field state: events
    collapse to ONE map-side-combined O(types x days) daily aggregate;
    the order-dependent recurrence folds LEFT-TO-RIGHT in day order as
    a JVM ``aggregate`` over each type's date-ordered array with a
    ``named_struct(l, b)`` accumulator (Spark evaluates both fields
    against the PRE-update accumulator — verified; DuckDB 1.0's
    list_reduce mis-evaluates struct accumulators, so the oracle runs
    the identical arithmetic as a RECURSIVE CTE instead, one row per
    (type, day) step). Only the final emit rounds — the fold itself is
    bit-reproducible across engines."""
    events = load(spark, sf_dir, "events")
    d = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    s = d.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, cnt))),"
            " p -> CAST(p.cnt AS DOUBLE))"
        ).alias("vals"),
        F.count("*").cast("long").alias("n_days"),
        F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_day"),
        F.expr("max_by(cnt, day)").cast("long").alias("last_value"),
    )
    a, b = HOLT_ALPHA, HOLT_BETA
    hw = F.expr(
        f"aggregate(slice(vals, 2, size(vals) - 1),"
        f" named_struct('l', vals[0], 'b', CAST(0.0 AS DOUBLE)),"
        f" (acc, x) -> named_struct("
        f"   'l', {a}D * x + {1 - a}D * (acc.l + acc.b),"
        f"   'b', {b}D * (({a}D * x + {1 - a}D * (acc.l + acc.b)) - acc.l)"
        f"        + {1 - b}D * acc.b))"
    )
    return s.select(
        "event_type",
        "n_days",
        "last_day",
        "last_value",
        round_to(hw["l"], 6).alias("level"),
        round_to(hw["b"], 6).alias("trend"),
        round_to(hw["l"] + hw["b"], 6).alias("forecast_next"),
    )


@REG.add(
    "q_dow_seasonal_anomaly",
    """
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, day, cnt, isodow(day) AS dow FROM d
    ),
    s AS (
      SELECT event_type, dow,
             CAST(count(*) AS BIGINT) AS n_days,
             AVG(CAST(cnt AS DOUBLE)) AS mu,
             stddev_pop(CAST(cnt AS DOUBLE)) AS sigma
      FROM w GROUP BY 1, 2
    )
    SELECT w.event_type, strftime(w.day, '%Y-%m-%d') AS day,
           CAST(w.dow AS INT) AS dow, w.cnt,
           s.n_days AS dow_n,
           (ROUND((s.mu) * 1000000, 0) / 1000000.0) AS dow_mean,
           (ROUND((CASE WHEN s.sigma > 0 THEN (w.cnt - s.mu) / s.sigma
                 ELSE 0.0 END) * 10000, 0) / 10000.0) AS seasonal_z
    FROM w JOIN s ON w.event_type = s.event_type AND w.dow = s.dow
    """,
)
def q_dow_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonally adjusted volume anomaly: each (type, day)
    count z-scored against ITS WEEKDAY's distribution — the seasonal
    residual member of the volume-monitor trio (q_ewma_daily level,
    q_holt_trend drift, this one periodicity): a quiet Sunday is normal
    for Sundays, and a Monday-sized Sunday is the anomaly a global
    z-score (q_outliers) averages away. ISO weekday numbering is the
    one dow convention both engines share (Spark ``weekday()+1`` ==
    DuckDB ``isodow``; their ``dayofweek``s disagree on where Sunday
    lands).

    Scale shape: events collapse to the same ONE map-side-combined
    O(types x days) daily aggregate as the smoothers; the (type, dow)
    stats frame is O(types x 7) and broadcast back onto it — no window,
    no second pass over raw events. Degenerate weekdays (sigma = 0)
    score z = 0 rather than dividing by zero."""
    events = load(spark, sf_dir, "events")
    d = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    w = d.withColumn("dow", (F.weekday("day") + 1).cast("int"))
    s = w.groupBy("event_type", "dow").agg(
        F.count("*").cast("long").alias("dow_n"),
        F.avg(F.col("cnt").cast("double")).alias("mu"),
        F.stddev_pop(F.col("cnt").cast("double")).alias("sigma"),
    )
    z = F.when(
        F.col("sigma") > 0, (F.col("cnt") - F.col("mu")) / F.col("sigma")
    ).otherwise(F.lit(0.0))
    return w.join(F.broadcast(s), ["event_type", "dow"]).select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dow",
        "cnt",
        "dow_n",
        round_to("mu", 6).alias("dow_mean"),
        round_to(z, 4).alias("seasonal_z"),
    )


# ------------------------------------------- experimentation statistics

ABTEST_CONV_VALUE = 200.0  # conversion: any purchase with value above this


@REG.add(
    "q_abtest_ztest",
    f"""
    WITH u AS (
      SELECT user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 AS grp,
             MAX(CASE WHEN event_type = 'purchase'
                       AND value > {ABTEST_CONV_VALUE} THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
             CAST(sum(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
      FROM u
    )
    SELECT n_a, n_b, c_a, c_b,
           (ROUND((c_a * 1.0 / n_a) * 1000000, 0) / 1000000.0) AS rate_a,
           (ROUND((c_b * 1.0 / n_b) * 1000000, 0) / 1000000.0) AS rate_b,
           CASE WHEN n_a = 0 OR n_b = 0
                  OR (c_a + c_b) = 0 OR (c_a + c_b) = (n_a + n_b)
             THEN NULL
             ELSE (ROUND(((c_a * 1.0 / n_a - c_b * 1.0 / n_b)
                  / sqrt(((c_a + c_b) * 1.0 / (n_a + n_b))
                         * (1.0 - (c_a + c_b) * 1.0 / (n_a + n_b))
                         * (1.0 / n_a + 1.0 / n_b))) * 10000, 0) / 10000.0) END AS z_stat
    FROM s
    """,
)
def q_abtest_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test over a hash-randomized A/B split:
    users assigned by md5(user_id) % 2 (the RNG-free assignment device
    — deterministic, uniform, and exactly what a real experiment
    framework hashes), conversion = any purchase above
    200.0, z = (p_a − p_b) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b))
    — the experimentation readout that joins q_chi2_contingency in the
    closed-form statistics tier. Degenerate splits (empty arm, zero or
    full conversion) emit NULL rather than ±inf, identically in both
    engines.

    Scale shape: ONE map-side-combined per-user aggregate (the only
    shuffle, keyed on user_id), then a 1-row global fold — at 100 TB
    the z-statistic costs one pass over events and exchanges O(users)
    compact rows."""
    events = load(spark, sf_dir, "events")
    grp = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
    )
    u = events.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > ABTEST_CONV_VALUE),
                1,
            ).otherwise(0)
        ).alias("conv")
    ).withColumn("grp", grp)
    s = u.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("grp") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("grp") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    p = (F.col("c_a") + F.col("c_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
    z = (
        F.col("c_a") * 1.0 / F.col("n_a")
        - F.col("c_b") * 1.0 / F.col("n_b")
    ) / F.sqrt(p * (1.0 - p) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    degenerate = (
        (F.col("n_a") == 0)
        | (F.col("n_b") == 0)
        | ((F.col("c_a") + F.col("c_b")) == 0)
        | ((F.col("c_a") + F.col("c_b")) == (F.col("n_a") + F.col("n_b")))
    )
    return s.select(
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        round_to(F.col("c_a") * 1.0 / F.col("n_a"), 6).alias("rate_a"),
        round_to(F.col("c_b") * 1.0 / F.col("n_b"), 6).alias("rate_b"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(round_to(z, 4))
        .alias("z_stat"),
    )


@REG.add(
    "q_anova_f",
    """
    WITH g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(n_chars AS DOUBLE)) AS s,
             SUM(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) AS ss
      FROM documents GROUP BY source
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS n_tot,
             SUM(s) AS s_tot, SUM(ss) AS ss_tot,
             SUM(s * s / n) AS sq_means
      FROM g
    )
    SELECT k, n_tot,
           (ROUND(((sq_means - s_tot * s_tot / n_tot) / (k - 1)) * 1000000, 0) / 1000000.0)
             AS ms_between,
           (ROUND(((ss_tot - sq_means) / (n_tot - k)) * 1000000, 0) / 1000000.0) AS ms_within,
           CASE WHEN k < 2 OR n_tot <= k OR (ss_tot - sq_means) = 0
             THEN NULL
             ELSE (ROUND((((sq_means - s_tot * s_tot / n_tot) / (k - 1))
                  / ((ss_tot - sq_means) / (n_tot - k))) * 10000, 0) / 10000.0) END AS f_stat
    FROM t
    """,
)
def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-statistic of document length across sources —
    "do sources differ in length beyond within-source noise?", the
    continuous-outcome member of the statistics tier (chi-squared:
    categorical×categorical; A/B z: binary across two arms; this:
    continuous across k groups). Computed from per-group sufficient
    statistics only: F = MS_between / MS_within with
    SS_between = Σ sᵢ²/nᵢ − S²/N and SS_within = Σ ssᵢ − Σ sᵢ²/nᵢ.

    Scale shape: ONE map-side-combined per-source (n, Σx, Σx²)
    aggregate — O(sources) rows — then a 1-row fold; the integral
    n_chars values make every sum order-exact in doubles, so the
    statistic is bit-stable across engines before the final round.
    Degenerate inputs (one group, zero within-variance) emit NULL."""
    docs = load(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("double")
    g = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).alias("s"),
        F.sum(x * x).alias("ss"),
    )
    t = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("s").alias("s_tot"),
        F.sum("ss").alias("ss_tot"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sq_means"),
    )
    ms_between = (
        F.col("sq_means") - F.col("s_tot") * F.col("s_tot") / F.col("n_tot")
    ) / (F.col("k") - 1)
    ms_within = (F.col("ss_tot") - F.col("sq_means")) / (
        F.col("n_tot") - F.col("k")
    )
    degenerate = (
        (F.col("k") < 2)
        | (F.col("n_tot") <= F.col("k"))
        | ((F.col("ss_tot") - F.col("sq_means")) == 0)
    )
    return t.select(
        "k",
        "n_tot",
        round_to(ms_between, 6).alias("ms_between"),
        round_to(ms_within, 6).alias("ms_within"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(round_to(ms_between / ms_within, 4))
        .alias("f_stat"),
    )


def _abtest_arm(col: str = "user_id") -> F.Column:
    """md5-hash A/B arm assignment (the q_abtest_ztest device): arm =
    first-8-hex-digits of md5(user_id) mod 2 — RNG-free, uniform, and
    identical in DuckDB (``('0x' || substr(md5(..),1,8))::BIGINT % 2``)."""
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )


_ABTEST_ARM_SQL = (
    "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 2"
)

# Shared CTE: per distinct metric value, the two arms' counts plus the
# running count of strictly-smaller values — the sufficient statistics
# for every rank / ECDF test (the window runs over DISTINCT values, not
# events; for a truly continuous 100 TB metric, bucket values first —
# the q_histogram device — and the rank tests below are exact on the
# bucketed metric).
_RANK_STATS_SQL = f"""
    WITH v AS (
      SELECT value AS v, {_ABTEST_ARM_SQL} AS grp FROM events
    ),
    per AS (
      SELECT v,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM v GROUP BY v
    ),
    c AS (
      SELECT ca, cb, ca + cb AS t,
             COALESCE(SUM(ca + cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM per
    )
"""


@REG.add(
    "q_mannwhitney_u",
    _RANK_STATS_SQL
    + """,
    s AS (
      SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b,
             SUM(ca * (cum_before + (t + 1) / 2.0)) AS r_a,
             SUM(CAST(t AS DOUBLE) * t * t - t) AS ties
      FROM c
    )
    SELECT n_a, n_b,
           (ROUND((r_a - n_a * (n_a + 1) / 2.0) * 100, 0) / 100.0) AS u_a,
           CASE WHEN n_a = 0 OR n_b = 0
                  OR (n_a * 1.0 * n_b / 12.0)
                     * ((n_a + n_b + 1)
                        - ties / ((n_a + n_b) * (n_a + n_b - 1.0))) <= 0
             THEN NULL
             ELSE (ROUND((((r_a - n_a * (n_a + 1) / 2.0)
                         - n_a * 1.0 * n_b / 2.0)
                  / sqrt((n_a * 1.0 * n_b / 12.0)
                         * ((n_a + n_b + 1)
                            - ties / ((n_a + n_b) * (n_a + n_b - 1.0))))) * 10000, 0) / 10000.0)
             END AS z_stat
    FROM s
    """,
)
def q_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test between the two hash-randomized
    arms on ``events.value`` — the NONPARAMETRIC member of the
    statistics tier (z-test: binary; ANOVA: continuous-normal; this:
    continuous with no distributional assumption, the test a metrics
    platform runs when revenue-per-event is heavy-tailed). Tied values
    get the average rank (cum_before + (t+1)/2); the normal
    approximation uses the exact tie-corrected variance
    sigma^2 = (n_a n_b / 12) * ((N+1) - sum(t^3 - t) / (N (N-1))).

    Scale shape: one map-side-combined groupBy on the metric VALUE
    (events collapse to O(distinct values) rows), one window pass over
    those distinct values for the running rank offset, then a 1-row
    fold. Rank sums are exact in doubles (half-integer ranks times
    integer counts), so the statistic is bit-stable across engines
    before the final round. Degenerate inputs (empty arm, all values
    tied) emit NULL."""
    events = load(spark, sf_dir, "events")
    per = (
        events.withColumn("grp", _abtest_arm())
        .groupBy(F.col("value").alias("v"))
        .agg(
            F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
    )
    t = (F.col("ca") + F.col("cb")).alias("t")
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    c = per.select(
        "ca",
        "cb",
        t,
        F.coalesce(
            F.sum(F.col("ca") + F.col("cb")).over(w), F.lit(0)
        ).alias("cum_before"),
    )
    s = c.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(
            F.col("ca") * (F.col("cum_before") + (F.col("t") + 1) / 2.0)
        ).alias("r_a"),
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")
        ).alias("ties"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    u_a = F.col("r_a") - n_a * (n_a + 1) / 2.0
    sig2 = (n_a * 1.0 * n_b / 12.0) * (
        (n_a + n_b + 1) - F.col("ties") / ((n_a + n_b) * (n_a + n_b - 1.0))
    )
    degenerate = (n_a == 0) | (n_b == 0) | (sig2 <= 0)
    return s.select(
        "n_a",
        "n_b",
        round_to(u_a, 2).alias("u_a"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(round_to((u_a - n_a * 1.0 * n_b / 2.0) / F.sqrt(sig2), 4))
        .alias("z_stat"),
    )


@REG.add(
    "q_ks_test",
    _RANK_STATS_SQL
    + """,
    cum AS (
      SELECT SUM(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
             SUM(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
      FROM per
    ),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b
      FROM per
    )
    SELECT n_a, n_b,
           CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
             ELSE (ROUND((MAX(ABS(cum_a * 1.0 / n_a - cum_b * 1.0 / n_b))) * 1000000, 0) / 1000000.0)
             END AS d_stat,
           CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
             ELSE (ROUND((MAX(ABS(cum_a * 1.0 / n_a - cum_b * 1.0 / n_b))
                  * sqrt(n_a * 1.0 * n_b / (n_a + n_b))) * 10000, 0) / 10000.0)
             END AS ks_stat
    FROM cum, tot
    GROUP BY n_a, n_b
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the hash-randomized
    arms on ``events.value``: D = max over pooled distinct values of
    |ECDF_a - ECDF_b|, plus the scaled statistic D * sqrt(n_a n_b / N)
    (the quantity compared against the Kolmogorov critical values) —
    the whole-DISTRIBUTION readout that catches variance/shape shifts a
    mean test (q_abtest_ztest / q_anova_f) misses, e.g. an experiment
    that moves the tail without moving the mean.

    Scale shape: the same O(distinct values) sufficient statistics as
    q_mannwhitney_u (shared CTE in the oracle) — one value-keyed
    map-side-combined aggregate, one window pass over distinct values
    for the two running ECDFs, one 1-row max fold. ECDF ratios are
    single IEEE divisions of exact integer counts, so D is bit-stable
    across engines before the round. Empty arms emit NULL."""
    events = load(spark, sf_dir, "events")
    per = (
        events.withColumn("grp", _abtest_arm())
        .groupBy(F.col("value").alias("v"))
        .agg(
            F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    tot = per.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    diff = F.abs(
        F.col("cum_a") * 1.0 / n_a - F.col("cum_b") * 1.0 / n_b
    )
    joined = cum.crossJoin(F.broadcast(tot))
    return joined.groupBy("n_a", "n_b").agg(
        F.when((n_a == 0) | (n_b == 0), F.lit(None).cast("double"))
        .otherwise(round_to(F.max(diff), 6))
        .alias("d_stat"),
        F.when((n_a == 0) | (n_b == 0), F.lit(None).cast("double"))
        .otherwise(
            round_to(F.max(diff) * F.sqrt(n_a * 1.0 * n_b / (n_a + n_b)), 4)
        )
        .alias("ks_stat"),
    )


# ------------------------------------------------- time-series diagnostics

AUTOCORR_LAGS = (1, 7)  # day-over-day persistence and weekly seasonality


@REG.add(
    "q_autocorr",
    f"""
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, cnt,
             AVG(cnt) OVER (PARTITION BY event_type) AS mu,
             {", ".join(
                 f"LAG(cnt, {k}) OVER (PARTITION BY event_type ORDER BY day)"
                 f" AS x{k}"
                 for k in AUTOCORR_LAGS
             )}
      FROM d
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           {", ".join(
               f"CASE WHEN SUM((cnt - mu) * (cnt - mu)) = 0 THEN NULL"
               f" ELSE (ROUND((SUM(CASE WHEN x{k} IS NOT NULL THEN"
               f" (cnt - mu) * (x{k} - mu) ELSE 0 END)"
               f" / SUM((cnt - mu) * (cnt - mu))) * 1000000, 0) / 1000000.0) END AS r_lag{k}"
               for k in AUTOCORR_LAGS
           )}
    FROM lagged
    GROUP BY event_type
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type lag-1 and lag-7
    autocorrelation of the daily event-count series (the standard ACF
    estimator r_k = Σ(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)² over observed
    days) — the diagnostic that says whether a metric has day-over-day
    persistence and weekly seasonality BEFORE anyone fits the Holt /
    seasonal models (q_holt_trend, q_dow_seasonal_anomaly) that assume
    them. Lags index the day-ordered observed series; an all-constant
    series (zero variance) emits NULL, not a 0/0.

    Scale shape: events collapse to the same ONE map-side-combined
    O(types × days) daily aggregate as the smoother family; the lag
    windows and both fold sums run per type over those O(days) rows —
    raw events are never windowed. The mean enters as a per-type
    window aggregate over the SAME tiny frame (no second fact pass);
    products of day-count deviations sum exactly enough that round(6)
    absorbs association differences."""
    events = load(spark, sf_dir, "events")
    d = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("cnt"))
    wt = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("day")
    lagged = d.select(
        "event_type",
        "cnt",
        F.avg("cnt").over(wt).alias("mu"),
        *[F.lag("cnt", k).over(wo).alias(f"x{k}") for k in AUTOCORR_LAGS],
    )
    dev = F.col("cnt") - F.col("mu")
    var = F.sum(dev * dev)
    aggs = [F.count("*").cast("long").alias("n_days")]
    for k in AUTOCORR_LAGS:
        num = F.sum(
            F.when(
                F.col(f"x{k}").isNotNull(),
                dev * (F.col(f"x{k}") - F.col("mu")),
            ).otherwise(0.0)
        )
        aggs.append(
            F.when(var == 0, F.lit(None).cast("double"))
            .otherwise(round_to(num / var, 6))
            .alias(f"r_lag{k}")
        )
    return lagged.groupBy("event_type").agg(*aggs)


# ------------------------------------------------- distributed bootstrap

BOOT_B = 100  # replicates
BOOT_LO_RANK = 3  # ~2.5th percentile order statistic of B=100 means
BOOT_HI_RANK = 98  # ~97.5th
# Poisson(1) inverse-CDF ladder (the distributed bootstrap device: each
# row's replicate-b resample weight is Poisson(1), drawn from the
# hash-uniform — Kleiner et al.'s scalable bootstrap practice; exact
# multinomial resampling needs global coordination, Poissonization
# doesn't). Cumulative probabilities as repr'd doubles so both engines
# parse bit-identical literals; the tail (k > 8) rounds to weight 9.
_POISSON_CDF: list[float] = []
_acc, _term = 0.0, 2.718281828459045**-1
for _k in range(9):
    _acc += _term
    _POISSON_CDF.append(_acc)
    _term /= _k + 1


def _poisson_case(u_expr: str) -> str:
    """CASE ladder mapping a uniform [0,1) expression to Poisson(1)."""
    whens = " ".join(
        f"WHEN {u_expr} < {c!r} THEN {k}"
        for k, c in enumerate(_POISSON_CDF)
    )
    return f"(CASE {whens} ELSE 9 END)"


_BOOT_U_SPARK = (
    "(conv(substring(md5(concat(cast(event_id AS STRING), '|',"
    " cast(b AS STRING))), 1, 8), 16, 10) / 4294967296.0)"
)
_BOOT_U_DUCK = (
    "(CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|'"
    " || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0)"
)


@REG.add(
    "q_bootstrap_ci",
    f"""
    WITH rep AS (
      SELECT e.event_id, e.value, b.b
      FROM events e, (SELECT unnest(generate_series(0, {BOOT_B - 1})) AS b) b
    ),
    means AS (
      SELECT b,
             (ROUND((SUM({_poisson_case(_BOOT_U_DUCK)} * value)
                   / SUM({_poisson_case(_BOOT_U_DUCK)})) * 1000000, 0) / 1000000.0) AS m
      FROM rep GROUP BY b
    ),
    ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS r FROM means
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             (ROUND((AVG(value)) * 1000000, 0) / 1000000.0) AS est_mean
      FROM events
    )
    SELECT n_events, CAST({BOOT_B} AS BIGINT) AS boot_b, est_mean,
           (SELECT m FROM ranked WHERE r = {BOOT_LO_RANK}) AS ci_lo,
           (SELECT m FROM ranked WHERE r = {BOOT_HI_RANK}) AS ci_hi
    FROM base
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-bootstrap 95% CI for mean(events.value) via the
    POISSONIZED bootstrap: replicate b reweights each row by a
    Poisson(1) count drawn from md5(event_id|b) — the distributed
    bootstrap (Kleiner et al., JRSS-B 2014 lineage): i.i.d.-per-row
    weights need no global coordination, so the resample is one scan
    expression, fully deterministic, identical at any cluster size.
    CI bounds are the 3rd / 98th order
    statistics of the 100 replicate means (ties broken by
    replicate id). Completes the statistics tier with the
    assumption-free interval the z/F/U tests' normal approximations
    can't give.

    Scale shape: the replicate fan-out is an in-row constant-array
    explode (rows × 100, no join, no data-dependent shuffle);
    replicate means are ONE map-side-combined aggregate keyed on the
    100-value b — the shuffle carries B×tasks partial rows; the
    rank window runs over 100 rows. Weighted sums round(6) before
    ranking so both engines rank identical values; Σw is integer-exact.
    The fan-out is repartitioned across cores first — a small-file scan
    otherwise runs the whole rows × B draw on ONE input split (measured
    8.1 -> 1.3 s solo at sf0.1). ``q_bootstrap_ci_fast`` is the
    digest-cheap twin (one md5 per row + counter mixer)."""
    return _bootstrap_ci(spark, sf_dir, F.col("event_id"), _BOOT_U_SPARK)


def _bootstrap_ci(
    spark: SparkSession, sf_dir: str, seed: Column, u_expr: str
) -> DataFrame:
    """The tree both bootstrap keys share: the one-row base estimate
    crossed with the percentile CI of the ``BOOT_B`` Poissonized
    replicate means. ``seed`` is the per-row column of ``events`` the
    draw reads and ``u_expr`` the SQL uniform over it and the replicate
    id ``b``."""
    events = load(spark, sf_dir, "events")
    # spread the few-file scan across all cores BEFORE the B-way fan-out
    # (the llm/dedup._tokenized device): without it the 10M-cell draw
    # runs on the scan's single input split
    base_rows = events.select(seed, "value").repartition(
        spark.sparkContext.defaultParallelism
    )
    rep = base_rows.select(
        "*", F.explode(F.expr(f"sequence(0, {BOOT_B - 1})")).alias("b")
    )
    # materialize the weight ONCE per exploded row: the draw is the
    # dominant cost and Spark does not CSE it across the two aggregate
    # expressions (measured ~2x at sf0.1)
    rep = rep.select("b", "value", F.expr(_poisson_case(u_expr)).alias("w"))
    means = rep.groupBy("b").agg(
        round_to(F.sum(F.col("w") * F.col("value")) / F.sum("w"), 6).alias("m")
    )
    ranked = means.select(
        "m", F.row_number().over(Window.orderBy("m", "b")).alias("r")
    )
    # conditional aggregates, not filters: they stay 1-row (NULL) on an
    # empty corpus, matching the oracle's scalar subqueries
    ci = ranked.agg(
        F.min(F.when(F.col("r") == BOOT_LO_RANK, F.col("m"))).alias("ci_lo"),
        F.min(F.when(F.col("r") == BOOT_HI_RANK, F.col("m"))).alias("ci_hi"),
    )
    base = events.agg(
        F.count("*").cast("long").alias("n_events"),
        round_to(F.avg("value"), 6).alias("est_mean"),
    ).select(
        "n_events",
        F.lit(BOOT_B).cast("long").alias("boot_b"),
        "est_mean",
    )
    return base.crossJoin(F.broadcast(ci))


# Counter-based mixer for the fast bootstrap: seed = one md5 per ROW,
# then per replicate two multiply-mod rounds with xor/shift breaks (a
# Lehmer generator with murmur-style finalizer steps). Constants chosen
# so every intermediate product stays under 2^63 in BOTH engines
# (DuckDB BIGINT errors on overflow — it cannot wrap): operands are
# reduced mod P (< 2^32) before each multiply by an A < 2^31.
_MIX_P = 4294967291  # largest prime < 2^32
_MIX_A1 = 1597334677
_MIX_A2 = 747796405
_MIX_C = 2654435761  # Knuth's 2^32/phi


def _fast_u(engine: str) -> str:
    """Uniform [0,1) from (h0, b) — h0 the per-row md5 seed column."""
    xor = (
        "(h0 ^ (b * {c}))".format(c=_MIX_C)
        if engine == "spark"
        else "xor(h0, b * {c})".format(c=_MIX_C)
    )
    x1 = f"({xor} % {_MIX_P})"
    m1 = f"(({x1} * {_MIX_A1}) % {_MIX_P})"
    x2 = (
        f"({m1} ^ ({m1} >> 16))"
        if engine == "spark"
        else f"xor({m1}, {m1} >> 16)"
    )
    m2 = f"((({x2}) * {_MIX_A2}) % {_MIX_P})"
    # CAST the divisor: Spark parses the bare literal 4294967291.0 as
    # DECIMAL(11,1), making the quotient DECIMAL(33,12) (quantized
    # half-up at 1e-12) while DuckDB divides in DOUBLE — a draw within
    # ~5e-13 of a Poisson CDF boundary would weight differently in the
    # two engines. Forcing DOUBLE division makes the mixer's arithmetic
    # genuinely engine-neutral, not just fixture-neutral.
    return f"({m2} / CAST({float(_MIX_P)!r} AS DOUBLE))"


_H0_SPARK = (
    "conv(substring(md5(cast(event_id AS STRING)), 1, 8), 16, 10)"
)
_H0_DUCK = (
    "CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)"
)


@REG.add(
    "q_bootstrap_ci_fast",
    f"""
    WITH seeded AS (
      SELECT {_H0_DUCK} AS h0, value FROM events
    ),
    rep AS (
      SELECT s.h0, s.value, b.b
      FROM seeded s,
           (SELECT unnest(generate_series(0, {BOOT_B - 1})) AS b) b
    ),
    means AS (
      SELECT b,
             (ROUND((SUM({_poisson_case(_fast_u("duck"))} * value)
                   / SUM({_poisson_case(_fast_u("duck"))})) * 1000000, 0) / 1000000.0) AS m
      FROM rep GROUP BY b
    ),
    ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS r FROM means
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             (ROUND((AVG(value)) * 1000000, 0) / 1000000.0) AS est_mean
      FROM events
    )
    SELECT n_events, CAST({BOOT_B} AS BIGINT) AS boot_b, est_mean,
           (SELECT m FROM ranked WHERE r = {BOOT_LO_RANK}) AS ci_lo,
           (SELECT m FROM ranked WHERE r = {BOOT_HI_RANK}) AS ci_hi
    FROM base
    """,
)
def q_bootstrap_ci_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION twin of ``q_bootstrap_ci``: identical percentile-
    bootstrap estimator, but the uniform driving each (row, replicate)
    Poisson draw costs ONE md5 per ROW (the seed, hashed before the
    replicate fan-out) plus a counter-based integer mixer per replicate
    (xor with b·2⁶⁴/φ, two Lehmer multiply-mod rounds with a shift-xor
    finalizer break between them — all operands reduced mod the prime
    P < 2³² before each multiply so nothing overflows a BIGINT in
    either engine). ~B× fewer digests than the md5-per-cell exact
    device; the mixer is still deterministic and engine-neutral, so
    this twin keeps its own DuckDB oracle (xor / >> / % agree across
    engines on non-negative BIGINTs). The CI differs from the md5
    twin's only through resampling noise — the agreement pytest pins
    the two intervals against each other.

    Scale shape identical to q_bootstrap_ci; wall cost drops by the
    digest share (measured 8.1 -> 2.1 s solo at sf0.1 with the fan-out
    repartitioned across cores)."""
    return _bootstrap_ci(
        spark, sf_dir, F.expr(_H0_SPARK).cast("long").alias("h0"), _fast_u("spark")
    )


CUPED_SPLIT = "2024-01-16"  # pre-period covariate | post-period metric


@REG.add(
    "q_cuped_adjust",
    f"""
    WITH u AS (
      SELECT user_id, {_ABTEST_ARM_SQL} AS grp,
             SUM(CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT}'
                      THEN value ELSE 0 END) AS x,
             SUM(CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT}'
                      THEN value ELSE 0 END) AS y
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM u
    ),
    t AS (
      SELECT n, sx / n AS mx,
             CASE WHEN (sxx - sx * sx / n) = 0 THEN 0.0
                  ELSE (sxy - sx * sy / n) / (sxx - sx * sx / n) END
               AS theta,
             CASE WHEN (sxx - sx * sx / n) <= 0
                    OR (syy - sy * sy / n) <= 0 THEN NULL
                  ELSE (sxy - sx * sy / n)
                       / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
               END AS rho
      FROM s
    )
    SELECT grp AS arm,
           CAST(count(*) AS BIGINT) AS n_users,
           (ROUND((AVG(y)) * 1000000, 0) / 1000000.0) AS mean_y,
           (ROUND((AVG(y) - t.theta * (AVG(x) - t.mx)) * 1000000, 0) / 1000000.0) AS mean_y_adj,
           (ROUND((t.theta) * 1000000, 0) / 1000000.0) AS theta,
           (ROUND((t.rho) * 1000000, 0) / 1000000.0) AS rho
    FROM u, t
    GROUP BY grp, t.theta, t.mx, t.rho
    """,
)
def q_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013) for the A/B
    arms: each user's post-period metric y is adjusted by their
    PRE-period covariate x — y_adj = y − θ(x − x̄), θ = cov(x,y)/var(x)
    pooled across arms — removing the user-level variance the
    randomization already balanced, which is how experimentation
    platforms cut test duration 30-50%%. Emits per-arm raw and adjusted
    means plus the pooled θ and the x,y correlation ρ (the variance
    reduction is ρ²). Degenerate covariates (zero variance) fall back
    to θ=0 / ρ=NULL identically in both engines.

    Scale shape: ONE per-user map-side-combined aggregate (conditional
    period sums — the q_abtest_ztest shuffle), a 1-row sufficient-
    statistics fold (n, Σx, Σy, Σxy, Σx², Σy²) broadcast back, then an
    O(arms) aggregate. Covariances come from sufficient statistics, so
    the 100 TB fact is read once; round(6) absorbs sum-association
    ulps per the contract rule."""
    events = load(spark, sf_dir, "events")
    split = F.lit(CUPED_SPLIT).cast("timestamp")
    u = events.groupBy(
        "user_id", _abtest_arm().alias("grp")
    ).agg(
        F.sum(F.when(F.col("ts") < split, F.col("value")).otherwise(0.0))
        .alias("x"),
        F.sum(F.when(F.col("ts") >= split, F.col("value")).otherwise(0.0))
        .alias("y"),
    )
    s = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    vary = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    t = s.select(
        (F.col("sx") / F.col("n")).alias("mx"),
        F.when(varx == 0, F.lit(0.0)).otherwise(cov / varx).alias("theta"),
        F.when(
            (varx <= 0) | (vary <= 0), F.lit(None).cast("double")
        ).otherwise(cov / F.sqrt(varx * vary)).alias("rho"),
    )
    return (
        u.crossJoin(F.broadcast(t))
        .groupBy(F.col("grp").alias("arm"), "theta", "mx", "rho")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            round_to(F.avg("y"), 6).alias("mean_y"),
            round_to(F.avg("y") - F.col("theta") * (F.avg("x") - F.col("mx")), 6).alias("mean_y_adj"),
        )
        .select(
            "arm",
            "n_users",
            "mean_y",
            "mean_y_adj",
            round_to("theta", 6).alias("theta"),
            round_to("rho", 6).alias("rho"),
        )
    )


@REG.add(
    "q_degree_assortativity",
    """
    WITH bp AS (
      SELECT DISTINCT l_orderkey AS k, l_partkey AS item FROM lineitem
    ),
    e AS (
      SELECT DISTINCT a.item AS u, b.item AS v
      FROM bp a JOIN bp b ON a.k = b.k AND a.item < b.item
    ),
    adj AS (SELECT u AS node, v AS nbr FROM e
            UNION ALL SELECT v, u FROM e),
    deg AS (SELECT node, CAST(count(*) AS DOUBLE) AS d
            FROM adj GROUP BY node),
    ends AS (
      SELECT du.d AS x, dv.d AS y
      FROM adj JOIN deg du ON adj.node = du.node
               JOIN deg dv ON adj.nbr = dv.node
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM ends
    )
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           (ROUND((sx / n) * 1000000, 0) / 1000000.0) AS mean_end_degree,
           CASE WHEN n = 0 OR (sxx - sx * sx / n) = 0 THEN NULL
             ELSE (ROUND(((sxy - sx * sx / n) / (sxx - sx * sx / n)) * 1000000, 0) / 1000000.0)
             END AS assortativity
    FROM s
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002): the
    Pearson correlation of endpoint degrees over all edge ends — do
    hubs attach to hubs (r > 0, social-network-like) or to leaves
    (r < 0, hub-and-spoke)? The structural prior that decides whether
    the degree-ordered tricks (q_triangle_count's orientation, hub
    taming in the dedup joins) will pay off on a given graph. The
    symmetric (both-orientations) form makes x and y share marginals,
    so r = (Σxy − (Σx)²/n) / (Σx² − (Σx)²/n) from ONE sufficient-
    statistics fold. Zero-variance (regular) graphs emit NULL.

    The graph is the graph family's one adjacency
    (``llm/clustering.py::_adjacency``): an end's degree is
    ``size(dsts)``, so the exploded adjacency carries x in-row and one
    join to the O(nodes) degree side (a broadcast under AQE) brings y;
    the statistic folds to one row. Integral degrees sum exactly;
    round(6) on the final ratios."""
    from reactor_window_like_flink_spark.llm.clustering import _adjacency

    li = load(spark, sf_dir, "lineitem")
    adj = _adjacency(_basket_pairs(li, "l_orderkey", "l_partkey"))
    deg = adj.select(
        F.col("src").alias("nbr"), F.size("dsts").cast("double").alias("y")
    )
    ends = adj.select(
        F.size("dsts").cast("double").alias("x"), F.explode("dsts").alias("nbr")
    ).join(deg, "nbr")
    s = ends.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    cov = F.col("sxy") - F.col("sx") * F.col("sx") / F.col("n")
    return s.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        round_to(F.col("sx") / F.col("n"), 6).alias("mean_end_degree"),
        F.when((F.col("n") == 0) | (varx == 0), F.lit(None).cast("double"))
        .otherwise(round_to(cov / varx, 6))
        .alias("assortativity"),
    )


FDR_Q = 0.10  # Benjamini-Hochberg false-discovery-rate level

# Abramowitz & Stegun 7.1.26 erfc polynomial — the same five literals
# in both engines, so the two-sided normal p-value is identical double
# arithmetic up to exp()'s final ulp (absorbed by the round-6 that both
# engines apply BEFORE any BH comparison or ordering).
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def _two_sided_p(z_expr: str) -> str:
    """SQL for p = 2(1-Phi(|z|)) = (Σ aᵢtⁱ)·exp(-z²/2), t=1/(1+p|z|/√2).
    Engine-neutral: abs/exp/sqrt plus literal arithmetic only."""
    x = f"(abs({z_expr}) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + {_AS_P} * {x}))"
    poly = " + ".join(f"({a!r} * power({t}, {i + 1}))" for i, a in enumerate(_AS_A))
    return f"(({poly}) * exp(-({z_expr}) * ({z_expr}) / 2.0))"


@REG.add(
    "q_fdr_bh",
    f"""
    WITH u AS (
      SELECT event_type, user_id, {_ABTEST_ARM_SQL} AS grp,
             MAX(CASE WHEN value > {{conv}} THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1, 2, 3
    ),
    t AS (
      SELECT event_type,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
             CAST(sum(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
      FROM u GROUP BY 1
    ),
    z AS (
      SELECT event_type, n_a, n_b,
             CASE WHEN n_a = 0 OR n_b = 0
                    OR (c_a + c_b) = 0 OR (c_a + c_b) = (n_a + n_b)
               THEN NULL
               ELSE (c_a * 1.0 / n_a - c_b * 1.0 / n_b)
                    / sqrt(((c_a + c_b) * 1.0 / (n_a + n_b))
                           * (1.0 - (c_a + c_b) * 1.0 / (n_a + n_b))
                           * (1.0 / n_a + 1.0 / n_b)) END AS zz
      FROM t
    ),
    p AS (
      SELECT event_type, n_a, n_b, zz,
             CASE WHEN zz IS NULL THEN NULL
               ELSE (ROUND(({_two_sided_p("zz")}) * 1000000, 0) / 1000000.0) END AS pv
      FROM z
    ),
    r AS (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY pv ASC NULLS LAST,
                                        event_type) AS INT) AS rnk,
             CAST(COUNT(pv) OVER () AS BIGINT) AS m
      FROM p
    )
    SELECT event_type, n_a, n_b,
           (ROUND((zz) * 10000, 0) / 10000.0) AS z_stat, pv AS p_value, rnk AS rank,
           CAST(MAX(CASE WHEN pv IS NOT NULL
                          AND pv <= rnk * {FDR_Q} / m THEN 1 ELSE 0 END)
                OVER (ORDER BY rnk DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS INT) AS significant
    FROM r
    """.replace("{conv}", str(ABTEST_CONV_VALUE)),
)
def q_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control for the experimentation tier: one
    two-proportion z-test PER event_type (the per-metric readout a real
    experiment scores) with Benjamini-Hochberg FDR correction at
    q=0.1 — rank the two-sided p-values ascending, find the largest
    k with p_(k) ≤ k·q/m, flag ranks ≤ k (the suffix-max window form of
    the step-up rule). Running m uncorrected z-tests is how dashboards
    mint false winners; BH is the standard fix. Degenerate metrics
    (empty arm, zero/full conversion) carry NULL z/p, rank after every
    real test (NULLS LAST pinned in both engines), count toward
    neither m nor the flags.

    Scale shape: one (type, user)-keyed map-side-combined aggregate
    over the fact, then O(types) rows through the closed-form z, the
    erfc polynomial (identical literals both engines; p rounded BEFORE
    every BH comparison), and two O(types) windows. At 100 TB: one
    fact pass, everything after is metric-count-sized."""
    events = load(spark, sf_dir, "events")
    u = events.groupBy(
        "event_type", "user_id", _abtest_arm().alias("grp")
    ).agg(
        F.max(
            F.when(F.col("value") > ABTEST_CONV_VALUE, 1).otherwise(0)
        ).alias("conv")
    )
    t = u.groupBy("event_type").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("grp") == 0, F.col("conv")).otherwise(0)).cast("long").alias("c_a"),
        F.sum(F.when(F.col("grp") == 1, F.col("conv")).otherwise(0)).cast("long").alias("c_b"),
    )
    n_a, n_b, c_a, c_b = (F.col(c) for c in ("n_a", "n_b", "c_a", "c_b"))
    pool = (c_a + c_b) * 1.0 / (n_a + n_b)
    z = (c_a * 1.0 / n_a - c_b * 1.0 / n_b) / F.sqrt(
        pool * (1.0 - pool) * (1.0 / n_a + 1.0 / n_b)
    )
    degenerate = (
        (n_a == 0)
        | (n_b == 0)
        | ((c_a + c_b) == 0)
        | ((c_a + c_b) == (n_a + n_b))
    )
    zdf = t.select(
        "event_type",
        "n_a",
        "n_b",
        F.when(degenerate, F.lit(None).cast("double")).otherwise(z).alias("zz"),
    )
    pdf = zdf.withColumn(
        "pv",
        F.when(
            F.col("zz").isNull(), F.lit(None).cast("double")
        ).otherwise(round_to(F.expr(_two_sided_p("zz")), 6)),
    )
    w_rank = Window.orderBy(F.col("pv").asc_nulls_last(), "event_type")
    r = pdf.select(
        "*",
        F.row_number().over(w_rank).cast("int").alias("rnk"),
        F.count("pv").over(Window.partitionBy()).cast("long").alias("m"),
    )
    w_suffix = Window.orderBy(F.desc("rnk")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    passes = F.when(
        F.col("pv").isNotNull()
        & (F.col("pv") <= F.col("rnk") * FDR_Q / F.col("m")),
        1,
    ).otherwise(0)
    return r.select(
        "event_type",
        "n_a",
        "n_b",
        round_to("zz", 4).alias("z_stat"),
        F.col("pv").alias("p_value"),
        F.col("rnk").alias("rank"),
        F.max(passes).over(w_suffix).cast("int").alias("significant"),
    )


SEASONAL_MA = 3  # centered 7-day moving average: +/- 3 days


@REG.add(
    "q_seasonal_decompose",
    f"""
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, day, cnt,
             CASE WHEN COUNT(*) OVER w = {2 * SEASONAL_MA + 1}
               THEN AVG(cnt) OVER w END AS trend
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {SEASONAL_MA} PRECEDING
                            AND {SEASONAL_MA} FOLLOWING)
    ),
    de AS (
      SELECT event_type, day, cnt - trend AS det,
             isodow(day) AS dow
      FROM tr WHERE trend IS NOT NULL
    ),
    sea AS (
      SELECT event_type, day, det,
             det - AVG(det) OVER (PARTITION BY event_type, dow) AS rem
      FROM de
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           (ROUND((VAR_POP(det)) * 10000, 0) / 10000.0) AS var_detrended,
           (ROUND((VAR_POP(rem)) * 10000, 0) / 10000.0) AS var_remainder,
           CASE WHEN VAR_POP(det) = 0 THEN NULL
             ELSE (ROUND((GREATEST(0.0, 1.0 - VAR_POP(rem) / VAR_POP(det))) * 10000, 0) / 10000.0) END AS seasonal_strength
    FROM sea
    GROUP BY event_type
    """,
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the daily volume series per
    type: trend = centered 7-day moving average (emitted only where the
    full window exists), seasonal = per-weekday mean of the detrended
    series, remainder = what's left — reporting Hyndman's seasonal
    STRENGTH max(0, 1 − Var(remainder)/Var(detrended)) per type, the
    scalar that says whether q_dow_seasonal_anomaly's weekday model is
    even warranted for a metric (strength ≈ 0 → no weekly cycle to
    adjust for; the ACF (q_autocorr) hints, this quantifies).

    Scale shape: the smoother family's ONE O(types × days) daily
    aggregate, then three window passes over that tiny frame (MA,
    per-(type,dow) seasonal mean, final variance fold) — raw events
    are never windowed. ISO weekday is the shared dow convention;
    var ratios round(4) after the division."""
    events = load(spark, sf_dir, "events")
    d = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-SEASONAL_MA, SEASONAL_MA)
    )
    tr = d.select(
        "event_type",
        "day",
        "cnt",
        F.when(
            F.count("*").over(w) == 2 * SEASONAL_MA + 1,
            F.avg("cnt").over(w),
        ).alias("trend"),
    )
    de = tr.filter(F.col("trend").isNotNull()).select(
        "event_type",
        (F.col("cnt") - F.col("trend")).alias("det"),
        (F.weekday("day") + 1).cast("int").alias("dow"),
    )
    w_dow = Window.partitionBy("event_type", "dow")
    sea = de.select(
        "event_type",
        "det",
        (F.col("det") - F.avg("det").over(w_dow)).alias("rem"),
    )
    vd, vr = F.var_pop("det"), F.var_pop("rem")
    return sea.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        round_to(vd, 4).alias("var_detrended"),
        round_to(vr, 4).alias("var_remainder"),
        F.when(vd == 0, F.lit(None).cast("double"))
        .otherwise(round_to(F.greatest(F.lit(0.0), 1.0 - vr / vd), 4))
        .alias("seasonal_strength"),
    )


@REG.add(
    "q_welch_ttest",
    f"""
    WITH u AS (
      SELECT user_id, {_ABTEST_ARM_SQL} AS grp, SUM(value) AS y
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             SUM(y) AS sy, SUM(y * y) AS syy
      FROM u GROUP BY grp
    ),
    w AS (
      SELECT MAX(CASE WHEN grp = 0 THEN n END) AS n_a,
             MAX(CASE WHEN grp = 1 THEN n END) AS n_b,
             MAX(CASE WHEN grp = 0 THEN sy END) AS sy_a,
             MAX(CASE WHEN grp = 1 THEN sy END) AS sy_b,
             MAX(CASE WHEN grp = 0 THEN syy END) AS syy_a,
             MAX(CASE WHEN grp = 1 THEN syy END) AS syy_b
      FROM s
    ),
    v AS (
      SELECT n_a, n_b,
             sy_a / n_a AS m_a, sy_b / n_b AS m_b,
             (syy_a - sy_a * sy_a / n_a) / (n_a - 1) / n_a AS va,
             (syy_b - sy_b * sy_b / n_b) / (n_b - 1) / n_b AS vb
      FROM w
      WHERE n_a > 1 AND n_b > 1
    )
    SELECT n_a, n_b, (ROUND((m_a) * 1000000, 0) / 1000000.0) AS mean_a, (ROUND((m_b) * 1000000, 0) / 1000000.0) AS mean_b,
           CASE WHEN (va + vb) = 0 THEN NULL
             ELSE (ROUND(((m_a - m_b) / sqrt(va + vb)) * 10000, 0) / 10000.0) END AS t_stat,
           CASE WHEN va = 0 AND vb = 0 THEN NULL
             ELSE (ROUND(((va + vb) * (va + vb)
                  / (va * va / (n_a - 1) + vb * vb / (n_b - 1))) * 100, 0) / 100.0)
             END AS df
    FROM v
    """,
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on per-user total value between
    the hash-randomized arms — the CONTINUOUS-metric A/B readout
    (q_abtest_ztest: binary conversion; this: revenue-per-user, the
    metric experiments actually optimize), with the Welch-Satterthwaite
    effective degrees of freedom. Welch rather than pooled Student
    because arm variances are never provably equal in production and
    Welch costs nothing extra from sufficient statistics. Degenerate
    inputs (an arm with ≤1 user, zero variance) emit no row / NULLs
    identically in both engines.

    Scale shape: the q_abtest_ztest skeleton exactly — ONE per-user
    map-side-combined aggregate, an O(2) per-arm fold, a 1-row pivot,
    closed-form arithmetic. One fact pass at 100 TB."""
    events = load(spark, sf_dir, "events")
    u = events.groupBy("user_id", _abtest_arm().alias("grp")).agg(
        F.sum("value").alias("y")
    )
    s = u.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    w = s.agg(
        *[
            F.max(F.when(F.col("grp") == g, F.col(c))).alias(f"{c}_{a}")
            for g, a in ((0, "a"), (1, "b"))
            for c in ("n", "sy", "syy")
        ]
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    m_a = F.col("sy_a") / n_a
    m_b = F.col("sy_b") / n_b
    va = (F.col("syy_a") - F.col("sy_a") * F.col("sy_a") / n_a) / (
        n_a - 1
    ) / n_a
    vb = (F.col("syy_b") - F.col("sy_b") * F.col("sy_b") / n_b) / (
        n_b - 1
    ) / n_b
    v = w.filter((n_a > 1) & (n_b > 1)).select(
        "n_a", "n_b", m_a.alias("m_a"), m_b.alias("m_b"),
        va.alias("va"), vb.alias("vb"),
    )
    va, vb = F.col("va"), F.col("vb")
    return v.select(
        "n_a",
        "n_b",
        round_to("m_a", 6).alias("mean_a"),
        round_to("m_b", 6).alias("mean_b"),
        F.when((va + vb) == 0, F.lit(None).cast("double"))
        .otherwise(
            round_to((F.col("m_a") - F.col("m_b")) / F.sqrt(va + vb), 4)
        )
        .alias("t_stat"),
        F.when((va == 0) & (vb == 0), F.lit(None).cast("double"))
        .otherwise(
            round_to((va + vb)
                * (va + vb)
                / (va * va / (n_a - 1) + vb * vb / (n_b - 1)), 2)
        )
        .alias("df"),
    )
