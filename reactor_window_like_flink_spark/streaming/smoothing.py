"""Continuous Holt level+trend smoothing: the streaming twin of
``operators/analytics.py::q_holt_trend``, completing the volume-monitor
streaming parity (continuous quantiles/CMS/frequent-items already have
theirs).

Input contract: a stream of DAILY AGGREGATE rows (key, day, cnt) — the
shape a volume monitor actually consumes (the daily rollup topic /
foreachBatch output of a windowed count), NOT raw events; per-day
closing is the upstream window's job (watermarks), so this operator
never faces the late-event-reopens-a-day problem.

Per micro-batch per key: fold the key's whole micro-batch in day order
(one sort, however many Arrow batches Spark splits it into; the rule is
``streaming/keyed.py::keyed_sketch``) through the Holt recurrence
(l_t = a·x + (1-a)(l+b); b_t = B(l_t - l) + (1-B)b, seeded l=x_1, b=0 —
identical to the batch key), emit
(key, n_days, last_day, level, trend, forecast_next). State per key is
FOUR numbers; day-ordered delivery makes the streaming state equal the
batch fold over the same days (asserted in
tests/test_sketches_stream.py), and crash-replay re-applies the batch
on the pre-batch state — deterministic recurrence, deterministic
recovery.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.operators.analytics import (
    HOLT_ALPHA,
    HOLT_BETA,
)
from reactor_window_like_flink_spark.streaming.keyed import keyed_sketch

OUTPUT_SCHEMA = (
    "key string, n_days long, last_day string,"
    " level double, trend double, forecast_next double"
)
STATE_SCHEMA = "l double, b double, n_days long, last_day string"


def continuous_holt_trend(
    stream_df: DataFrame,
    key_col: str,
    day_col: str,
    cnt_col: str,
    alpha: float = HOLT_ALPHA,
    beta: float = HOLT_BETA,
) -> DataFrame:
    """See module docstring. ``day_col`` must be castable to DATE."""

    def fold(state: tuple, rows: pd.DataFrame) -> tuple:
        l, b, n_days, last_day = state
        for day, x in zip(rows["day"], rows["cnt"]):
            x = float(x)
            if l is None:
                l, b = x, 0.0
            else:
                nl = alpha * x + (1.0 - alpha) * (l + b)
                b = beta * (nl - l) + (1.0 - beta) * b
                l = nl
            n_days += 1
            last_day = str(day)
        return l, b, n_days, last_day

    def emit(key: str, state: tuple) -> pd.DataFrame:
        l, b, n_days, last_day = state
        return pd.DataFrame(
            [(key, n_days, last_day, round(l, 6), round(b, 6), round(l + b, 6))],
            columns=["key", "n_days", "last_day", "level", "trend", "forecast_next"],
        )

    return keyed_sketch(
        stream_df.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(day_col).cast("date").cast("string").alias("day"),
            F.col(cnt_col).cast("double").alias("cnt"),
        ).filter(F.col("cnt").isNotNull() & F.col("day").isNotNull()),
        "key",
        state_schema=STATE_SCHEMA,
        output_schema=OUTPUT_SCHEMA,
        init=(None, 0.0, 0, ""),
        fold=fold,
        emit=emit,
        order_by=["day"],
    )
