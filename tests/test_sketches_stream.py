"""Streaming KLL quantiles (``streaming/quantiles.py:
continuous_quantiles_kll``): day-aligned replay equals the batch KLL
rollup, state accumulates across batches, no range contract."""

from __future__ import annotations

from _poll import poll
from _round import rhalf

from datetime import datetime, timedelta, timezone

import numpy as np

from reactor_window_like_flink_spark.operators.sketches import (
    KLL_K,
    KLL_QS,
    KLLSketch,
)
from reactor_window_like_flink_spark.streaming.publisher import FileStreamInput
from reactor_window_like_flink_spark.streaming.quantiles import (
    continuous_quantiles_kll,
)

SCHEMA = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"


def _day_rows(day_idx, values, key="lat", start=0):
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc) + timedelta(days=day_idx)
    return [
        (start + i, t0 + timedelta(seconds=i), 1, key, float(v))
        for i, v in enumerate(values)
    ]


def test_streaming_kll_day_aligned_replay_equals_batch_rollup(
    spark, tmp_path
):
    """Each published file is one day's values; with maxFilesPerTrigger=1
    the micro-batches align with the batch rollup's daily chunks, so the
    final emission must EQUAL merging per-day KLL sketches in day order
    — the q_quantile_rollup_kll semantics, live. Zipf values prove the
    no-range-contract point (the fixed-bin twin would need [lo, hi])."""
    rng = np.random.default_rng(17)
    days = [rng.zipf(1.7, size=400).astype("float64") for _ in range(3)]

    src = FileStreamInput(
        spark, SCHEMA, str(tmp_path / "in"), max_files_per_trigger=1
    )
    out = continuous_quantiles_kll(
        src.stream(), "event_type", "value", order_cols=["ts", "event_id"]
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_kll")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    n_total = sum(len(d) for d in days)
    try:
        for i, vals in enumerate(days):
            src.publish(_day_rows(i, vals, start=10_000 * i))
        rows = poll(
            lambda: (
                r
                if (
                    r := spark.sql(
                        f"SELECT * FROM t_kll WHERE n_seen = {n_total}"
                    ).collect()
                )
                and len(r) >= len(KLL_QS)
                else None
            )
        )
        assert rows, "all three day-batches must accumulate onto state"
        got = {r["q"]: r["est"] for r in rows}
    finally:
        query.stop()

    # reference: the batch rollup's merge-in-day-order semantics
    acc = KLLSketch(KLL_K)
    for vals in days:
        day = KLLSketch(KLL_K)
        day.extend(vals)  # _day_rows emits values already in (ts) order
        acc.merge(day)
    for q in KLL_QS:
        assert got[q] == rhalf(acc.quantile(q), 4), q
    assert acc.n == n_total


def test_streaming_kll_keys_are_independent(spark, tmp_path):
    src = FileStreamInput(
        spark, SCHEMA, str(tmp_path / "in"), max_files_per_trigger=1
    )
    out = continuous_quantiles_kll(
        src.stream(), "event_type", "value", order_cols=["ts", "event_id"]
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_kll2")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        src.publish(
            _day_rows(0, [1.0] * 50, key="a")
            + _day_rows(0, [100.0] * 50, key="b", start=500)
        )
        rows = poll(
            lambda: (
                r
                if (r := spark.sql("SELECT * FROM t_kll2").collect())
                and len({x["key"] for x in r}) == 2
                else None
            )
        )
        by_key = {(r["key"], r["q"]): r["est"] for r in rows}
        assert by_key[("a", 0.5)] == 1.0
        assert by_key[("b", 0.5)] == 100.0
    finally:
        query.stop()


def test_streaming_holt_replay_equals_batch_fold(spark, tmp_path):
    """Daily-aggregate rows streamed in two batches: the final emission
    equals the sequential Holt fold over all days in order, and keys
    smooth independently."""
    from reactor_window_like_flink_spark.operators.analytics import (
        HOLT_ALPHA,
        HOLT_BETA,
    )
    from reactor_window_like_flink_spark.streaming.smoothing import (
        continuous_holt_trend,
    )

    daily = [10.0, 13.0, 9.0, 17.0, 21.0, 18.0, 25.0, 24.0]
    src = FileStreamInput(
        spark,
        "event_type STRING, day DATE, cnt LONG",
        str(tmp_path / "in"),
        max_files_per_trigger=1,
    )
    out = continuous_holt_trend(src.stream(), "event_type", "day", "cnt")
    query = (
        out.writeStream.format("memory")
        .queryName("t_holt")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )

    from datetime import date, timedelta

    d0 = date(2024, 1, 1)

    def rows(vals, start):
        return [
            ("grow", d0 + timedelta(days=start + i), int(v))
            for i, v in enumerate(vals)
        ]

    try:
        src.publish(rows(daily[:4], 0) + [("flat", d0, 5)])
        src.publish(rows(daily[4:], 4) + [("flat", d0 + timedelta(days=1), 5)])
        got = poll(
            lambda: (
                r
                if (
                    r := spark.sql(
                        f"SELECT * FROM t_holt WHERE key = 'grow'"
                        f" AND n_days = {len(daily)}"
                    ).collect()
                )
                else None
            )
        )
        assert got, "second batch must fold onto state"
        row = got[0]
    finally:
        query.stop()

    l, b = daily[0], 0.0
    for x in daily[1:]:
        nl = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (l + b)
        b = HOLT_BETA * (nl - l) + (1 - HOLT_BETA) * b
        l = nl
    assert row["level"] == rhalf(l, 6)
    assert row["trend"] == rhalf(b, 6)
    assert row["forecast_next"] == rhalf(l + b, 6)
    assert row["last_day"] == str(d0 + timedelta(days=len(daily) - 1))
