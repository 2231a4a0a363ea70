"""Streaming KLL quantiles (``streaming/quantiles.py:
continuous_quantiles_kll``): day-aligned replay equals the batch KLL
rollup, state accumulates across batches, no range contract. Also the
keyed-sketch state rule (``streaming/keyed.py``): Holt and KLL keys larger
than an Arrow batch, and state surviving a restart for all five sketches."""

from __future__ import annotations

from _poll import poll
from _round import rhalf

from datetime import datetime, timedelta, timezone

import numpy as np
import pytest

from reactor_window_like_flink_spark.operators.sketches import (
    KLL_K,
    KLL_QS,
    KLLSketch,
)
from reactor_window_like_flink_spark.streaming.cms import continuous_cms
from reactor_window_like_flink_spark.streaming.frequent import (
    frequent_items_stateful,
)
from reactor_window_like_flink_spark.streaming.publisher import FileStreamInput
from reactor_window_like_flink_spark.streaming.quantiles import (
    continuous_quantiles,
    continuous_quantiles_kll,
)
from reactor_window_like_flink_spark.streaming.smoothing import (
    continuous_holt_trend,
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


ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def test_streaming_kll_key_larger_than_an_arrow_batch(spark, tmp_path):
    """Two day-aligned micro-batches of 1,200 values for one key, handed
    to the operator in 53-row Arrow batches: the state still merges ONE
    sketch per micro-batch, so the emission equals the batch rollup's
    merge in day order, not a merge of per-Arrow-batch sketches."""
    rng = np.random.default_rng(17)
    days = [rng.zipf(1.7, size=1200).astype("float64") for _ in range(2)]
    old = spark.conf.get(ARROW_BATCH)
    spark.conf.set(ARROW_BATCH, "53")
    try:
        src = FileStreamInput(
            spark, SCHEMA, str(tmp_path / "in"), max_files_per_trigger=1
        )
        out = continuous_quantiles_kll(
            src.stream(), "event_type", "value", order_cols=["ts", "event_id"]
        )
        query = (
            out.writeStream.format("memory")
            .queryName("t_kll_big")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            for i, vals in enumerate(days):
                src.publish(_day_rows(i, vals, start=10_000 * i))
            rows = poll(
                lambda: spark.sql(
                    "SELECT * FROM t_kll_big WHERE n_seen = 2400"
                ).collect()
                or None
            )
        finally:
            query.stop()
    finally:
        spark.conf.set(ARROW_BATCH, old)

    acc = KLLSketch(KLL_K)
    for vals in days:
        day = KLLSketch(KLL_K)
        day.extend(vals)
        acc.merge(day)
    assert rows and {r["q"]: r["est"] for r in rows} == {
        q: rhalf(acc.quantile(q), 4) for q in KLL_QS
    }


def test_streaming_holt_key_larger_than_an_arrow_batch(spark, tmp_path):
    """60 daily rows of one key in one file, in shuffled order, handed to
    the operator in 7-row Arrow batches: the key's whole micro-batch is
    sorted by day once, so the emission equals the sequential fold over
    all 60 days."""
    from datetime import date

    from reactor_window_like_flink_spark.operators.analytics import (
        HOLT_ALPHA,
        HOLT_BETA,
    )

    rng = np.random.default_rng(5)
    d0 = date(2024, 1, 1)
    daily = [float(v) for v in rng.integers(5, 40, size=60)]
    rows = [("big", d0 + timedelta(days=i), int(v)) for i, v in enumerate(daily)]
    shuffled = [rows[i] for i in rng.permutation(len(rows))]
    old = spark.conf.get(ARROW_BATCH)
    spark.conf.set(ARROW_BATCH, "7")
    try:
        src = FileStreamInput(
            spark, "event_type STRING, day DATE, cnt LONG", str(tmp_path / "in")
        )
        out = continuous_holt_trend(src.stream(), "event_type", "day", "cnt")
        query = (
            out.writeStream.format("memory")
            .queryName("t_holt_big")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            src.publish(shuffled)
            got = poll(
                lambda: spark.sql(
                    "SELECT * FROM t_holt_big WHERE n_days = 60"
                ).collect()
                or None
            )
        finally:
            query.stop()
    finally:
        spark.conf.set(ARROW_BATCH, old)

    l, b = daily[0], 0.0
    for x in daily[1:]:
        nl = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (l + b)
        b = HOLT_BETA * (nl - l) + (1 - HOLT_BETA) * b
        l = nl
    assert got, "the 60-day key must emit"
    row = got[0]
    assert row["last_day"] == "2024-02-29"
    assert (row["level"], row["trend"], row["forecast_next"]) == (
        rhalf(l, 6),
        rhalf(b, 6),
        rhalf(l + b, 6),
    )


def _event_parts():
    """Two parts of one event stream: six Zipf-weighted event types over
    two users, values in [0, 100)."""
    rng = np.random.default_rng(23)
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    types = np.array(["a", "b", "c", "d", "e", "f"])
    weights = 1.0 / np.arange(1, 7)
    parts = []
    for p in range(2):
        kinds = rng.choice(types, size=150, p=weights / weights.sum())
        parts.append(
            [
                (
                    1000 * p + i,
                    t0 + timedelta(seconds=1000 * p + i),
                    int(rng.integers(1, 3)),
                    str(kind),
                    float(rng.integers(0, 100)),
                )
                for i, kind in enumerate(kinds)
            ]
        )
    return parts


def _daily_parts():
    from datetime import date

    d0 = date(2024, 1, 1)
    return [
        [
            (key, d0 + timedelta(days=i), 10 + 3 * i + (i % 4) * m)
            for key, m in (("g", 2), ("h", -1))
            for i in range(start, start + 10)
        ]
        for start in (0, 10)
    ]


_RESTART_CASES = {
    "fixed_bin": (
        SCHEMA,
        lambda s: continuous_quantiles(
            s, "event_type", "value", lo=0.0, hi=100.0, n_bins=16
        ),
        _event_parts,
    ),
    "kll": (
        SCHEMA,
        lambda s: continuous_quantiles_kll(
            s, "event_type", "value", order_cols=["ts", "event_id"], k=8
        ),
        _event_parts,
    ),
    "cms": (
        SCHEMA,
        lambda s: continuous_cms(
            s, "user_id", "event_type", probes=("a", "c", "f"), width=8
        ),
        _event_parts,
    ),
    "misra_gries": (
        SCHEMA,
        lambda s: frequent_items_stateful(s, "event_type", n_shards=2, capacity=2),
        _event_parts,
    ),
    "holt": (
        "event_type STRING, day DATE, cnt LONG",
        lambda s: continuous_holt_trend(s, "event_type", "day", "cnt"),
        _daily_parts,
    ),
}


@pytest.mark.parametrize("name", list(_RESTART_CASES))
def test_sketch_state_survives_restart(spark, tmp_path, name):
    """Stop the query after part A has committed, restart it on the same
    checkpoint and publish part B: each key's last emission equals the
    one of an uninterrupted run over A then B, so the state written at
    A's commit is the state B folds onto. A foreachBatch sink, because
    the memory sink refuses checkpoint recovery."""
    schema, operator, make_parts = _RESTART_CASES[name]
    parts = make_parts()

    def last_emission(run: str, restart: bool) -> dict:
        src = FileStreamInput(spark, schema, str(tmp_path / run / "in"))
        batches: list = []

        def start():
            return (
                operator(src.stream())
                .writeStream.foreachBatch(
                    lambda df, bid: batches.append(df.collect())
                )
                .outputMode("update")
                .option("checkpointLocation", str(tmp_path / run / "ckpt"))
                .start()
            )

        query = start()
        try:
            for i, part in enumerate(parts):
                if restart and i:
                    query.stop()
                    query = start()
                src.publish(part)
                query.processAllAvailable()
        finally:
            query.stop()
        last: dict = {}
        for rows in batches:
            emitted: dict = {}
            for r in rows:
                emitted.setdefault(r[0], []).append(tuple(r))
            last.update(emitted)
        return {k: sorted(v) for k, v in last.items()}

    restarted = last_emission("restarted", restart=True)
    assert restarted, "part B must emit after the restart"
    assert restarted == last_emission("uninterrupted", restart=False)
