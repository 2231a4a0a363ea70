"""Continuous quantiles over a live stream: the streaming twin of
``operators/relational.py::q_quantile_rollup`` (Flink-parity gesture —
running percentiles are a classic ProcessFunction pattern; Spark has no
built-in streaming percentile).

State per key is ONE fixed-width histogram: ``bins`` counts over
``n_bins`` equi-width buckets spanning a CONSTRUCTION-TIME value range
``[lo, hi]`` — a stream has no global min/max to learn bounds from, so
the bounds are an operator parameter (the standard streaming-histogram
contract; out-of-range values clamp to the edge bins, and the emitted
``n_clamped`` count makes silent range misconfiguration visible).
Memory is O(keys x n_bins) longs for the stream's lifetime regardless of
how many events flow through — the property that makes continuous p95
latency / value monitoring possible where collecting values would grow
without bound.

Estimates use the same cumulative-count inversion + within-bin linear
interpolation as the batch key, so a replay of a bounded stream emits
exactly the batch histogram's numbers (asserted by
``tests/test_frequent_stream.py``). Error is bounded by one bin width.

Emission: after each micro-batch that touched a key, the key emits one
row per requested quantile (outputMode update downstream reads
latest-per-(key, q)). The state rule, one fold of the key's whole
micro-batch per trigger, is ``streaming/keyed.py::keyed_sketch``.

Reference parity note: the reference (``WindowPublisher.java``) has no
aggregation surface; this extends its streaming core the same way the
Part B relational surface does (SURVEY.md §2, A10).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.streaming.keyed import keyed_sketch

OUTPUT_SCHEMA = (
    "key string, q double, est double, n_seen long, n_clamped long"
)
STATE_SCHEMA = "bins array<long>, n long, n_clamped long"

DEFAULT_BINS = 256
DEFAULT_QS = (0.5, 0.95, 0.99)


def continuous_quantiles(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = DEFAULT_BINS,
    qs: tuple[float, ...] = DEFAULT_QS,
) -> DataFrame:
    """Bounded-state running quantiles per key on a streaming DataFrame.

    Emits, per micro-batch per touched key, one row per quantile:
    (key, q, est, n_seen, n_clamped). ``est`` is the fixed-bin histogram
    inversion — within one bin width ``(hi - lo) / n_bins`` of the exact
    running percentile whenever the data stays inside [lo, hi].
    """
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    width = (hi - lo) / n_bins

    def fold(state: tuple, rows: pd.DataFrame) -> tuple:
        bins_l, n, n_clamped = state
        bins = np.asarray(bins_l, dtype="int64")
        v = rows["value"].to_numpy(dtype="float64")
        idx = np.floor((v - lo) / width).astype("int64")
        n_clamped += int(((idx < 0) | (idx >= n_bins)).sum())
        idx = np.clip(idx, 0, n_bins - 1)
        bins += np.bincount(idx, minlength=n_bins)
        return [int(b) for b in bins], int(n + len(v)), int(n_clamped)

    def emit(key: str, state: tuple) -> pd.DataFrame:
        bins, n, n_clamped = state
        cum = np.cumsum(bins)
        out = []
        for q in qs:
            target = q * n
            b = int(np.searchsorted(cum, target, side="left"))
            before = int(cum[b - 1]) if b else 0
            est = lo + width * (b + (target - before) / int(bins[b]))
            out.append((key, q, round(est, 4), n, n_clamped))
        return pd.DataFrame(
            out, columns=["key", "q", "est", "n_seen", "n_clamped"]
        )

    return keyed_sketch(
        stream_df.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(value_col).cast("double").alias("value"),
        ).filter(F.col("value").isNotNull()),
        "key",
        state_schema=STATE_SCHEMA,
        output_schema=OUTPUT_SCHEMA,
        init=([0] * n_bins, 0, 0),
        fold=fold,
        emit=emit,
    )


# ---- streaming KLL: the long-tail-safe twin -----------------------------

KLL_OUTPUT_SCHEMA = "key string, q double, est double, n_seen long"
KLL_STATE_SCHEMA = "n long, levels array<array<double>>, coins array<int>"


def continuous_quantiles_kll(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    order_cols: list[str],
    k: int | None = None,
    qs: tuple[float, ...] = DEFAULT_QS,
) -> DataFrame:
    """Bounded-state running quantiles per key with DISTRIBUTION-FREE
    rank error: the streaming twin of
    ``operators/sketches.py::q_quantile_rollup_kll``, completing the
    sketch pairing the fixed-bin ``continuous_quantiles`` starts (CMS
    and Misra-Gries already have their streaming twins) — no
    construction-time [lo, hi] contract, no clamping, rank error
    ~O(1/k) of the running count on ANY value distribution.

    Per micro-batch per key: build ONE fresh deterministic KLL over the
    key's whole micro-batch in ``order_cols`` order (however many Arrow
    batches Spark splits it into), MERGE it into the key's state
    sketch, emit one row per requested quantile. Merging a
    per-micro-batch sketch (rather than extending the state sketch value
    by value) makes the streaming state EQUAL to the batch rollup's
    merge-in-chunk-order result whenever micro-batches align with the
    batch rollup's chunks — the replay-equivalence contract
    ``tests/test_sketches_stream.py`` asserts day-aligned. State per
    key is the O(k log(n/k)) sketch rows; crash-replay re-applies the
    batch on the pre-batch state, so the recovered sketch is
    bit-identical (deterministic compaction, deterministic order)."""
    from reactor_window_like_flink_spark.operators.sketches import (
        KLL_K,
        KLLSketch,
    )

    kk = KLL_K if k is None else k

    def fold(state: tuple, rows: pd.DataFrame) -> tuple:
        acc = KLLSketch.from_row(*state, kk)
        batch = KLLSketch(kk)
        batch.extend(rows["value"].to_numpy())
        acc.merge(batch)
        return acc.to_row()

    def emit(key: str, state: tuple) -> pd.DataFrame:
        acc = KLLSketch.from_row(*state, kk)
        return pd.DataFrame(
            [(key, q, round(acc.quantile(q), 4), acc.n) for q in qs],
            columns=["key", "q", "est", "n_seen"],
        )

    return keyed_sketch(
        stream_df.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(value_col).cast("double").alias("value"),
            *order_cols,
        ).filter(F.col("value").isNotNull()),
        "key",
        state_schema=KLL_STATE_SCHEMA,
        output_schema=KLL_OUTPUT_SCHEMA,
        init=KLLSketch(kk).to_row(),
        fold=fold,
        emit=emit,
        order_by=order_cols,
    )
