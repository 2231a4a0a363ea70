"""Faithful streaming count-or-time flush (reference A5,
``WindowPublisher.java:70-72``) as a custom stateful operator.

The batch analog (``windows.q_count_or_time_batches``) replays history;
this one runs on a live unbounded stream: per key, a batch closes the
moment it holds ``max_size`` elements, or when ``duration`` elapses after
it opened — whichever first — and empty batches never emit. That is
exactly ``bufferTimeout(windowMaxBatchSize, windowDuration)`` plus the
``filter(!it.isEmpty())``, with two upgrades the reference disclaims
(``README.md:99-100``): state survives restarts via the checkpoint, and
keys are processed in parallel across the cluster.

Implementation: ``applyInPandasWithState``, with per-key state O(1)
(open-batch count/sum/open-time + sequence counter). Each micro-batch's
rows run through ``windows._count_or_time_fold``, the flush rule of the
batch key, all at one processing time (ms); a key with no new rows
closes its open batch on the processing-time timeout. The key is the
unit of parallelism; state lives in the state store, so a 1000-executor
cluster runs this with per-key exactly-once semantics.

State retention: by default a key's state row is kept forever after its
last flush so ``batch_seq`` stays monotonic per key across the stream's
lifetime — an O(1)-per-key cost that grows with the LIFETIME key
cardinality, which is a real leak on a long-running stream over an
unbounded key space (e.g. session ids). For those deployments pass
``idle_state_ttl_seconds``: a key idle that long after its last flush
has its state removed (and its ``batch_seq`` restarts at 0 if the key
ever returns — the documented trade for bounded state).
"""

from __future__ import annotations

from collections.abc import Iterable
from itertools import repeat
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame

from reactor_window_like_flink_spark.streaming.windows import _count_or_time_fold

OUTPUT_SCHEMA = (
    "key long, batch_seq long, n_events long, sum_value double, "
    "flush_reason string"
)
STATE_SCHEMA = "seq long, n long, total double, opened_ms long"


def count_or_time_stateful(
    stream_df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    max_size: int = 16,
    duration_seconds: float = 1.0,
    idle_state_ttl_seconds: float | None = None,
) -> DataFrame:
    """Per-``key_col`` hybrid count-or-time batch summaries over a
    streaming DataFrame. Emits one row per closed batch:
    (key, batch_seq, n_events, sum_value, flush_reason ∈ {size, timeout}).

    ``idle_state_ttl_seconds``: optional retention bound for per-key
    state (see module docstring) — a key idle that long after its last
    flush is evicted from the state store; its ``batch_seq`` restarts at
    0 if it returns. ``opened_ms == -1`` in the state row marks "idle,
    TTL armed" so a TTL expiry is distinguishable from a batch timeout.
    """
    timeout_ms = int(duration_seconds * 1000)
    ttl_ms = (
        None if idle_state_ttl_seconds is None else int(idle_state_ttl_seconds * 1000)
    )

    def _settle_idle(state: Any, seq: int) -> None:
        """No open batch: either keep state forever (default — monotonic
        batch_seq) or arm the idle TTL so the key can be evicted."""
        if ttl_ms is None:
            state.update((seq, 0, 0.0, 0))
        else:
            state.update((seq, 0, 0.0, -1))
            state.setTimeoutDuration(ttl_ms)

    def flush(
        key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: Any
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            seq, n, total, opened_ms = state.get
        else:
            seq, n, total, opened_ms = 0, 0, 0.0, 0
        out: list[tuple[int, int, int, float, str]] = []

        if state.hasTimedOut:
            if n > 0:
                # time path: windowDuration elapsed since the open batch
                # OPENED
                out.append((key[0], seq, n, round(total, 2), "timeout"))
                seq += 1
                _settle_idle(state, seq)
            elif ttl_ms is not None and opened_ms == -1:
                # idle TTL expired with nothing buffered since the last
                # flush: evict the key (batch_seq resets if it returns)
                state.remove()
            else:
                # stray timeout with no open batch (e.g. armed before a
                # count-path flush emptied the buffer)
                _settle_idle(state, seq)
        else:
            now_ms = state.getCurrentProcessingTimeMs()
            # The fold's timeout check runs on the data path too: the
            # state timeout only fires in a micro-batch where this key
            # has no new rows, so under a steady trickle it never fires.
            closed, (seq, n, total, opened_ms) = _count_or_time_fold(
                (seq, n, total, opened_ms),
                repeat(now_ms),
                [v for pdf in pdfs for v in pdf["value"]],
                max_size,
                timeout_ms,
            )
            out += [(key[0], b[0], b[1], b[3], b[4]) for b in closed]
            if n > 0:
                state.update((seq, n, total, opened_ms))
                # Arm the clock for the time left since the batch OPENED
                # (bufferTimeout semantics): the full duration on every
                # micro-batch would leave latency unbounded under a trickle.
                remaining = max(1, opened_ms + timeout_ms - now_ms)
                state.setTimeoutDuration(int(remaining))
            else:
                # arrivals exactly filled the last count-path batch: no
                # open buffer remains — settle (keep or arm TTL)
                _settle_idle(state, seq)
        if out:
            yield pd.DataFrame(
                out,
                columns=["key", "batch_seq", "n_events", "sum_value", "flush_reason"],
            )

    return (
        stream_df.selectExpr(f"{key_col} AS key", f"{value_col} AS value")
        .groupBy("key")
        .applyInPandasWithState(
            flush,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf="ProcessingTimeTimeout",
        )
    )
