"""The keyed-sketch state rule, shared by the streaming sketches that
never time out (``continuous_quantiles``, ``continuous_quantiles_kll``,
``continuous_cms``, ``continuous_holt_trend``, ``frequent_items_stateful``).

A key's state is one row. Each micro-batch folds the key's WHOLE share of
the batch onto that row once, in ``order_by`` order, then emits. Spark
hands a large group over in several Arrow batches
(``spark.sql.execution.arrow.maxRecordsPerBatch``); an order-sensitive
fold (Holt's recurrence, KLL's compaction schedule) run per Arrow batch
would depend on that transport setting. One fold per micro-batch makes
the state after batch N the fold over batches 1..N in order, and crash
recovery re-applies the same micro-batch to the same pre-batch state.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame


def keyed_sketch(
    projected: DataFrame,
    key: str,
    *,
    state_schema: str,
    output_schema: str,
    init: tuple,
    fold: Callable[[tuple, pd.DataFrame], tuple],
    emit: Callable[[Any, tuple], pd.DataFrame],
    order_by: Sequence[str] = (),
) -> DataFrame:
    """Group ``projected`` by ``key`` and keep one state row per key.

    Per call: ``fold(state, rows)`` gets the stored row (``init`` when the
    key is new) and the key's rows of this micro-batch as one frame,
    sorted once by ``order_by`` (stable mergesort) when given, and
    returns the new state row; that row is written, and
    ``emit(key, state)`` is the call's output. With ``NoTimeout`` Spark
    calls the function only for keys that have rows in the micro-batch,
    so every touched key emits once per micro-batch and no other key
    does. The Python worker holds one key's micro-batch in memory at a
    time, as ``joins.py::temporal_join`` does."""
    order = list(order_by)

    def update(
        keys: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: Any
    ) -> Iterable[pd.DataFrame]:
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        rows = pd.concat(chunks, ignore_index=True)
        if order:
            rows = rows.sort_values(order, kind="mergesort")
        acc = fold(tuple(state.get) if state.exists else init, rows)
        state.update(acc)
        yield emit(keys[0], acc)

    return projected.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
