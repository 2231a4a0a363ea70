"""Continuous count-min sketch over a live stream: the streaming twin of
``llm/retrieval.py::q_cms_rollup`` (point-frequency estimates the way
``frequent_items_stateful`` answers "which items are hot" — CMS answers
"how hot is THIS item" for a fixed probe set, with bounded state).

State per key is ONE depth x width counter matrix (flattened
``array<long>``) plus the stream count — O(keys x depth x width) longs
for the stream's lifetime regardless of item cardinality, the same
bounded-state contract as ``continuous_quantiles``'s histogram. The
bucket hash is the SAME engine-neutral md5 device as the batch sketch
(first 8 hex chars of ``md5(item|d)`` mod width), so a bounded stream
replayed through this operator carries exactly the batch sketch's
counters and emits exactly its probe estimates (asserted by
``tests/test_frequent_stream.py``) — and a per-source streaming sketch
can be counter-added onto a batch-built one (the mergeable-rollup
property, counters are plain sums).

Emission: after each micro-batch that touched a key, one row per probe
item: (key, item, cms_est, n_seen). outputMode update — downstream
reads latest-per-(key, item).
The state rule, one fold of the key's whole micro-batch per trigger, is
``streaming/keyed.py::keyed_sketch``.

Reference parity note: the reference (``WindowPublisher.java``) has no
aggregation surface; this extends its streaming core the same way the
Part B relational surface does (SURVEY.md §2, A10).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.llm.retrieval import (
    CMS_DEPTH,
    CMS_WIDTH,
)
from reactor_window_like_flink_spark.streaming.keyed import keyed_sketch

OUTPUT_SCHEMA = "key string, item string, cms_est long, n_seen long"
STATE_SCHEMA = "counters array<long>, n long"


def cms_bucket(item: str, d: int, width: int = CMS_WIDTH) -> int:
    """Python mirror of ``llm/retrieval._cms_bucket_sql``: first 8 md5
    hex chars of 'item|d' as a 32-bit int, mod width — byte-identical to
    the batch sketch's JVM/DuckDB bucket assignment."""
    h = hashlib.md5(f"{item}|{d}".encode()).hexdigest()[:8]
    return int(h, 16) % width


def continuous_cms(
    stream_df: DataFrame,
    key_col: str,
    item_col: str,
    probes: tuple[str, ...],
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Bounded-state running point-frequency estimates per key on a
    streaming DataFrame: maintain a depth x width CMS of ``item_col``
    occurrences and emit min-over-depth estimates for each probe item
    after every touched micro-batch. CMS guarantees est >= true count;
    expected overcount is n/width per hash row, min over ``depth``
    independent rows."""
    if not probes:
        raise ValueError("need at least one probe item")
    probe_cells = {
        p: [d * width + cms_bucket(p, d, width) for d in range(depth)]
        for p in probes
    }

    def fold(state: tuple, rows: pd.DataFrame) -> tuple:
        counters_l, n = state
        counters = np.asarray(counters_l, dtype="int64")
        # memo the per-item flat cell ids within this key's micro-batch
        # (Zipf: the same items recur; md5 per occurrence would dominate)
        cells: dict[str, list[int]] = {}
        for item in rows["item"]:
            ids = cells.get(item)
            if ids is None:
                ids = [
                    d * width + cms_bucket(item, d, width)
                    for d in range(depth)
                ]
                cells[item] = ids
            counters[ids] += 1
            n += 1
        return [int(c) for c in counters], int(n)

    def emit(key: str, state: tuple) -> pd.DataFrame:
        counters, n = state
        out = [
            (key, p, int(min(counters[i] for i in ids)), int(n))
            for p, ids in probe_cells.items()
        ]
        return pd.DataFrame(out, columns=["key", "item", "cms_est", "n_seen"])

    return keyed_sketch(
        stream_df.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(item_col).cast("string").alias("item"),
        ).filter(F.col("item").isNotNull()),
        "key",
        state_schema=STATE_SCHEMA,
        output_schema=OUTPUT_SCHEMA,
        init=([0] * (depth * width), 0),
        fold=fold,
        emit=emit,
    )
