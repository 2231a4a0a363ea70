"""Continuous frequent-items over a live stream: the streaming twin of
``llm/retrieval.py::q_heavy_hitters`` (Flink-parity gesture — Flink ships
this as a ProcessFunction pattern; Spark has no built-in).

Items shard by hash, so EVERY occurrence of an item lands on one shard's
state — the per-shard Misra-Gries sketch therefore sees the item's full
stream, and the classic bound applies per shard: any item whose count
within its shard exceeds n_shard/(capacity+1) is guaranteed present, with
counter value underestimating the true count by at most
n_shard/(capacity+1). Memory is O(shards x capacity) across the whole
cluster no matter how many distinct items flow through — the property
that makes continuous URL/term frequency possible where a stateful
groupBy(term).count() would grow state with lifetime cardinality.

Emission: after each micro-batch that touched a shard, the shard emits
its full current sketch (outputMode update downstream reads
latest-per-(shard, item)); ``n_seen`` rides along so consumers can apply
the error bound. State serializes as JSON — a few KB per shard row.

Reference parity note: the reference (``WindowPublisher.java``) has no
frequency surface; this extends its streaming core the same way the Part
B relational surface does (SURVEY.md §2, A10).
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.llm.retrieval import misra_gries_step

OUTPUT_SCHEMA = "shard int, item string, lb_count long, n_seen long"
STATE_SCHEMA = "sketch string, n_seen long"

DEFAULT_SHARDS = 8
DEFAULT_CAPACITY = 64


def frequent_items_stateful(
    stream_df: DataFrame,
    item_col: str,
    n_shards: int = DEFAULT_SHARDS,
    capacity: int = DEFAULT_CAPACITY,
) -> DataFrame:
    """Bounded-state continuous frequent items on a streaming DataFrame.

    Emits, per micro-batch per touched shard, one row per surviving
    counter: (shard, item, lb_count, n_seen). ``lb_count`` is the MG
    counter — a lower bound within [true - n_seen/(capacity+1), true].
    """

    def update(
        key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: Any
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            sketch_json, n_seen = state.get
            counters: dict[str, int] = json.loads(sketch_json)
        else:
            counters, n_seen = {}, 0
        for pdf in pdfs:
            n_seen += len(pdf)
            counters = misra_gries_step(counters, pdf["item"], capacity)
        state.update((json.dumps(counters), n_seen))
        if counters:
            yield pd.DataFrame(
                {
                    "shard": [key[0]] * len(counters),
                    "item": list(counters.keys()),
                    "lb_count": list(counters.values()),
                    "n_seen": [n_seen] * len(counters),
                }
            )

    return (
        stream_df.select(
            F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_shards))
            .cast("int")
            .alias("shard"),
            F.col(item_col).cast("string").alias("item"),
        )
        # a NULL item is "no observation", not a countable token: the JSON
        # state round-trip would coerce a None counter key to the string
        # "null", silently merging nulls with that literal token
        .filter(F.col("item").isNotNull())
        .groupBy("shard")
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
