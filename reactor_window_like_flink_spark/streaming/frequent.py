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
the error bound. State serializes as JSON — a few KB per shard row. The
state rule, one fold of the shard's whole micro-batch per trigger, is
``streaming/keyed.py::keyed_sketch``.

Reference parity note: the reference (``WindowPublisher.java``) has no
frequency surface; this extends its streaming core the same way the Part
B relational surface does (SURVEY.md §2, A10).
"""

from __future__ import annotations

import json

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.llm.retrieval import misra_gries_step
from reactor_window_like_flink_spark.streaming.keyed import keyed_sketch

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

    def fold(state: tuple, rows: pd.DataFrame) -> tuple:
        sketch_json, n_seen = state
        counters = misra_gries_step(json.loads(sketch_json), rows["item"], capacity)
        return json.dumps(counters), n_seen + len(rows)

    def emit(shard: int, state: tuple) -> pd.DataFrame:
        sketch_json, n_seen = state
        counters: dict[str, int] = json.loads(sketch_json)
        return pd.DataFrame(
            {
                "shard": [shard] * len(counters),
                "item": list(counters.keys()),
                "lb_count": list(counters.values()),
                "n_seen": [n_seen] * len(counters),
            }
        )

    return keyed_sketch(
        stream_df.select(
            F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_shards))
            .cast("int")
            .alias("shard"),
            F.col(item_col).cast("string").alias("item"),
        )
        # a NULL item is "no observation", not a countable token: the JSON
        # state round-trip would coerce a None counter key to the string
        # "null", silently merging nulls with that literal token
        .filter(F.col("item").isNotNull()),
        "shard",
        state_schema=STATE_SCHEMA,
        output_schema=OUTPUT_SCHEMA,
        init=("{}", 0),
        fold=fold,
        emit=emit,
    )
