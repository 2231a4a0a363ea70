"""The one per-session artifact memo. Every index or trained model the
registered keys build once per (session, dataset) — BPE merges, the
unigram model, the near-dup index tables, the IVF / PQ / IVFPQ indexes,
the BM25 postings — goes through ``artifact``; no module keeps its own
memo (pinned by ``tests/test_entry_contract.py``).

The rule:

* Entries are keyed by ``(spark.sparkContext.applicationId, sf_dir)``.
  Not ``id(spark)``: CPython reuses ids after garbage collection, so an
  id key could serve a new session an artifact built under a dead one.
  An ended application's entries are never served; they age out.
* Each ``kind`` keeps its own LRU of ``MAX_ENTRIES``. A hit re-inserts
  the entry as most recent and does not rebuild.
* A miss calls ``build()`` and records one ``index_events`` event
  ``(kind, sf_dir, seconds)``. A hit records nothing.
* Eviction calls ``release(value)``, except when another live entry
  still holds an equal value (two applications' entries for one dataset
  can name the same warehouse tables). Freeing is always safe: an
  evicted artifact is rebuilt from lineage on its next miss. Callers
  re-fetch through their accessor rather than hoard a value across
  more than ``MAX_ENTRIES`` interleaved datasets.
* Persisted frames are freed through ``unpersist``, which skips a frame
  whose SparkContext has stopped: that memory went with the context.
"""

from __future__ import annotations

import time
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

from reactor_window_like_flink_spark.llm import index_events

T = TypeVar("T")

MAX_ENTRIES = 4  # per kind, e.g. two live sessions x two corpora

# kind -> {(applicationId, sf_dir): value}, insertion-ordered = LRU order
MEMOS: dict[str, dict[tuple[str, str], object]] = {}


def artifact(
    kind: str,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], T],
    release: Callable[[T], None] | None = None,
) -> T:
    """The ``kind`` artifact for (``spark``'s application, ``sf_dir``),
    built by ``build()`` on a miss; see the module rule."""
    memo = MEMOS.setdefault(kind, {})
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in memo:
        value = memo.pop(key)
    else:
        t0 = time.perf_counter()
        value = build()
        index_events.record(kind, sf_dir, time.perf_counter() - t0)
    memo[key] = value  # (re-)insert = most recently used
    while len(memo) > MAX_ENTRIES:
        old = memo.pop(next(iter(memo)))
        if release is not None and old not in memo.values():
            release(old)
    return value


def unpersist(*frames: DataFrame) -> None:
    """Unpersist each frame whose SparkContext is still running."""
    for df in frames:
        if df.sparkSession.sparkContext._jsc is not None:
            df.unpersist()
