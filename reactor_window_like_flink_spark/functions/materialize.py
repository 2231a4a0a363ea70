"""The one materialization rule, the one bounded driver collect and the
one-job driver read. Every ``localCheckpoint`` in the package goes
through ``materialize``; no module calls it directly (pinned by
``tests/test_entry_contract.py``). A driver collect whose over-bound
result is an error goes through ``collect_bounded``. A one-row
aggregate the driver reads to size or steer work (a graph's node and
edge counts, a loop's convergence count) goes through
``aggregate_row``. A session conf set for one call and restored after
it goes through ``_session_conf``.

The rule:

* **Lazy** for any frame read by more than one branch, job or loop
  round. Catalyst's ReusedExchange does not fire across branches that
  prune the shared subtree differently, so without a checkpoint the
  shared scan/explode/aggregate re-runs once per branch; and an
  iterative loop's plan grows one round deeper per round. A lazy
  checkpoint truncates lineage and is filled by the first action that
  reads it (block-level locks dedup concurrent readers), so it costs no
  extra Spark job: under AQE a lazy checkpoint over an exchange runs
  that exchange's map stage when it is called, a job the first reader
  would have run anyway. An eager copy costs one whole extra job, and
  per-job scheduling overhead is the floor for small batches.
* **Eager** only for a frame that feeds a broadcast build side AND its
  probe in the same plan, where AQE runs the two stages concurrently:
  both race to fill the same checkpoint, and the eager copy gives one
  deterministic materialization before planning. The incremental
  near-dup admission's batch tokens (``llm/curation.py``) are the
  case: eager median 0.85 s vs lazy 0.99 s, measured on 32 cores with
  18 interleaved samples per arm. A plan whose broadcast stage AQE
  creates before any stage that probes it has no race and stays lazy:
  the similarity-join banding frame (``llm/similarity.py``) runs its
  banding once either way, and lazily saves the eager copy's job
  (sf0.1, 4-vCPU host, 12 alternating samples per arm: lazy median
  1.94 s, worst 2.67 s; eager 2.10 s, worst 2.85 s).
* **Never** a raw fact scan: narrow re-scans of a projection are
  cheaper than copying the table. Materialize the shared aggregate,
  explode or slice derived from it instead.

``localCheckpoint`` trades executor-loss recovery for speed; on a
durable cluster the same call sites would take ``checkpoint()``.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Row, SparkSession

from reactor_window_like_flink_spark.plans.audit import node_counts


def materialize(df: DataFrame, *, feeds_broadcast: bool = False) -> DataFrame:
    """Checkpoint ``df`` under the module rule: lazily, or eagerly when
    ``feeds_broadcast`` (the frame feeds a broadcast build side and its
    probe in one plan). Chains as ``df.transform(materialize)``."""
    return df.localCheckpoint(eager=feeds_broadcast)


@contextmanager
def _session_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set session conf ``key`` to ``value`` for the block, then restore
    it in a ``finally``, even when the block raises: unset again if it
    was unset, else set back to its previous value."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


# Spark's executeTake scans this many partitions in its first round.
_LIMIT_INITIAL_PARTITIONS = "spark.sql.limit.initialNumPartitions"


def collect_bounded(df: DataFrame, max_rows: int) -> list[Row] | None:
    """Collect ``df`` to the driver in one Spark job if it holds at most
    ``max_rows`` rows; return ``None`` (after one job) if it holds more.

    The rule: one ``df.limit(max_rows + 1).collect()``. A bare
    ``limit().collect()`` is not enough: Spark's ``executeTake`` scans
    ``spark.sql.limit.initialNumPartitions`` (1) partitions, then scales
    up in further jobs, so a frame over P > 1 partitions pays 2+ jobs.
    Here that conf is raised, for this call only, to 2**31-1, which is
    at least any frame's partition count (an adaptive plan's count is
    known only after its shuffle stages run), so the first round scans
    every partition. The conf is set on ``df.sparkSession`` for this call
    only (``_session_conf``).

    The real driver bound is P*(max_rows+1) rows, not max_rows+1: each
    of the P partitions ships up to max_rows+1 rows before the driver
    truncates. A bare ``limit(max_rows+1).collect()`` already had that
    bound in its scale-up rounds; ``spark.driver.maxResultSize`` is the
    hard stop on serialized bytes either way.

    So use it only where an over-bound result raises (the publisher's
    ``consumer`` path, ``sources/sinks.py::to_memory_table``). A gate
    that falls back to a distributed path when over its bound (the BPE
    and unigram ``driver_vocab_max`` gates, ``llm/similarity.py::fit_pq``'s
    training sample) keeps its ``count()`` first: a count ships no rows,
    while here an over-bound frame ships up to P*(max_rows+1) rows and
    can pass ``maxResultSize`` where the fallback should have run. A
    count that sizes distributed work (``train_ivf``'s ``KMeans.fit``
    sample) is not a driver gate at all.

    A ``take()`` running concurrently on the same session while the
    conf is raised sees it only as a different partitions-scanned
    count, never as different rows; so do later ``take()``s if two
    overlapping ``collect_bounded`` calls on one session restore out of
    order. Inside ``foreachBatch`` the session is the streaming query's
    own clone, so nothing else shares it.
    """
    with _session_conf(df.sparkSession, _LIMIT_INITIAL_PARTITIONS, str(2**31 - 1)):
        rows = df.limit(max_rows + 1).collect()
    return rows if len(rows) <= max_rows else None


def aggregate_row(df: DataFrame, *exprs: Column) -> Row:
    """The one row of ``df.agg(*exprs)``, read by the driver in one Spark
    job.

    Under AQE a global aggregate runs as two jobs: the partial
    aggregate's map stage is submitted on its own, then the final
    aggregate. Planned with ``spark.sql.adaptive.enabled=false`` both
    stages run in one job. The conf is set on ``df.sparkSession`` for
    this call only (``_session_conf``).

    ``df`` itself must plan no shuffle: read it off a ``materialize``d
    frame or a scan. A frame whose plan holds an ``Exchange`` raises
    ``ValueError`` before anything runs, so no shuffle loses AQE's
    partition coalescing or join switching to this call.

    A batch query that another thread plans on the same session while
    the conf is off gets a non-adaptive plan: the same rows, planned
    without AQE. Streaming queries clone the session conf when they
    start, so they are not affected.
    """
    if node_counts(df)["Exchange"]:
        raise ValueError(
            "aggregate_row: the frame plans a shuffle; read its one-row"
            " aggregate off a materialized frame"
        )
    with _session_conf(df.sparkSession, "spark.sql.adaptive.enabled", "false"):
        return df.agg(*exprs).collect()[0]
