"""Sink surface (SURVEY.md §2 Part B "sinks" row): the bounded memory
table and the exactly-once ``foreachBatch`` file sink. File formats are
Spark's own writers (``df.write.parquet``/``.orc``/``.csv``/``.json``);
the partitioned parquet layout is ``sources/layout.py::partitioned_write``.

The reference's only sink is a consumer callback fed by a thread pool
(``WindowPublisher.java:132-169``); here sinks are Spark writers, so
delivery parallelism, retries, and atomicity come from the task scheduler
and the file-commit protocol instead of a SynchronousQueue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from reactor_window_like_flink_spark.functions.materialize import collect_bounded


MEMORY_TABLE_MAX_ROWS = 100_000


def to_memory_table(
    spark: SparkSession, df: DataFrame, name: str, max_rows: int = MEMORY_TABLE_MAX_ROWS
) -> DataFrame:
    """Batch analog of the streaming memory sink: materialize into a
    local-relation temp view (driver memory — debug/test scale only).
    The collect goes through ``collect_bounded`` (one Spark job, as on
    the publisher's ``consumer`` path): more than ``max_rows`` rows
    raises instead of silently OOMing the driver — a memory sink pointed
    at a fact table is a caller bug, not a workload. At most
    P*(max_rows+1) rows of a P-partition frame reach the driver before
    that check."""
    rows = collect_bounded(df, max_rows)
    if rows is None:
        raise ValueError(
            f"to_memory_table('{name}'): result exceeds max_rows="
            f"{max_rows}; memory sinks are debug/test scale — write to a"
            " file sink instead or raise max_rows explicitly"
        )
    spark.createDataFrame(rows, df.schema).createOrReplaceTempView(name)
    return spark.table(name)


def idempotent_batch_sink(output_dir: str):
    """The canonical exactly-once ``foreachBatch`` file sink: each
    micro-batch overwrites its OWN ``batch_id=N`` subdirectory.

    ``foreachBatch`` alone gives at-least-once: after a crash between a
    sink write and the checkpoint commit, Spark REPLAYS the last batch
    with the SAME ``batch_id`` — an append-mode sink would duplicate it.
    Keying the write path by ``batch_id`` and overwriting makes the
    replay a no-op rewrite of identical content, which upgrades the
    pipeline to exactly-once end-to-end (checkpointed source offsets +
    deterministic batch content + idempotent write). This is the pattern
    the ``subscribe(consumer_df=...)`` docstring requires of callers;
    ``tests/test_streaming.py`` replays a batch through it and asserts
    no duplicate side effects.

    Readers see the result as one hive-partitioned dataset
    (``spark.read.parquet(output_dir)`` — ``batch_id`` becomes a column);
    at scale, pair with ``sources.layout.compact`` to fold small
    per-batch files into read-sized ones.
    """
    import os

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"batch_id={batch_id}")
        )

    return sink
