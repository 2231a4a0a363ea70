"""The one materialization rule. Every ``localCheckpoint`` in the package
goes through ``materialize``; no module calls it directly (pinned by
``tests/test_entry_contract.py``).

The rule:

* **Lazy** for any frame read by more than one branch, job or loop
  round. Catalyst's ReusedExchange does not fire across branches that
  prune the shared subtree differently, so without a checkpoint the
  shared scan/explode/aggregate re-runs once per branch; and an
  iterative loop's plan grows one round deeper per round. A lazy
  checkpoint truncates lineage and is filled by the first action that
  reads it (block-level locks dedup concurrent readers), so it costs no
  Spark job of its own. An eager copy costs one whole extra job, and
  per-job scheduling overhead is the floor for small batches.
* **Eager** only for a frame that feeds a broadcast build side AND its
  probe in the same plan. Lazily, AQE plans the broadcast and the probe
  stages concurrently and both race to fill the same checkpoint; the
  eager copy gives one deterministic materialization before planning.
  Measured on 32 cores (18 interleaved samples per arm): the
  similarity-join banding frame, eager worst case 3.13 s vs lazy
  6.38 s at flat medians; the incremental near-dup admission's batch
  tokens, eager median 0.85 s vs lazy 0.99 s.
* **Never** a raw fact scan: narrow re-scans of a projection are
  cheaper than copying the table. Materialize the shared aggregate,
  explode or slice derived from it instead.

``localCheckpoint`` trades executor-loss recovery for speed; on a
durable cluster the same call sites would take ``checkpoint()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, *, feeds_broadcast: bool = False) -> DataFrame:
    """Checkpoint ``df`` under the module rule: lazily, or eagerly when
    ``feeds_broadcast`` (the frame feeds a broadcast build side and its
    probe in one plan). Chains as ``df.transform(materialize)``."""
    return df.localCheckpoint(eager=feeds_broadcast)
