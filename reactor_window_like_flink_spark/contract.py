"""Query-key registry shared by all operator modules.

Every operator from SURVEY.md §2 Part B registers a PySpark builder and
(where SQL-expressible) a DuckDB oracle string under the same key. The
driver contract (``__spark_entry__.py``) merges the per-module registries.

Determinism rules (so the driver's order-insensitive value-hash matches):
  * round every order-of-summation-dependent double aggregate (SUM/AVG over
    doubles) — per-row arithmetic is IEEE-deterministic and needs no rounding;
  * ...and round at n >= 1 decimals only through ``round_to`` (its
    docstring has the engine-identity rule);
  * cast DuckDB ``count``/``sum`` of integers to BIGINT (DuckDB widens to
    HUGEINT, Spark stays at LongType);
  * emit computed timestamps as epoch-seconds BIGINT or formatted strings
    (Spark TIMESTAMP_LTZ vs DuckDB naive timestamps hash differently);
  * break every window/sort ordering tie with a unique key column;
  * NO bare array/map/struct columns in contract outputs — the driver's
    canonicalizer sorts raw cells and list cells are unhashable there
    (pandas ``sort_values`` raises ``TypeError: unhashable type``). Encode
    lists as CSV strings: sort in the element type first (numeric sort,
    THEN stringify), e.g. Spark
    ``array_join(transform(array_sort(xs), x -> string(x)), ',')`` vs
    DuckDB ``array_to_string(list_transform(list_sort(xs), x ->
    CAST(x AS VARCHAR)), ',')``. Enforced by
    ``tests/test_entry_contract.py::test_no_bare_container_columns``.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]


def round_to(col: Column | str, n: int) -> Column:
    """``col`` rounded to ``n`` decimals, identically in Spark and DuckDB.

    ``ROUND(x, n)`` at n >= 1 is NOT engine-identical at representation
    boundaries: Spark rounds the SHORTEST DECIMAL REPR (BigDecimal.valueOf)
    while DuckDB rounds the BINARY double, and they disagree when the repr
    sits on the other side of a half from the binary value (an sf0.1 sweep
    found q_quality_score off by 1e-4 on 8 of 50k rows, and
    q_tpch_q11_shape one cent off in a SUM). So every Spark-side round is
    ``ROUND(x * 10^n, 0) / 10^n`` (at 0 decimals both engines agree on
    every double, including exact halves — both go away from zero), and
    the oracle SQL spells the same form inline. The multiplier is an int
    literal and the divisor a double literal, as in the oracle text. When
    the value also feeds a threshold compare, quantize to scaled BIGINT
    before aggregating instead (the q11 integer-cents pattern). A ``str``
    is a column name. ``tests/test_entry_contract.py::
    test_no_unsafe_round_anywhere`` fails on a bare n >= 1 round and on
    a hand-expanded form outside this module.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 10**n, 0) / float(10**n)


def order_small(df: DataFrame, *cols: Column | str) -> DataFrame:
    """``df`` globally sorted by ``cols`` in ONE task.

    The rule: a global sort over a result whose row count is bounded by a
    dimension (flags, priorities, nations, years, kinds) sorts in one
    task. A plain ``orderBy`` plans a range exchange, which costs a
    sampling job plus a range shuffle at any scale; ``CoalesceExec(1)``
    reports ``SinglePartition``, so no exchange is planned and the sort
    runs in the coalesced task. Only the stage the coalesce sits in (the
    final merge of the bounded groups) narrows to one task; the
    partial-aggregate stage below its exchange keeps its parallelism. A
    result that grows with the data keeps the plain ``orderBy``.
    ``tests/test_plans.py`` pins both sides and fails on a
    ``.coalesce(1).orderBy(...)`` written anywhere else.
    """
    return df.coalesce(1).orderBy(*cols)


def join_small(left: DataFrame, right: DataFrame, on: Column) -> DataFrame:
    """``left`` inner-joined to ``right`` on ``on`` in ONE task.

    The rule: both sides must be dimension-bounded — nation (25 rows)
    and region (5 rows) at every scale, or supplier (10,000 × SF rows)
    when the key already broadcasts the joined result whole, so every
    row of it is collected for the broadcast anyway. A frame that grows
    with the facts keeps Catalyst's join. ``CoalesceExec(1)`` reports
    ``SinglePartition`` on both children, which satisfies a
    ``ShuffledHashJoin``'s distribution: no exchange and no broadcast
    job is planned, and the join runs inside the task that reads the
    two tables. The ``shuffle_hash`` hint is what keeps it there: under
    the broadcast threshold Catalyst would broadcast the smaller side,
    and on this build every broadcast is a job of its own (one more for
    each broadcast nested in another's build side).
    ``tests/test_plans.py`` pins the rewritten keys and fails on a join
    over a ``.coalesce(1)`` frame written anywhere else.
    """
    return left.coalesce(1).join(right.coalesce(1).hint("shuffle_hash"), on)


class Registry:
    """Per-module collection of (query builder, oracle SQL) pairs."""

    def __init__(self) -> None:
        self.queries: dict[str, QueryFn] = {}
        self.oracle: dict[str, str] = {}

    def add(self, name: str, sql: str | None = None) -> Callable[[QueryFn], QueryFn]:
        def deco(fn: QueryFn) -> QueryFn:
            self.queries[name] = fn
            if sql is not None:
                self.oracle[name] = sql
            return fn

        return deco


def merge(*registries: Registry) -> tuple[dict[str, QueryFn], dict[str, str]]:
    queries: dict[str, Any] = {}
    oracle: dict[str, str] = {}
    for reg in registries:
        overlap = queries.keys() & reg.queries.keys()
        if overlap:
            raise ValueError(f"duplicate query keys across modules: {sorted(overlap)}")
        queries.update(reg.queries)
        oracle.update(reg.oracle)
    return queries, oracle
