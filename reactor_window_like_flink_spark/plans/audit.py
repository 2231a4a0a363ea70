"""Physical-plan audit helpers.

The reference has no planner to audit (its "plan" is a fixed Reactor chain,
``WindowPublisher.java:65-73``); here the plan IS the performance story, so
these helpers turn ``explain("formatted")`` into assertions that tests and
CI can enforce: a scan that stops pruning columns or a join that stops
broadcasting is a regression even while results stay correct.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame

# One entry of the numbered node list: "(7) BroadcastExchange", and the
# first word of "(3) Scan parquet spark_catalog...". The rendered tree
# above the list repeats every operator name, so counts read only this.
_NODE = re.compile(r"^\(\d+\) (\w+)", re.M)


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string (explain() only prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each file scan — the observable form
    of column pruning. One inner list per scan node."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        body = m.group(1)
        out.append([c.split(":")[0] for c in body.split(",") if c])
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    """Filter expressions pushed into the parquet reader across all scans."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def has_node(df: DataFrame, node: str) -> bool:
    """Whether the physical plan contains the named operator (e.g.
    'BroadcastHashJoin', 'TakeOrderedAndProject', 'WindowGroupLimit')."""
    return node in formatted_plan(df)


def node_counts(df: DataFrame) -> Counter[str]:
    """Operator name -> node count over the numbered node list of
    ``formatted_plan(df)``. Shuffles are ``c["Exchange"]``, broadcasts
    ``c["BroadcastExchange"]``; the Python operators are the names that
    match ``Python|Pandas|InArrow`` (``ArrowEvalPython``, ``MapInPandas``,
    ``MapInArrow``...). The plan read is the frame's own query execution:
    writing the frame runs a separate one, so the counts stay those of
    the initial adaptive plan after a write."""
    return Counter(_NODE.findall(formatted_plan(df)))
