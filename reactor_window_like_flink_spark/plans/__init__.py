"""Plan introspection: assert the physical plan properties the 100 TB
posture depends on (pushdown, pruning, broadcast, top-k limits)."""

from reactor_window_like_flink_spark.plans.audit import (
    formatted_plan,
    has_node,
    node_counts,
    pushed_filters,
    read_schema_columns,
)

__all__ = [
    "formatted_plan",
    "has_node",
    "node_counts",
    "pushed_filters",
    "read_schema_columns",
]
