"""Physical-plan inspection (SURVEY.md §4).

Catalyst provides the optimizer; this package makes its decisions
*assertable* — filter/column pushdown reached the parquet scan, small
dimensions broadcast, no Python stage breaks the JVM hot path, shuffle
counts stay at the algorithmic minimum.  The test suite pins these so
a regression that silently de-optimizes a plan (e.g. a UDF breaking
pushdown) fails CI, not the 100 TB run.
"""

from .inspect import (
    broadcast_join_count,
    exchange_count,
    formatted_plan,
    plan_audit,
    pushed_filters,
    python_stage_count,
    python_under_range_exchange,
    scan_read_schema,
)

__all__ = [
    "formatted_plan",
    "pushed_filters",
    "scan_read_schema",
    "broadcast_join_count",
    "exchange_count",
    "python_stage_count",
    "python_under_range_exchange",
    "plan_audit",
]
