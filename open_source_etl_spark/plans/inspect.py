"""Helpers that parse ``df.explain("formatted")`` output into checkable
facts about the physical plan.

String-parsing the explain output is deliberate: it is the same stable,
public surface a human tunes against, needs no JVM internals, and keeps
the helpers version-tolerant.  Node counts use the formatted mode's
detail headers (``(4) Exchange``) which appear exactly once per node.

Note on codegen: under AQE the pre-execution plan carries no
``[codegen id]`` annotations, so instead of counting codegen spans the
audit counts *Python stages* — the nodes that BREAK codegen and move data
across the JVM/Python boundary (``ArrowEvalPython``, ``MapInPandas``,
…).  Zero Python stages on a relational path means the whole path is
codegen-eligible JVM execution.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

_PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "MapInArrow",
    "PythonMapInArrow",
)


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string (explain prints to stdout)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _node_count(plan: str, node_pattern: str) -> int:
    """Count physical nodes via their detail headers: ``(N) NodeName``."""
    return len(re.findall(rf"^\(\d+\) {node_pattern}\b", plan, re.MULTILINE))


def pushed_filters(df: DataFrame, plan: str | None = None) -> list[str]:
    """All non-empty PushedFilters entries across the plan's file scans —
    predicates that reached the parquet reader (row-group / page skipping
    at scale) instead of filtering post-scan."""
    plan = formatted_plan(df) if plan is None else plan
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        inner = m.group(1).strip()
        if inner:
            out.extend(s.strip() for s in inner.split(","))
    return out


def scan_read_schema(df: DataFrame, plan: str | None = None) -> list[str]:
    """Column names each file scan actually reads (union across scans).
    A scan reading columns the query never uses means column pruning
    failed — at 100 TB that is the difference between reading 2 columns
    and 16."""
    plan = formatted_plan(df) if plan is None else plan
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for part in m.group(1).split(","):
            name = part.split(":")[0].strip()
            if name:
                cols.append(name)
    return sorted(set(cols))


def broadcast_join_count(df: DataFrame, plan: str | None = None) -> int:
    """BroadcastHashJoin / BroadcastNestedLoopJoin nodes — joins that ship
    the small side to every executor instead of shuffling the big side."""
    plan = formatted_plan(df) if plan is None else plan
    return _node_count(plan, "Broadcast(?:Hash|NestedLoop)Join")


def exchange_count(df: DataFrame, plan: str | None = None) -> int:
    """Shuffle exchanges in the plan (broadcast exchanges excluded —
    those ship only the small side).  Every shuffle is a full network
    rewrite of its input: the unit of cost to minimize at scale."""
    return _node_count(formatted_plan(df) if plan is None else plan, "Exchange")


def python_stage_count(df: DataFrame, plan: str | None = None) -> int:
    """Python-boundary nodes in the plan.  Each one breaks whole-stage
    codegen and serializes data to a Python worker (Arrow-batched at
    best); relational hot paths should report zero."""
    plan = formatted_plan(df) if plan is None else plan
    return sum(_node_count(plan, n) for n in _PY_NODES)


_TREE_NODE = re.compile(r"^([ :+\-|]*)(\S.*?) \((\d+)\)$")


def _tree_parents(plan: str) -> dict[str, tuple[str, str | None]]:
    """Operator id → (node name, parent operator id) from the indented
    trees of the formatted plan (the main plan and each subquery)."""
    nodes: dict[str, tuple[str, str | None]] = {}
    in_tree, stack = False, []  # stack: (column, operator id) of open nodes
    for line in plan.splitlines():
        if line.startswith("== Physical Plan ==") or line.startswith("Subquery:"):
            in_tree, stack = True, []
            continue
        if not line.strip():
            in_tree = False
            continue
        m = _TREE_NODE.match(line) if in_tree else None
        if m is None:
            continue
        col, name, op = len(m.group(1)), m.group(2).split(" ")[0], m.group(3)
        while stack and stack[-1][0] >= col:
            stack.pop()
        nodes[op] = (name, stack[-1][1] if stack else None)
        stack.append((col, op))
    return nodes


def python_under_range_exchange(df: DataFrame, plan: str | None = None) -> int:
    """Python nodes whose nearest ``Exchange`` ancestor range-partitions
    (an ``orderBy`` straight over a kernel's output).  Spark's
    ``RangePartitioner`` samples by running that exchange's child, so
    each such kernel runs twice: once for the sample, once for the
    shuffle map stage."""
    plan = formatted_plan(df) if plan is None else plan
    args = dict(
        re.findall(r"^\((\d+)\) Exchange\n(?:.+\n)*?Arguments: (\w+)", plan, re.MULTILINE)
    )
    nodes = _tree_parents(plan)
    count = 0
    for name, parent in nodes.values():
        if name not in _PY_NODES:
            continue
        while parent is not None and nodes[parent][0] != "Exchange":
            parent = nodes[parent][1]
        if parent is not None and args.get(parent) == "rangepartitioning":
            count += 1
    return count


@dataclass
class PlanFacts:
    name: str
    pushed: list[str] = field(default_factory=list)
    read_columns: list[str] = field(default_factory=list)
    broadcast_joins: int = 0
    exchanges: int = 0
    python_stages: int = 0
    python_under_range_exchange: int = 0
    plan: str = ""  # full formatted plan, for ad-hoc node assertions


def plan_audit(name: str, df: DataFrame) -> PlanFacts:
    """One-stop physical-plan audit for a query (used by tests and the
    bench report).  The plan is formatted ONCE and shared by every
    extractor — explain("formatted") walks the whole physical tree, and
    paying it six times per query turned the 250-query audit sweep into
    driver-side busywork."""
    plan = formatted_plan(df)
    return PlanFacts(
        name=name,
        pushed=pushed_filters(df, plan),
        read_columns=scan_read_schema(df, plan),
        broadcast_joins=broadcast_join_count(df, plan),
        exchanges=exchange_count(df, plan),
        python_stages=python_stage_count(df, plan),
        python_under_range_exchange=python_under_range_exchange(df, plan),
        plan=plan,
    )
