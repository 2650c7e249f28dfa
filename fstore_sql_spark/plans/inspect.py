"""Extract scale-relevant facts from a DataFrame's physical plan.

Everything here reads the *formatted explain* output (the same text
``df.explain("formatted")`` prints), which is stable across Spark 3.4+ and
carries the three facts that decide 100 TB viability:

- ``PushedFilters`` / ``ReadSchema`` on each parquet scan — did predicate
  pushdown and column pruning reach the data source?
- ``Exchange`` operators — how many shuffles does the plan pay?
- join strategy nodes (``BroadcastHashJoin`` vs ``SortMergeJoin``) — is the
  small side broadcast?

These are assertions about the *plan*, not the data, so they run in
milliseconds and hold at any scale factor.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The full formatted explain string (plan tree + node details)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's file scans, flattened.

    Empty list ⇒ no filter reached any scan (fine for full-table reads,
    a red flag for point lookups like A3/A4).
    """
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def scan_columns(df: DataFrame) -> list[list[str]]:
    """Per-scan list of columns actually read (ReadSchema) — verifies
    column pruning: a 2-column projection must not read 11 columns."""
    plan = formatted_plan(df)
    out: list[list[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        body = m.group(1).strip()
        cols = [c.split(":")[0].strip() for c in body.split(",")] if body else []
        out.append(cols)
    return out


def _count_nodes(df: DataFrame, name_pattern: str) -> int:
    """Count plan-tree nodes by name.  Formatted explain lists each node
    once in the tree as ``(<id>) <Name>`` — count those lines only, so the
    per-node detail section doesn't double-count."""
    plan = formatted_plan(df)
    return len(re.findall(rf"\(\d+\) {name_pattern}\b", plan))


def exchange_count(df: DataFrame) -> int:
    """Total Exchange operators (shuffle + broadcast) in the plan."""
    return _count_nodes(df, r"(?:Exchange|BroadcastExchange)")


def shuffle_exchange_count(df: DataFrame) -> int:
    """Shuffle exchanges only — each is a full repartition of its input,
    the dominant cost at 100 TB.  Broadcast exchanges excluded."""
    return _count_nodes(df, r"Exchange")


def spread_exchange_count(df: DataFrame) -> int:
    """Round-robin REPARTITION_BY_NUM exchanges — the ``spread()``
    parallelism floor.  These exist only when the input collapses
    to fewer partitions than the session's parallelism (single-row-group
    local test files); on any at-scale input ``spread`` is a no-op and
    the node disappears, so plan pins should budget them separately from
    the data shuffles that dominate at 100 TB."""
    plan = formatted_plan(df)
    n = 0
    for m in re.finditer(r"^\((\d+)\) Exchange\b", plan, re.M):
        # The Arguments: line for this node, searched ONLY inside the
        # node's own detail block (a lazy forward scan would
        # silently attribute the NEXT node's Arguments if a formatted-
        # explain variant ever omitted this node's line).  A detail block
        # is the run of non-blank lines following the `(N) Name` header.
        block = re.search(
            rf"^\({m.group(1)}\) Exchange[^\n]*\n((?:[^\n]+\n)*)", plan, re.M
        )
        args = (
            re.search(r"^Arguments: ([^\n]*)", block.group(1), re.M)
            if block
            else None
        )
        if args and "RoundRobinPartitioning" in args.group(1) \
                and "REPARTITION_BY_NUM" in args.group(1):
            n += 1
    return n


def data_shuffle_count(df: DataFrame, max_spread: int = 1) -> int:
    """Shuffle exchanges EXCLUDING the spread() parallelism floor — the
    count that actually scales with data volume at 100 TB (the floor
    exchange only exists on tiny local inputs).

    ``max_spread`` caps the subtraction: every pinned query
    has at most ONE spread() site, so a future genuine ``repartition(n)``
    added for data redistribution — which also plans as a RoundRobin
    REPARTITION_BY_NUM exchange — still trips the zero-data-shuffle pins
    instead of being silently excluded.  Pass a higher cap only for a
    query with more declared spread() sites."""
    return shuffle_exchange_count(df) - min(spread_exchange_count(df), max_spread)


def broadcast_join_count(df: DataFrame) -> int:
    return _count_nodes(df, r"(?:BroadcastHashJoin|BroadcastNestedLoopJoin)")


def sort_merge_join_count(df: DataFrame) -> int:
    return _count_nodes(df, r"SortMergeJoin")


def codegen_span_count(df: DataFrame) -> int:
    """Number of distinct WholeStageCodegen spans — fewer, wider spans mean
    more of the plan runs as fused JVM bytecode (Tungsten)."""
    ids = set(re.findall(r"\[codegen id : (\d+)\]", formatted_plan(df)))
    return len(ids)


def plan_node_names(df: DataFrame) -> list[str]:
    """Physical-plan node names from the formatted detail section (e.g.
    ['Scan parquet', 'Exchange', 'Project']) — for structural pins that
    must hold whether or not AQE wraps the plan (AQE hides codegen ids
    in the pre-execution explain)."""
    plan = formatted_plan(df)
    return [m.strip() for m in re.findall(r"^\(\d+\) ([^\n]+?)(?: \[codegen id : \d+\])?$", plan, re.M)]


def has_take_ordered(df: DataFrame) -> bool:
    """True when ORDER BY + LIMIT planned as top-k (TakeOrderedAndProject)
    rather than a global sort — the A4 get_last_event requirement."""
    return "TakeOrderedAndProject" in formatted_plan(df)


def partition_filters(df: DataFrame) -> list[str]:
    """PartitionFilters on the plan's file scans — directory-level pruning
    on Hive-partitioned layouts, one level stronger than PushedFilters
    (a pruned partition's files are never listed into tasks at all)."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out
