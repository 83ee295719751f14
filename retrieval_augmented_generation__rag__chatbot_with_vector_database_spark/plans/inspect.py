"""Physical-plan inspection helpers — plan shape as a first-class,
testable property.

The engine's scale contract is mostly *plan* contracts: filters reach
the parquet scan, small sides broadcast, the big side of a search
never shuffles, partition pruning fires on IVF layouts, scalar paths
stay inside whole-stage codegen. These helpers make those contracts
assertable in tests (tests/test_plans.py) instead of hoped-for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Executed physical plan as text (post-AQE where applicable)."""
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if a parquet scan carries ``fragment`` in PushedFilters."""
    plan = physical_plan(df)
    return any(
        "PushedFilters: [" in line and fragment in line
        for line in plan.splitlines()
    ) or (f"PushedFilters: [" in plan and fragment in plan)


def has_partition_filter(df: DataFrame, column: str) -> bool:
    plan = physical_plan(df)
    for line in plan.splitlines():
        if "PartitionFilters: [" in line and column in line:
            return True
    return False


def broadcast_join_count(df: DataFrame) -> int:
    plan = physical_plan(df)
    return sum(
        plan.count(marker)
        for marker in ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
    )


def shuffle_count(df: DataFrame) -> int:
    """Number of exchange (shuffle) operators in the physical plan."""
    plan = physical_plan(df)
    return sum(
        line.count("Exchange hashpartitioning")
        + line.count("Exchange rangepartitioning")
        + line.count("Exchange RoundRobinPartitioning")
        for line in plan.splitlines()
    )


def reads_columns(df: DataFrame, table_fragment: str) -> list[str]:
    """Columns actually read (ReadSchema) from scans whose location
    matches ``table_fragment`` — the column-pruning check."""
    out: list[str] = []
    lines = physical_plan(df).splitlines()
    loc_ok = False
    for line in lines:
        if "Location:" in line:
            loc_ok = table_fragment in line
        if loc_ok and "ReadSchema:" in line:
            schema = line.split("ReadSchema:", 1)[1].strip()
            inner = schema[schema.find("<") + 1 : schema.rfind(">")]
            depth = 0
            field = ""
            for ch in inner:
                if ch == "<":
                    depth += 1
                elif ch == ">":
                    depth -= 1
                if ch == "," and depth == 0:
                    out.append(field.split(":", 1)[0].strip())
                    field = ""
                else:
                    field += ch
            if field.strip():
                out.append(field.split(":", 1)[0].strip())
            loc_ok = False
    return out


def has_window_group_limit(df: DataFrame) -> bool:
    """True when the per-partition top-k pre-aggregation
    (WindowGroupLimit, Spark >= 3.5) sits below the window exchange —
    the thing that keeps top-k shuffles O(|Q| k partitions)."""
    return "WindowGroupLimit" in physical_plan(df)
