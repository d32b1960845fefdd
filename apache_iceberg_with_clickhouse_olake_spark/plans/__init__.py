"""Plan-inspection helpers: assert the physical properties the engine's
scale story depends on (predicate pushdown, column pruning, no forced
broadcasts of scaling tables, no needless global sorts).

The reference pins engine behavior via config toggles
(scripts/iceberg-setup.sql:2-3 partition pruning / metadata cache); in
Spark those properties are emergent from the plan, so the equivalent
guarantee is an assertion on the plan itself (used by tests/test_plans.py
to keep regressions out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Executed-plan string (pre-execution: AQE initial plan)."""
    return df._jdf.queryExecution().executedPlan().toString()


def analyzed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def scan_lines(df: DataFrame) -> list[str]:
    return [
        line for line in physical_plan(df).splitlines() if "FileScan" in line
    ]


def assert_pushed_filter(df: DataFrame, column: str) -> None:
    """The parquet scan must carry a pushed-down filter on ``column``."""
    for line in scan_lines(df):
        if "PushedFilters" not in line:
            continue
        pushed = line.split("PushedFilters:")[1]
        if column in pushed:
            return
    raise AssertionError(
        f"no pushed filter on {column!r}; scans:\n" + "\n".join(scan_lines(df))
    )


def assert_scan_columns_at_most(
    df: DataFrame, table_fragment: str, allowed: set[str]
) -> None:
    """Column pruning: the scan of the file matching ``table_fragment``
    must read no column outside ``allowed``."""
    import re

    for line in scan_lines(df):
        if table_fragment not in line:
            continue
        m = re.search(r"FileScan parquet \[([^\]]*)\]", line)
        if not m:
            continue
        read = {c.split("#")[0].strip() for c in m.group(1).split(",") if c.strip()}
        extra = read - allowed
        if extra:
            raise AssertionError(
                f"scan of {table_fragment} reads pruned-out columns {extra}"
            )
        return
    raise AssertionError(f"no scan matching {table_fragment!r} found")


def assert_no_global_sort(df: DataFrame) -> None:
    """Presentation sorts of unbounded row sets are a needless full
    range-shuffle at scale; per-row projections must not carry one."""
    plan = physical_plan(df)
    if "rangepartitioning" in plan.lower():
        raise AssertionError("plan contains a global range-partitioned sort")
