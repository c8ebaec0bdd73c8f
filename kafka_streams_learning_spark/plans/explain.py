"""Physical-plan inspection helpers.

The 100 TB contract of every operator is a *plan shape*, not a timing:
filters reach the parquet scan, projections prune the read schema, small
dimensions broadcast, equi-joins hash-partition instead of going
nested-loop, and expressions stay inside whole-stage codegen. These
helpers turn those properties into assertable strings so tests can pin
them (tests/test_plans.py) — a plan regression fails CI before it costs
cluster-hours.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan (what `.explain("formatted")` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def plan_has(df: DataFrame, needle: str) -> bool:
    return needle in formatted_plan(df)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters line(s) of the scan nodes ('' if none)."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line
    )


def read_schema(df: DataFrame) -> str:
    """The ReadSchema line(s) of the scan nodes — column-pruning evidence."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "ReadSchema" in line
    )


def has_cartesian(df: DataFrame) -> bool:
    return plan_has(df, "CartesianProduct")


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (lower = fewer full-network
    round trips; the scale killer to watch). Broadcast exchanges are NOT
    counted — broadcasting the small side is the point."""
    import re

    return len(re.findall(r"\(\d+\) Exchange\b", formatted_plan(df)))
