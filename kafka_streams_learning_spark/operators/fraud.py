"""Stateful threshold alerting (SURVEY §2.6 A5, the FraudProcessor).

The reference's Processor-API fraud detector
(`processor/FraudProcessor.java:36-84`) keeps one counter per customer,
increments it for every qualifying record (amount ≥ threshold), and emits
an alert from the moment the counter *exceeds* 3 — i.e. the 4th qualifying
record onward (`:61`).

Batch/exact form: a running count window function over qualifying records,
filtered to running > alert_after. Deterministic ordering requires a
tiebreaker column (the reference's ordering is arrival order; batch pins it
to (ts, unique id)). The streaming per-record-emission form lives in
`streaming/stateful.py` (applyInPandasWithState).

Window function note for scale: the partition key is the customer, so state
per task is one partition's customers — no global sort, one shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def running_alerts(
    df: DataFrame,
    key: str,
    amount: Column,
    threshold: float,
    order_by: list[str],
    alert_after: int = 3,
    running_name: str = "running_cnt",
) -> DataFrame:
    """Rows from the (alert_after+1)-th qualifying record per key onward,
    with the running qualifying-count attached (strictly `> alert_after`,
    `FraudProcessor.java:61`)."""
    qualifying = df.filter(amount.try_cast("double") >= threshold)
    w = (
        Window.partitionBy(key)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return qualifying.withColumn(running_name, F.count(F.lit(1)).over(w)).filter(
        F.col(running_name) > alert_after
    )
