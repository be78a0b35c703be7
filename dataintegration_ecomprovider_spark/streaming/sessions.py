"""Sessionization — gap-based user sessions (SURVEY §2.10 stretch surface).

A session breaks when the gap since the previous event of the same user
exceeds `gap`.  `sessionize_batch` computes that with lag + cumulative-sum
windows — pure Catalyst, oracle-checkable in any SQL engine, and the
scalable backfill path (one shuffle on user_id, no Python).

Scale: both window passes share the user_id partitioning, so Catalyst
executes them in one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize_batch(
    events: DataFrame,
    gap_seconds: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Gap sessions in batch: a new session starts where the time since the
    user's previous event exceeds the gap; session_seq numbers a user's
    sessions in time order.  `id_col` breaks ts ties deterministically."""
    by_user = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(id_col))
    with_breaks = events.withColumn(
        "__new_session",
        F.when(
            F.unix_micros(F.col(ts_col))
            - F.lag(F.unix_micros(F.col(ts_col))).over(by_user)
            > gap_seconds * 1_000_000,
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "session_seq",
        F.sum("__new_session").over(
            by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ) + 1,
    )
    return with_breaks.groupBy(user_col, "session_seq").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.round(F.sum(value_col), 2).alias("total_value"),
    )
