"""Sessionization: gap-based event sessions (batch).

Classic lag + cumulative-sum session assignment, entirely in window
functions (whole-stage codegen, one shuffle on the user key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
) -> DataFrame:
    """Assign a session index per user: a new session starts when the
    gap since the previous event exceeds ``gap_minutes``. Adds
    ``session_idx`` (0-based per user)."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_us = int(gap_minutes * 60.0 * 1_000_000)  # microsecond-exact
    prev = F.lag(F.col(ts_col)).over(w)
    def micros(c):
        # cast through TIMESTAMP for NTZ inputs (parquet timestamps
        # load as TIMESTAMP_NTZ; session timezone is pinned UTC)
        return F.unix_micros(c.cast("timestamp"))

    new_session = F.when(
        prev.isNull() | (micros(F.col(ts_col)) - micros(prev) > gap_us),
        1,
    ).otherwise(0)
    return df.withColumn(
        "session_idx",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        - 1,
    )


def session_rollup(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
    value_col: str = "value",
) -> DataFrame:
    """Per-session aggregates: start/end, event count, value sum
    (``value_col``)."""
    s = sessionize(df, user_col, ts_col, gap_minutes)
    return s.groupBy(user_col, "session_idx").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(value_col), 6).alias("sum_value"),
    )
