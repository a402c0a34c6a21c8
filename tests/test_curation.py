"""Session rollup (operators/sessions.py)."""

from pyspark.sql import functions as F


def test_session_rollup_value_col_param(spark):
    from vtshaver_spark.operators.sessions import session_rollup

    df = spark.createDataFrame(
        [(1, "2026-01-01 10:00:00", 2.5), (1, "2026-01-01 10:05:00", 1.5)],
        "user_id long, ts string, amount double",
    ).withColumn("ts", F.to_timestamp("ts"))
    row = session_rollup(df, value_col="amount").collect()[0]
    assert row["n_events"] == 2 and row["sum_value"] == 4.0
