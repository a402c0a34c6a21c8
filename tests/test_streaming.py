"""Structured-Streaming shave smoke: the same compiled predicate runs
on a stream with watermarked per-tile aggregation."""

import time

import pytest
from pyspark.sql import functions as F

from vtshaver_spark import Filters, style_to_filters
from vtshaver_spark.operators.shave import shave
from vtshaver_spark.sources.synthetic import FEATURES_SCHEMA, sf_tile_rows
from vtshaver_spark.streaming.shave_stream import windowed_tile_counts


def test_stream_shave(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    spark.createDataFrame(sf_tile_rows(), FEATURES_SCHEMA).write.parquet(src)

    stream = (
        spark.readStream.schema(FEATURES_SCHEMA)
        .parquet(src)
        .withColumn("event_time", F.current_timestamp())
    )
    filters = Filters(
        style_to_filters(
            {"layers": [{"source-layer": "poi_label", "filter": ["==", "maki", "cafe"]}]}
        )
    )
    shaved = shave(stream, filters, zoom=16)
    counts = windowed_tile_counts(shaved)

    q = (
        counts.writeStream.format("memory")
        .queryName("tile_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # watermarked append-mode windows only emit on watermark advance;
    # assert the stream ran and the in-flight state saw the one cafe row
    progress = q.lastProgress
    assert progress is not None
    assert q.exception() is None
    q.stop()

    # complete-mode variant without watermark gives the final counts
    shaved2 = shave(stream, filters, zoom=16)
    q2 = (
        shaved2.groupBy("layer")
        .count()
        .writeStream.format("memory")
        .queryName("layer_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    rows = spark.sql("SELECT * FROM layer_counts").collect()
    q2.stop()
    assert {(r["layer"], r["count"]) for r in rows} == {("poi_label", 1)}


def test_batch_sessionize_golden(spark):
    import datetime as dt

    from vtshaver_spark.operators.sessions import session_rollup

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(minutes=10), 2.0),
        (1, t0 + dt.timedelta(minutes=50), 4.0),   # > 30min gap -> new session
        (2, t0, 8.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {
        (r["user_id"], r["session_idx"]): (r["n_events"], r["sum_value"])
        for r in session_rollup(df, gap_minutes=30).collect()
    }
    assert out[(1, 0)] == (2, 3.0)
    assert out[(1, 1)] == (1, 4.0)
    assert out[(2, 0)] == (1, 8.0)
