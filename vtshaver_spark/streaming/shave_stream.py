"""Structured-Streaming shave: continuous tile-feature ingestion.

The reference is batch-only (one tile per async callback); the graft
adds a streaming surface: a features stream (file/rate/kafka source)
flows through ``operators.shave.shave`` unchanged — the predicate/
projection plan contains no batch-only operators, so it lowers to a
streaming map — with watermarked per-tile aggregation for late rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vtshaver_spark.sources.mvt import TILE_KEY


def windowed_tile_counts(
    shaved: DataFrame,
    event_time_col: str = "event_time",
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked per-tile survivor counts (late rows beyond the
    watermark are dropped, state is bounded)."""
    return (
        shaved.withWatermark(event_time_col, watermark)
        .groupBy(
            F.window(F.col(event_time_col), window_duration).alias("w"),
            *TILE_KEY, "layer",
        )
        .agg(F.count(F.lit(1)).alias("feature_count"))
        .select(
            F.col("w.start").alias("window_start"),
            *TILE_KEY, "layer", "feature_count",
        )
    )
