"""Raster tile materialization: mosaic determinism."""

from vtshaver_spark.functions.codecs import rawi_decode
from vtshaver_spark.operators.materialize import render_tile_mosaic


def test_mosaic_deterministic(spark):
    rows = [
        (16, 10465, 25329, -122.508 + i * 0.0001, 37.708 + i * 0.00005, f"img_{i:04d}")
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "z int, x long, y long, lon double, lat double, image_id string"
    )
    a = render_tile_mosaic(df).collect()[0]
    b = render_tile_mosaic(df).collect()[0]
    assert bytes(a["png"]) == bytes(b["png"])
    img = rawi_decode(a["png"])
    assert img.shape == (128, 128, 3)
    assert img.sum() > 0  # something was stamped
