"""Structured-Streaming shave smoke: the same compiled predicate runs
unchanged on a streaming DataFrame."""

from vtshaver_spark import Filters, style_to_filters
from vtshaver_spark.operators.shave import shave
from synthetic import FEATURES_SCHEMA, sf_tile_rows


def test_stream_shave(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    spark.createDataFrame(sf_tile_rows(), FEATURES_SCHEMA).write.parquet(src)

    stream = spark.readStream.schema(FEATURES_SCHEMA).parquet(src)
    filters = Filters(
        style_to_filters(
            {"layers": [{"source-layer": "poi_label", "filter": ["==", "maki", "cafe"]}]}
        )
    )
    shaved = shave(stream, filters, zoom=16)
    q = (
        shaved.groupBy("layer")
        .count()
        .writeStream.format("memory")
        .queryName("layer_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM layer_counts").collect()
    q.stop()
    assert {(r["layer"], r["count"]) for r in rows} == {("poi_label", 1)}
