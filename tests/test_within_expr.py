"""'within'/'distance' geometry expressions."""

import pytest
from pyspark.sql import functions as F

from vtshaver_spark.errors import FilterError
from vtshaver_spark.functions.expr import FilterContext, filter_to_column


@pytest.fixture(scope="module")
def pts(spark):
    rows = [
        ("in_box", 5.0, 2.0),  # lower arm of the C
        ("out_box", 15.0, 5.0),
        ("notch", 7.0, 5.0),  # inside the cut-out => outside the polygon
        ("null_geom", None, None),
    ]
    return spark.createDataFrame(
        rows, "image_id string, lon double, lat double"
    ).withColumn("props", F.create_map(F.lit("k"), F.lit("v"))).cache()


C_SHAPE = {
    "type": "Polygon",
    "coordinates": [
        [
            [0.0, 0.0], [10.0, 0.0], [10.0, 4.0], [4.0, 4.0],
            [4.0, 6.0], [10.0, 6.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0],
        ]
    ],
}


def names(df, filt):
    col = filter_to_column(filt, FilterContext(zoom=10.0))
    return {r["image_id"] for r in df.filter(col).collect()}


def test_within_polygon(spark, pts):
    assert names(pts, ["within", C_SHAPE]) == {"in_box"}


def test_within_feature_wrapper(spark, pts):
    feature = {"type": "Feature", "geometry": C_SHAPE}
    assert names(pts, ["within", feature]) == {"in_box"}


def test_distance_expression(spark, pts):
    # ["distance"] is a whole-geometry measure with no row-level form:
    # without the per-vertex table it is refused, naming what to pass
    filt = ["<", ["distance", {"type": "Point", "coordinates": [5.0, 2.0]}], 100000]
    with pytest.raises(FilterError, match="vertex_df.*--vertices"):
        names(pts, filt)
