"""End-to-end shave semantics vs the reference's pinned expectations.

Each case re-states a reference test outcome (file:line cited) as
per-tile row-set equality over the synthetic census features table
(which mirrors the canonical sf_16_10465_25329 tile layer/feature
census — see tests/synthetic.py).
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from vtshaver_spark import Filters, style_to_filters
from vtshaver_spark.errors import FilterError, ShaveError
from vtshaver_spark.operators.shave import (
    compile_shave_columns,
    shave,
    shave_with_metrics,
    tile_layer_summary,
)
from synthetic import SF_TILE


def sf_tile(df):
    z, x, y = SF_TILE
    return df.filter((F.col("z") == z) & (F.col("x") == x) & (F.col("y") == y))


def layer_counts(df):
    return {
        r["layer"]: r["cnt"]
        for r in df.groupBy("layer").agg(F.count("*").alias("cnt")).collect()
    }


CAFE_STYLE = {
    "layers": [
        {
            "source-layer": "poi_label",
            "filter": ["==", "maki", "cafe"],
            "paint": {"icon": "{maki}"},
        }
    ]
}


def test_equality_filter_keeps_one_cafe(spark, features):
    # vtshaver.test.js:422-437 — cafe style keeps exactly 1 poi_label row
    filters = Filters(style_to_filters(CAFE_STYLE))
    out = sf_tile(shave(features, filters, zoom=16))
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["layer"] == "poi_label"
    assert rows[0]["props"]["maki"] == "cafe"


def test_absent_key_equality_empty(spark, features):
    # vtshaver.test.js:439-462 — ["==","cats","serious"]: no poi row has
    # key 'cats' => zero features survive
    filters = Filters(
        style_to_filters(
            {"layers": [{"source-layer": "poi_label", "filter": ["==", "cats", "serious"]}]}
        )
    )
    assert sf_tile(shave(features, filters, zoom=16)).count() == 0


def test_negation_keeps_twelve(spark, features):
    # vtshaver.test.js:464-486 — ["!=","maki","cafe"] keeps 12 of 13
    filters = Filters(
        style_to_filters(
            {"layers": [{"source-layer": "poi_label", "filter": ["!=", "maki", "cafe"]}]}
        )
    )
    assert sf_tile(shave(features, filters, zoom=16)).count() == 12


def test_two_layer_style(spark, features):
    # vtshaver.test.js:488-522 — road != path => 10; poi maki==toilet => 2
    filters = Filters(
        style_to_filters(
            {
                "layers": [
                    {"source-layer": "road", "filter": ["!=", "class", "path"]},
                    {"source-layer": "poi_label", "filter": ["==", "maki", "toilet"]},
                ]
            }
        )
    )
    counts = layer_counts(sf_tile(shave(features, filters, zoom=16)))
    assert counts == {"road": 10, "poi_label": 2}


def test_id_filter(spark, features):
    # vtshaver.test.js:297-318 / one-feature.json — ["==","$id",21420264]
    filters = Filters(
        style_to_filters(
            {"layers": [{"source-layer": "landuse", "filter": ["==", "$id", 21420264]}]}
        )
    )
    rows = sf_tile(shave(features, filters, zoom=16)).collect()
    assert len(rows) == 1
    assert rows[0]["feature_id"] == 21420264


def test_zoom_gating_drops_all(spark, features):
    # vtshaver.test.js:358-380 — style zoom [14,15], query zoom 1 => empty
    filters = Filters(
        style_to_filters(
            {
                "layers": [
                    {
                        "source-layer": "poi_label",
                        "filter": ["!=", "maki", "cafe"],
                        "minzoom": 14,
                        "maxzoom": 15,
                    }
                ]
            }
        )
    )
    assert shave(features, filters, zoom=1).count() == 0


def test_overzoom_rule_keeps_layer(spark, features):
    # vtshaver.test.js:382-404 — tileset maxzoom 1 < style minzoom 14
    # keeps the layer at query zoom 1
    filters = Filters(
        style_to_filters({"layers": [{"source-layer": "poi_label", "minzoom": 14}]})
    )
    out = sf_tile(shave(features, filters, zoom=1, maxzoom=1))
    assert layer_counts(out) == {"poi_label": 13}


def test_keep_all_water_layer(spark, features):
    # vtshaver.test.js:406-420 — water.json keeps the whole layer
    filters = Filters(style_to_filters({"layers": [{"source-layer": "water"}]}))
    counts = layer_counts(sf_tile(shave(features, filters, zoom=16)))
    assert counts == {"water": 1}


def test_keep_all_retains_unknown_geometry(spark, features):
    # keep-all fast path (filter True AND properties True) copies the
    # layer verbatim incl. Unknown geoms (src/shave.cpp:279-281); any
    # filtered path drops them (:196-200). NB: a bare style layer
    # compiles to properties [] (empty allowlist), which is NOT the
    # fast path — it strips all props and drops Unknown geoms.
    keep_all = Filters(
        {"hello": {"filters": True, "properties": True, "minzoom": 0, "maxzoom": 22}}
    )
    assert shave(features, keep_all, zoom=0).count() == 3
    bare_style = Filters(style_to_filters({"layers": [{"source-layer": "hello"}]}))
    rows = shave(features, bare_style, zoom=0).collect()
    assert len(rows) == 2
    assert all(len(r["props"]) == 0 for r in rows)
    filtered = Filters(
        style_to_filters(
            {"layers": [{"source-layer": "hello", "filter": ["has", "ghost"]}]}
        )
    )
    assert shave(features, filtered, zoom=0).count() == 0


def test_geometry_type_filter(spark, features):
    # mvtfixtures.test.js:61-81 — $type filter keeps only LineStrings
    filters = Filters(
        style_to_filters(
            {"layers": [{"source-layer": "hello", "filter": ["==", "$type", "LineString"]}]}
        )
    )
    rows = shave(features, filters, zoom=0).collect()
    assert len(rows) == 1 and rows[0]["geom_type"] == "LineString"


def test_expressions_style_z16_and_z14(spark, features):
    # vtshaver.test.js:615-647 — expressions.json keeps 5 layers at z16
    # (landuse, water, building, road, housenum_label via overzoom) and 4
    # at z14 (building minzoom 15 gates it out)
    import json, os

    path = "/root/reference/test/fixtures/styles/expressions.json"
    if not os.path.exists(path):
        pytest.skip("reference fixtures not available")
    with open(path) as f:
        style = json.load(f)
    filters = Filters(style_to_filters(style))
    z16 = set(layer_counts(sf_tile(shave(features, filters, zoom=16, maxzoom=16))))
    assert z16 == {"landuse", "water", "building", "road", "housenum_label"}
    z14 = set(layer_counts(sf_tile(shave(features, filters, zoom=14, maxzoom=16))))
    assert z14 == {"landuse", "water", "road", "housenum_label"}


def test_zoom_expression_roads(spark, features):
    # vtshaver.test.js:649-694 — step-on-zoom expression keeps exactly 3
    # road LineStrings at z16
    style = {
        "layers": [
            {
                "id": "road",
                "source-layer": "road",
                "minzoom": 13,
                "filter": [
                    "all",
                    [
                        "step",
                        ["zoom"],
                        ["==", ["get", "class"], "track"],
                        14,
                        [
                            "match",
                            ["get", "class"],
                            ["track", "secondary_link", "tertiary_link", "service"],
                            True,
                            False,
                        ],
                    ],
                    ["match", ["get", "structure"], ["none", "ford"], True, False],
                    ["==", ["geometry-type"], "LineString"],
                ],
            }
        ]
    }
    filters = Filters(style_to_filters(style))
    out = sf_tile(shave(features, filters, zoom=16, maxzoom=16))
    assert layer_counts(out) == {"road": 3}


def test_property_projection(spark, features):
    # propertyKeyValueFilter.test.js:68-80 — allowlist prunes road props
    style = {
        "layers": [
            {
                "source-layer": "road",
                "paint": {"a": "{type}", "b": "{structure}", "c": "{oneway}"},
            }
        ]
    }
    filters = Filters(style_to_filters(style))
    out = sf_tile(shave(features, filters, zoom=14))
    for row in out.collect():
        assert set(row["props"].keys()) <= {"type", "structure", "oneway"}
    # keep-all properties (properties True) leaves keysets unchanged
    keep_all = Filters(
        {"road": {"filters": True, "properties": True, "minzoom": 0, "maxzoom": 22}}
    )
    before = {
        r["feature_id"]: set(r["props"].keys())
        for r in sf_tile(features).filter(F.col("layer") == "road").collect()
    }
    after = {
        r["feature_id"]: set(r["props"].keys())
        for r in sf_tile(shave(features, keep_all, zoom=14)).collect()
    }
    assert before == after


def test_unstyled_layer_always_shaved(spark, features):
    # vtshaver.test.js:524-543 — road_label never styled => dropped
    filters = Filters(style_to_filters(CAFE_STYLE))
    out = shave(features, filters, zoom=16)
    assert out.filter(F.col("layer") == "road_label").count() == 0


def test_per_row_zoom_binding(spark, features):
    # scale path: zoom bound to the tile's own z column shaves every
    # zoom level in one pass
    filters = Filters(
        style_to_filters(
            {"layers": [{"source-layer": "poi_label", "minzoom": 10, "maxzoom": 22}]}
        )
    )
    out = shave(features, filters, zoom=None)
    assert out.filter(F.col("z") == 0).count() == 0
    assert out.filter(F.col("z") == 16).count() > 0


def test_metrics(spark, features):
    filters = Filters(style_to_filters(CAFE_STYLE))
    shaved, metrics = shave_with_metrics(features, filters, zoom=16)
    z, x, y = SF_TILE
    row = [r for r in metrics.collect() if (r["z"], r["x"], r["y"]) == (z, x, y)][0]
    assert row["features_before"] == 49
    assert row["features_after"] == 1
    assert row["prop_bytes_after"] < row["prop_bytes_before"]
    assert 0.0 < row["shave_ratio"] <= 1.0

    # the shaved frame is shave()'s, and the metrics count exactly it
    def census(df):
        return Counter(
            (r["layer"], r["feature_id"], tuple(sorted(r["props"].items())))
            for r in df.collect()
        )

    assert census(shaved) == census(shave(features, filters, zoom=16))
    assert metrics.agg(F.sum("features_after")).first()[0] == shaved.count()


def test_kept_bytes_match_projection(spark):
    """The metrics' codegen byte count of the kept properties equals
    the byte count of the ``map_filter`` projection, row by row: NULL
    and absent allowlisted keys, non-ASCII keys and values (length
    counts characters), keys and layers with a quote or a backslash, an
    allowlist that names a key twice, empty-allowlist, keep-all and
    unstyled layers, a NULL and an empty map, and a feature the keep
    predicate drops."""

    def prop_bytes(col):
        return F.coalesce(
            F.length(F.concat_ws("", F.map_keys(col)))
            + F.length(F.concat_ws("", F.map_values(col))),
            F.lit(0),
        )

    filters = Filters({
        "poi": {
            "filters": ["==", "kind", "keep"], "minzoom": 0, "maxzoom": 22,
            "properties": ["name", "café", "kind", "missing", "name"],
        },
        "tag's": {
            "filters": True, "minzoom": 0, "maxzoom": 22, "properties": ["ß", "it's", "a\\b"],
        },
        "empty": {"filters": True, "minzoom": 0, "maxzoom": 22, "properties": []},
        "all": {"filters": True, "minzoom": 0, "maxzoom": 22, "properties": True},
    })
    rows = [
        (1, "poi", "Point", {"name": "Zürich", "café": "ja", "kind": "keep", "x": "y"}),
        (2, "poi", "Point", {"name": None, "kind": "keep"}),
        (3, "poi", "Point", {"kind": "keep"}),
        (4, "poi", "Point", {"kind": "drop", "name": "n"}),
        (5, "poi", "Point", {}),
        (6, "tag's", "Point", None),
        (7, "tag's", "Point", {"ß": "straße", "x": "y", "it's": "o'k", "a\\b": "\\"}),
        (8, "empty", "Polygon", {"a": "b"}),
        (9, "all", "LineString", {"ключ": "значение", "k": None}),
        (10, "water", "Polygon", {"x": "yz"}),
    ]
    df = spark.createDataFrame(
        [(16, 0, 0, *r) for r in rows],
        "z int, x bigint, y bigint, feature_id bigint, layer string, "
        "geom_type string, props map<string,string>",
    )
    keep, projected, kept_bytes = compile_shave_columns(filters, zoom=16)
    got = {
        r["feature_id"]: (r["keep"], r["kept"], r["want"])
        for r in df.select(
            "feature_id",
            keep.alias("keep"),
            kept_bytes.alias("kept"),
            prop_bytes(projected).alias("want"),
        ).collect()
    }
    assert {fid: kept for fid, (_, kept, _) in got.items()} == {
        fid: want for fid, (_, _, want) in got.items()
    }
    assert {fid: kept for fid, (_, kept, _) in got.items()} == {
        1: 4 + 6 + 4 + 2 + 4 + 4, 2: 4 + 4 + 4, 3: 8, 4: 4 + 4 + 4 + 1, 5: 0,
        6: 0, 7: 1 + 6 + 4 + 3 + 3 + 1, 8: 0, 9: 4 + 8 + 1, 10: 1 + 2,
    }
    assert {fid for fid, (k, _, _) in got.items() if k} == {1, 2, 3, 6, 7, 8, 9}

    _, metrics = shave_with_metrics(df, filters, zoom=16)
    (after,) = metrics.select("prop_bytes_after").collect()[0]
    assert after == sum(want for k, _, want in got.values() if k)


def test_tile_layer_summary(spark, features):
    filters = Filters(style_to_filters(CAFE_STYLE))
    summary = tile_layer_summary(sf_tile(shave(features, filters, zoom=16)))
    rows = summary.collect()
    assert len(rows) == 1
    assert rows[0]["layer"] == "poi_label"
    assert rows[0]["feature_count"] == 1
    assert rows[0]["property_keys"] == ["maki"]


def test_validation_errors():
    # error-message parity (vtshaver.test.js:708-948)
    with pytest.raises(ShaveError, match="filters must be an object"):
        Filters(None)
    with pytest.raises(ShaveError, match="layer must be an object"):
        Filters({"water": "lol"})
    with pytest.raises(ShaveError, match="minzoom"):
        Filters({"water": {"filters": True, "maxzoom": 22, "properties": True}})
    with pytest.raises(ShaveError, match="maxzoom"):
        Filters({"water": {"filters": True, "minzoom": 0, "properties": True}})
    with pytest.raises(ShaveError, match="must be a positive number"):
        Filters({"water": {"filters": True, "minzoom": -1, "maxzoom": 22, "properties": True}})
    with pytest.raises(ShaveError, match="Filters is not properly constructed"):
        Filters({"water": {"minzoom": 0, "maxzoom": 22, "properties": True}})
    with pytest.raises(FilterError, match="must be an array or a boolean"):
        Filters({"water": {"filters": False, "minzoom": 0, "maxzoom": 22, "properties": True}})
    with pytest.raises(ShaveError, match="Property-Filters is not properly constructed"):
        Filters({"water": {"filters": True, "minzoom": 0, "maxzoom": 22}})


@pytest.mark.parametrize(
    "filt",
    [
        ["==", ["slice"], "x"],
        ["==", ["at", 1], 1],
        ["==", ["to-rgba"], "x"],
        ["==", ["var", "nope"], 1],
        ["==", ["interpolate", ["bogus"], ["zoom"], 0, 0, 10, 1], 1],
    ],
    ids=["slice-arity", "at-arity", "to-rgba-arity", "unbound-var", "interpolate-type"],
)
def test_malformed_expression_rejected_at_construction(filt):
    # rejected by Filters itself, not by the shave job that renders it
    with pytest.raises(FilterError):
        Filters({"road": {"filters": filt, "minzoom": 0, "maxzoom": 22, "properties": True}})


def test_shave_plan_shape(spark, features, tmp_path):
    """PLANS.md "Shave pipeline": over parquet, the road style is one
    Filter + Project, with the layer and geometry-type conjuncts pushed
    to the scan and no Exchange."""
    import __spark_entry__ as entry

    path = str(tmp_path / "features.parquet")
    features.write.parquet(path)
    filters = Filters(style_to_filters(entry.EXPRESSION_ROAD_STYLE))
    out = shave(spark.read.parquet(path), filters, zoom=16, maxzoom=16)
    qe = out._jdf.queryExecution()
    nodes = [
        line.lstrip(" :+-").split(" ")[0]
        for line in qe.optimizedPlan().toString().splitlines()
    ]
    assert nodes == ["Project", "Filter", "Relation"]
    physical = qe.executedPlan()
    assert "Exchange" not in physical.toString()
    pushed = physical.collectLeaves().head().metadata().apply("PushedFilters")
    assert "EqualTo(layer,road)" in pushed
    assert "In(geom_type, [LineString,Point,Polygon])" in pushed


def test_floating_point_zoom(spark, features):
    # floating-point-zoom.json pins fractional zoom bounds
    # (minzoom 10.9999999999999 / maxzoom 11.0000000000001)
    filters = Filters(
        {
            "poi_label": {
                "filters": True,
                "minzoom": 10.9999999999999,
                "maxzoom": 11.0000000000001,
                "properties": True,
            }
        }
    )
    assert sf_tile(shave(features, filters, zoom=11)).count() == 13
    assert shave(features, filters, zoom=10.99).count() == 0
    assert shave(features, filters, zoom=11.01).count() == 0


def test_validation_errors_round2():
    # remaining message-parity branches (vtshaver.test.js:708-948):
    # mixed legacy+expression filters, non-string operators, zoom
    # option types, corrupt gzip input
    import gzip

    from vtshaver_spark import errors as E
    from vtshaver_spark.sources.mvt import MVTError, tile_to_rows

    def lf(filt):
        return {"water": {"filters": filt, "minzoom": 0, "maxzoom": 22,
                          "properties": True}}

    # mbgl rejects mixed legacy+expression children
    with pytest.raises(FilterError, match="expression-based"):
        Filters(lf(["all", ["==", "class", "river"], ["==", ["get", "x"], 1]]))
    # operator must be a string
    with pytest.raises(FilterError, match="filter operator must be a string"):
        Filters(lf([1, "class", "river"]))
    # zoom option types (src/shave.cpp:392-410 parity)
    f = Filters({"water": {"filters": True, "minzoom": 0, "maxzoom": 22,
                           "properties": True}})
    from vtshaver_spark.operators.shave import shave as _shave

    with pytest.raises(ShaveError) as ex:
        _shave(None, f, zoom=-2)
    assert str(ex.value) == E.MSG_ZOOM_TYPE
    with pytest.raises(ShaveError) as ex:
        _shave(None, f, zoom="16")
    assert str(ex.value) == E.MSG_ZOOM_TYPE
    with pytest.raises(ShaveError) as ex:
        _shave(None, f, zoom=16, maxzoom="x")
    assert str(ex.value) == E.MSG_MAXZOOM_TYPE
    with pytest.raises(ShaveError, match="Filters object"):
        _shave(None, {"not": "filters"}, zoom=16)
    # corrupt gzip body: sniffed as gzip, fails to inflate
    bad = b"\x1f\x8b" + b"\x00" * 20
    with pytest.raises(Exception):
        tile_to_rows(bad)
