"""Layer pushdown from ``shave`` into the ``decode_tiles`` kernel.

``shave`` over the frame ``decode_tiles`` returned re-plans the decode
so that layers the style never names are skipped, as the reference
skips them (src/shave.cpp:253-263). Pinned here, on tiles built in
the test: the shaved rows equal those of a cached (never re-planned)
decode, a cached decode is read from its cache, the metrics census
still counts every feature, and what corruption inside a skipped layer
does and does not raise.
"""

import gzip

import pytest
from pyspark.sql import functions as F

from vtshaver_spark import Filters
from vtshaver_spark.operators.shave import (
    _skip_unstyled_layers,
    shave,
    shave_with_metrics,
)
from vtshaver_spark.sources.mvt import (
    _encode_value,
    _tag,
    _write_len_field,
    _write_varint,
    decode_tile_points,
    decode_tiles,
    rows_to_tile,
    tile_px_to_lonlat,
)

TILE_SCHEMA = "z int, x bigint, y bigint, tile binary"
X, Y = 10465, 25329

# a box around the centre of tile (16, X, Y): a point at the tile's
# centre is within it, a point near its corner is not
_LON, _LAT = tile_px_to_lonlat(16, X, Y, 2048, 2048)
BOX = {
    "type": "Polygon",
    "coordinates": [[
        [_LON - 1e-3, _LAT - 1e-3], [_LON + 1e-3, _LAT - 1e-3],
        [_LON + 1e-3, _LAT + 1e-3], [_LON - 1e-3, _LAT + 1e-3],
        [_LON - 1e-3, _LAT - 1e-3],
    ]],
}


def _filters(building_filter) -> Filters:
    """road: filtered, pruned to an allowlist; water: keep-all (filter
    and properties), so its Unknown geometries survive; building:
    zoom-gated. poi_label and landuse are unstyled."""
    return Filters({
        "road": {
            "filters": ["any", ["==", "class", "main"]],
            "properties": ["class", "name"],
            "minzoom": 0, "maxzoom": 22,
        },
        "water": {"filters": True, "properties": True, "minzoom": 0, "maxzoom": 22},
        "building": {
            "filters": ["any", building_filter],
            "properties": [],
            "minzoom": 15, "maxzoom": 22,
        },
    })


FILTERS = _filters(["!=", "kind", "x"])
# `within` needs the vertex table: without it, it reads lon/lat columns
WITHIN_FILTERS = _filters(["within", BOX])


def _point(px: int, py: int) -> bytes:
    geom = bytearray([0x09])  # MoveTo, one point
    _write_varint(geom, (px << 1) ^ (px >> 31))
    _write_varint(geom, (py << 1) ^ (py >> 31))
    return bytes(geom)


def _feature(layer, fid, props, geom_type="Point", at=(2048, 2048)):
    return {
        "layer": layer,
        "feature_id": fid,
        "geom_type": geom_type,
        "geometry": _point(*at) if geom_type != "Unknown" else b"",
        "props": props,
        "prop_types": {k: "string" for k in props},
    }


def _tile_rows(layers) -> list:
    rows = []
    for layer in layers:
        rows += [
            _feature(layer, 1, {"class": "main", "name": "a", "extra": "1"}),
            _feature(layer, 2, {"class": "side", "name": "b"}, "LineString", (100, 100)),
            _feature(layer, 3, {"kind": "x"}, "Polygon", (4000, 50)),
        ]
        if layer == "water":
            rows.append(_feature(layer, 4, {"kind": "mud"}, "Unknown"))
    return rows


ALL_LAYERS = ("road", "water", "building", "poi_label", "landuse")
TILES = [
    # (z, x, y, layers, gzip)
    (16, X, Y, ALL_LAYERS, False),
    (16, X + 1, Y, ALL_LAYERS, True),
    (14, X // 4, Y // 4, ("road", "water", "building", "poi_label"), True),
    (16, X, Y + 1, ("poi_label", "landuse"), False),  # no style layer
    (16, X + 1, Y + 1, ("landuse",), True),  # no style layer
]


@pytest.fixture(scope="module")
def tiles(spark):
    return spark.createDataFrame(
        [
            (z, x, y, bytearray(rows_to_tile(_tile_rows(layers), compress=gz)))
            for z, x, y, layers, gz in TILES
        ],
        TILE_SCHEMA,
    )


def _sorted_rows(df) -> list:
    def norm(v):
        return tuple(sorted(v.items())) if isinstance(v, dict) else v

    return sorted(
        (tuple(norm(v) for v in r) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


@pytest.mark.parametrize(
    "zoom,with_vertices",
    [(16, False), ("z", False), ("z", True)],
    ids=["zoom-number", "zoom-column", "zoom-column-vertex-df"],
)
def test_pushdown_equals_cached_decode(spark, tiles, zoom, with_vertices):
    zoom = None if zoom == "z" else zoom
    vertex_df = decode_tile_points(tiles) if with_vertices else None
    filters = WITHIN_FILTERS if with_vertices else FILTERS
    cached = decode_tiles(tiles).cache()
    try:
        hinted = shave(decode_tiles(tiles), filters, zoom=zoom, vertex_df=vertex_df)
        plain = shave(cached, filters, zoom=zoom, vertex_df=vertex_df)
        want = _sorted_rows(plain)
        assert want, "the style keeps some rows"
        assert _sorted_rows(hinted) == want
        layers = {r[3] for r in want}
        assert layers <= {"road", "water", "building"}
        # the keep-all layer's Unknown geometry survives on both plans
        assert any(r[3] == "water" and r[7] == "Unknown" for r in want)
    finally:
        cached.unpersist()


def test_pushdown_decodes_only_style_layers(spark, tiles):
    decoded = decode_tiles(tiles)
    every = decoded.count()
    hinted = _skip_unstyled_layers(decoded, FILTERS)
    styled = hinted.count()
    assert {r["layer"] for r in hinted.select("layer").distinct().collect()} == {
        "road", "water", "building",
    }
    assert 0 < styled < every
    # a derived frame is not re-planned
    derived = decoded.select("*")
    assert _skip_unstyled_layers(derived, FILTERS) is derived


def test_cached_decode_is_not_redecoded(spark, tiles):
    cached = decode_tiles(tiles).cache()
    try:
        out = shave(cached, FILTERS, zoom=16)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan
        assert _skip_unstyled_layers(cached, FILTERS) is cached
    finally:
        cached.unpersist()


def test_metrics_census_counts_every_feature(spark, tiles):
    every = sum(len(_tile_rows(layers)) for *_, layers, _gz in TILES)
    _, metrics = shave_with_metrics(decode_tiles(tiles), FILTERS, zoom=16)
    assert metrics.agg(F.sum("features_before")).first()[0] == every


# ---------------------------------------------------------------------------
# hostile input inside a skipped layer
# ---------------------------------------------------------------------------


def _layer(name, keys, values, features) -> bytes:
    """One Tile.layers field; ``name`` and ``keys`` are raw bytes, so
    they may be invalid UTF-8, and ``name=None`` omits the name."""
    layer = bytearray()
    _write_varint(layer, _tag(15, 0))
    _write_varint(layer, 2)
    if name is not None:
        _write_len_field(layer, 1, name)
    for f in features:
        _write_len_field(layer, 2, f)
    for k in keys:
        _write_len_field(layer, 3, k)
    for v in values:
        _write_len_field(layer, 4, v)
    tile = bytearray()
    _write_len_field(tile, 3, bytes(layer))
    return bytes(tile)


def _tagged_feature(tags, fid) -> bytes:
    f = bytearray()
    _write_varint(f, _tag(1, 0))
    _write_varint(f, fid)
    packed = bytearray()
    for t in tags:
        _write_varint(packed, t)
    _write_len_field(f, 2, bytes(packed))
    _write_varint(f, _tag(3, 0))
    _write_varint(f, 1)  # Point
    _write_len_field(f, 4, _point(2048, 2048))
    return bytes(f)


GOOD_ROAD = _layer(
    b"road", [b"class"], [_encode_value("main", "string")],
    [_tagged_feature([0, 0], fid) for fid in (1, 2)],
)
# out-of-range key index and invalid UTF-8 keys
CORRUPT = dict(
    keys=[b"\xff\xfe", b"ok"],
    values=[_encode_value("v", "string")],
    features=[_tagged_feature([9, 0], 7)],
)
ROAD_ONLY = Filters({
    "road": {"filters": ["any", ["==", "class", "main"]], "properties": ["class"],
             "minzoom": 0, "maxzoom": 22},
})
ROAD_AND_POI = Filters({
    "road": {"filters": True, "properties": True, "minzoom": 0, "maxzoom": 22},
    "poi_label": {"filters": True, "properties": True, "minzoom": 0, "maxzoom": 22},
})


def _frame(spark, *blobs):
    return spark.createDataFrame(
        [(16, i, 0, bytearray(b)) for i, b in enumerate(blobs)], TILE_SCHEMA
    )


def test_corrupt_skipped_layer_keeps_style_rows(spark):
    tile = GOOD_ROAD + _layer(b"poi_label", **CORRUPT)
    for blob in (tile, gzip.compress(tile)):
        tiles = _frame(spark, blob)
        # the decode alone stays strict
        with pytest.raises(Exception, match="MVTError"):
            decode_tiles(tiles).count()
        assert decode_tiles(tiles, on_error="skip").count() == 0
        # shaving skips the corrupt layer, as the reference does
        for on_error in ("fail", "skip"):
            out = shave(decode_tiles(tiles, on_error=on_error), ROAD_ONLY, zoom=16)
            assert sorted(r["feature_id"] for r in out.collect()) == [1, 2]
        # the same corruption inside a style layer still raises
        with pytest.raises(Exception, match="MVTError"):
            shave(decode_tiles(tiles), ROAD_AND_POI, zoom=16).count()


@pytest.mark.parametrize(
    "bad_layer",
    [
        # a named layer whose feature field runs past the layer's end
        bytes([0x1A, 15, 0x0A, 9]) + b"poi_label" + bytes([0x12, 0x50, 0, 0]),
        _layer(None, **CORRUPT),  # no name
    ],
    ids=["truncated-framing", "missing-name"],
)
def test_skipped_layer_framing_still_checked(spark, bad_layer):
    tiles = _frame(spark, GOOD_ROAD + bad_layer)
    with pytest.raises(Exception, match="MVTError"):
        shave(decode_tiles(tiles), ROAD_ONLY, zoom=16).count()
    out = shave(decode_tiles(tiles, on_error="skip"), ROAD_ONLY, zoom=16)
    assert out.count() == 0
