"""MVT protobuf codec: reference-fixture goldens + Spark roundtrip.

Pins mirror the reference's own assertions over the same tile
(/root/reference/test/vtshaver.test.js:422-437 cafe ``==`` -> poi_label
1 feature; :464-486 ``!=`` -> 12; :406-420 water keep-all; pre-test
:55-59 7-layer census) — decoded row-set equality replacing byte
equality per SURVEY §1.2.

Two inputs:

- The in-repo census tile, ``synthetic.sf_tile_bytes()``: the
  ``sf_tile_rows()`` census (7 layers, 49 features, one without an id)
  written by a test-side MVT writer that shares no code with
  ``sources.mvt`` (FIXTURES.md §2). The tests that check a property of
  the codec or of the Spark operators that any valid tile has run on
  it: row-equality, gzip and gzip-level roundtrips, the Spark decode ->
  encode roundtrip, carry order, ``on_error="skip"``,
  ``decode_tile_points`` and the id-less feature.
- The reference checkout's own fixtures (``SF_TILE``, the ``sf_rows``
  fixture, ``z16-housenum.mvt``, ``invalid.mvt`` and the
  bright-v9/expressions/properties styles). The tests whose expected
  values are that content stay on them, and fail where the checkout is
  absent: the census (13 poi_label, 3 water, 20 road), ``localrank``,
  the Sutro Baths coordinates, the four ``*_on_real_tile`` shave
  counts, the 5514/16780/6609-byte size pins, the two style end-to-end
  tests and the mvt-fixtures ``invalid.mvt``.
"""

import gzip
import zlib
from collections import Counter

import pytest
from pyspark.sql import functions as F

from vtshaver_spark import Filters, style_to_filters
from vtshaver_spark.operators.shave import shave
from vtshaver_spark.sources.mvt import (
    MVTError,
    _write_len_field,
    _write_varint,
    decode_tile_points,
    decode_tiles,
    encode_tiles_mvt,
    rows_to_tile,
    tile_to_rows,
)
from synthetic import mvt_tile_bytes, sf_tile_bytes, sf_tile_rows

SF_TILE = "/root/reference/test/fixtures/tiles/sf_16_10465_25329.vector.pbf"


@pytest.fixture(scope="module")
def sf_rows():
    with open(SF_TILE, "rb") as f:
        return tile_to_rows(f.read())


@pytest.fixture(scope="module")
def census_rows():
    """The in-repo census tile, decoded. Its per-layer counts and its
    id-less count must be the census table's, so the totals the tests
    below expect come from ``sf_tile_rows()``, not from the decoder."""
    rows = tile_to_rows(sf_tile_bytes())
    census = sf_tile_rows()
    assert Counter(r["layer"] for r in rows) == Counter(c[3] for c in census)
    assert sum(r["feature_id"] is None for r in rows) == sum(
        c[4] is None for c in census
    )
    return rows


def test_decode_reference_census(sf_rows):
    layers = {}
    for r in sf_rows:
        layers[r["layer"]] = layers.get(r["layer"], 0) + 1
    assert len(layers) == 7
    assert layers["poi_label"] == 13
    assert layers["water"] == 3
    assert layers["road"] == 20


def test_decode_value_types(sf_rows):
    poi = [r for r in sf_rows if r["layer"] == "poi_label"]
    assert poi[0]["prop_types"]["maki"] == "string"
    assert poi[0]["prop_types"]["localrank"] == "int"


def test_roundtrip_row_equality(census_rows):
    def key(r):
        return (
            r["layer"],
            r["feature_id"] or -1,
            tuple(sorted(r["props"].items())),
            r["geom_type"],
            r["geometry"],
        )

    again = tile_to_rows(rows_to_tile(census_rows))
    assert sorted(map(key, again)) == sorted(map(key, census_rows))


def test_gzip_sniff_roundtrip(census_rows):
    blob = rows_to_tile(census_rows, compress=True)
    assert blob[:2] == b"\x1f\x8b"
    assert len(tile_to_rows(blob)) == len(census_rows)
    # double-check plain decode of an uncompressed re-encode
    assert len(tile_to_rows(rows_to_tile(census_rows))) == len(census_rows)


def test_malformed_tiles_error():
    with open("/root/reference/test/fixtures/tiles/invalid.mvt", "rb") as f:
        with pytest.raises(MVTError):
            tile_to_rows(f.read())
    # truncated varint
    with pytest.raises(MVTError):
        tile_to_rows(b"\x1a\xff")
    # layer without a name (field 15 version only)
    with pytest.raises(MVTError, match="name"):
        tile_to_rows(bytes([0x1A, 0x02, 0x78, 0x02]))


def test_feature_without_id():
    # a one-layer, one-Point tile without an id field: the census's
    # id-less poi_label row
    no_id = [c for c in sf_tile_rows() if c[4] is None]
    rows = tile_to_rows(mvt_tile_bytes(no_id))
    assert len(rows) == 1 and rows[0]["feature_id"] is None
    # id stays absent across a roundtrip
    again = tile_to_rows(rows_to_tile(rows))
    assert again[0]["feature_id"] is None


def _shave_fixture(spark, sf_rows, style, zoom):
    df = spark.createDataFrame(
        [
            (
                r["layer"],
                r["feature_id"],
                r["geom_type"],
                r["props"],
            )
            for r in sf_rows
        ],
        "layer string, feature_id bigint, geom_type string, props map<string,string>",
    )
    filters = Filters(style_to_filters(style))
    return shave(df, filters, zoom=zoom)


def test_shave_cafe_on_real_tile(spark, sf_rows):
    # reference: cafe == -> poi_label, exactly 1 feature
    out = _shave_fixture(
        spark,
        sf_rows,
        {"layers": [{"source-layer": "poi_label", "filter": ["==", "maki", "cafe"]}]},
        zoom=16,
    ).collect()
    assert len(out) == 1
    assert out[0]["layer"] == "poi_label" and out[0]["props"]["maki"] == "cafe"


def test_shave_negation_on_real_tile(spark, sf_rows):
    # reference: != cafe -> 12 of 13 poi features survive
    out = _shave_fixture(
        spark,
        sf_rows,
        {"layers": [{"source-layer": "poi_label", "filter": ["!=", "maki", "cafe"]}]},
        zoom=16,
    ).collect()
    assert len(out) == 12


def test_shave_keep_all_water_on_real_tile(spark, sf_rows):
    # reference: water style (no filter) keeps the whole layer
    out = _shave_fixture(
        spark,
        sf_rows,
        {"layers": [{"source-layer": "water"}]},
        zoom=16,
    ).collect()
    assert len(out) == 3 and all(r["layer"] == "water" for r in out)


def test_shave_two_layers_on_real_tile(spark, sf_rows):
    # reference test 'multiple filters for different source-layers'
    out = _shave_fixture(
        spark,
        sf_rows,
        {
            "layers": [
                {"source-layer": "poi_label", "filter": ["==", "maki", "toilet"]},
                {"source-layer": "road", "filter": ["!=", "class", "path"]},
            ]
        },
        zoom=16,
    ).collect()
    by_layer = {}
    for r in out:
        by_layer[r["layer"]] = by_layer.get(r["layer"], 0) + 1
    assert by_layer["poi_label"] == 2
    assert by_layer["road"] == 10


def test_spark_decode_encode_roundtrip(spark):
    blob = sf_tile_bytes()
    tiles = spark.createDataFrame(
        [(16, 10465, 25329, bytearray(blob))], "z int, x bigint, y bigint, tile binary"
    )
    rows = decode_tiles(tiles)
    assert rows.count() == 49  # 7-layer census total (sf_tile_rows)
    re_enc = encode_tiles_mvt(rows)
    assert re_enc.count() == 1
    again = decode_tiles(re_enc)
    a = {
        (r["layer"], r["feature_id"], tuple(sorted(r["props"].items())))
        for r in rows.collect()
    }
    b = {
        (r["layer"], r["feature_id"], tuple(sorted(r["props"].items())))
        for r in again.collect()
    }
    assert a == b


# ---------------------------------------------------------------------------
# adversarial / value-type coverage (mvt-fixtures parity, synthesized:
# the reference exercises @mapbox/mvt-fixtures 038/021 and malformed
# index/tag cases in test/mvtfixtures.test.js:16-184)
# ---------------------------------------------------------------------------

from vtshaver_spark.sources.mvt import (
    _encode_value,
    _tag,
    _write_len_field,
    _write_varint,
)


def _build_layer(name, keys, values, features, version=2, extent=4096):
    layer = bytearray()
    _write_varint(layer, _tag(15, 0)); _write_varint(layer, version)
    _write_len_field(layer, 1, name.encode())
    for f in features:
        _write_len_field(layer, 2, f)
    for k in keys:
        _write_len_field(layer, 3, k.encode())
    for v in values:
        _write_len_field(layer, 4, v)
    _write_varint(layer, _tag(5, 0)); _write_varint(layer, extent)
    tile = bytearray()
    _write_len_field(tile, 3, bytes(layer))
    return bytes(tile)


def _build_feature(tags, geom_code=1, fid=None):
    f = bytearray()
    if fid is not None:
        _write_varint(f, _tag(1, 0)); _write_varint(f, fid)
    packed = bytearray()
    for t in tags:
        _write_varint(packed, t)
    if tags:
        _write_len_field(f, 2, bytes(packed))
    _write_varint(f, _tag(3, 0)); _write_varint(f, geom_code)
    _write_len_field(f, 4, bytes([9, 0, 0]))  # MoveTo(0,0)
    return bytes(f)


def test_all_value_types_decode_and_shave(spark):
    # fixture-038 analog: one feature carrying every MVT value type
    keys = ["string_value", "float_value", "double_value", "int_value",
            "uint_value", "sint_value", "bool_value"]
    values = [
        _encode_value("ello", "string"),
        _encode_value("3.0999999046325684", "float"),
        _encode_value("1.23", "double"),
        _encode_value("-6", "int"),
        _encode_value("87948", "uint"),
        _encode_value("-89", "sint"),
        _encode_value("true", "bool"),
    ]
    feat = _build_feature([i for pair in ((k, k) for k in range(7)) for i in pair], fid=1)
    tile = _build_layer("hello", keys, values, [feat])
    rows = tile_to_rows(tile)
    assert len(rows) == 1
    r = rows[0]
    assert r["props"]["string_value"] == "ello"
    assert r["props"]["int_value"] == "-6"
    assert r["props"]["sint_value"] == "-89"
    assert r["props"]["bool_value"] == "true"
    assert r["prop_types"]["float_value"] == "float"
    # value-typed roundtrip
    again = tile_to_rows(rows_to_tile(rows))[0]
    assert again["props"] == r["props"] and again["prop_types"] == r["prop_types"]
    # reference pin: == filter keeps the layer's matching feature
    out = _shave_fixture(
        spark, rows,
        {"layers": [{"source-layer": "hello", "filter": ["==", "string_value", "ello"]}]},
        zoom=0,
    ).collect()
    assert len(out) == 1


def test_bad_key_index_errors():
    feat = _build_feature([5, 0])  # key index 5, only 1 key
    tile = _build_layer("l", ["k"], [_encode_value("v", "string")], [feat])
    with pytest.raises(MVTError, match="key index"):
        tile_to_rows(tile)


def test_bad_value_index_errors():
    feat = _build_feature([0, 9])
    tile = _build_layer("l", ["k"], [_encode_value("v", "string")], [feat])
    with pytest.raises(MVTError, match="value index"):
        tile_to_rows(tile)


def test_odd_tag_count_errors():
    feat = _build_feature([0])
    tile = _build_layer("l", ["k"], [_encode_value("v", "string")], [feat])
    with pytest.raises(MVTError, match="odd number"):
        tile_to_rows(feat and tile)


def test_unknown_geometry_tolerated_then_dropped_by_shave(spark):
    # geometry enum 7 is outside the spec: decoded as Unknown (the
    # reference's filtered path drops it, src/shave.cpp:196-200)
    feat = _build_feature([0, 0], geom_code=7, fid=9)
    tile = _build_layer("l", ["k"], [_encode_value("v", "string")], [feat])
    rows = tile_to_rows(tile)
    assert rows[0]["geom_type"] == "Unknown"
    out = _shave_fixture(
        spark, rows,
        {"layers": [{"source-layer": "l", "filter": ["==", "k", "v"]}]},
        zoom=0,
    ).collect()
    assert out == []


# ---------------------------------------------------------------------------
# reference byte-size regression parity: our deterministic encoder
# reproduces the EXACT shaved sizes the reference pins
# (test/propertyKeyValueFilter.test.js:56-73 — 7718->5514 sf,
# 30607->16780 z16-housenum, 7718->6609 properties.json style)
# ---------------------------------------------------------------------------

import json

SEVEN_LAYER_STYLE = {
    "layers": [
        {"id": l, "source-layer": l}
        for l in [
            "landuse", "water", "building", "road",
            "poi_label", "road_label", "housenum_label",
        ]
    ]
}


def _shave_and_encode(spark, buf, style, zoom):
    rows = tile_to_rows(buf)
    df = spark.createDataFrame(
        [
            (
                r["layer"], r["layer_version"], r["layer_extent"],
                r["feature_id"], r["geom_type"], bytearray(r["geometry"]),
                r["props"], r["prop_types"],
            )
            for r in rows
        ],
        "layer string, layer_version int, layer_extent int, feature_id bigint,"
        " geom_type string, geometry binary, props map<string,string>,"
        " prop_types map<string,string>",
    )
    filters = Filters(style_to_filters(style))
    survivors = [
        {
            "layer": r["layer"],
            "layer_version": r["layer_version"],
            "layer_extent": r["layer_extent"],
            "feature_id": r["feature_id"],
            "geom_type": r["geom_type"],
            "geometry": bytes(r["geometry"]) if r["geometry"] is not None else b"",
            "props": r["props"],
            "prop_types": r["prop_types"],
        }
        for r in shave(df, filters, zoom=zoom).collect()
    ]
    return rows_to_tile(survivors)


def test_size_regression_sf_seven_layer(spark):
    with open(SF_TILE, "rb") as f:
        buf = f.read()
    assert len(buf) == 7718
    out = _shave_and_encode(spark, buf, SEVEN_LAYER_STYLE, zoom=14)
    assert len(out) == 5514  # exact reference pin


def test_size_regression_housenum(spark):
    p = "/root/reference/test/fixtures/tiles/z16-housenum.mvt"
    with open(p, "rb") as f:
        buf = f.read()
    assert len(buf) == 30607
    out = _shave_and_encode(spark, buf, SEVEN_LAYER_STYLE, zoom=14)
    assert len(out) == 16780  # exact reference pin


def test_size_regression_properties_style(spark):
    style = json.load(
        open("/root/reference/test/fixtures/styles/properties.json")
    )
    with open(SF_TILE, "rb") as f:
        buf = f.read()
    out = _shave_and_encode(spark, buf, style, zoom=14)
    assert len(out) == 6609  # exact reference pin


def test_bright_v9_end_to_end(spark, sf_rows):
    # the reference's bench style class: a real multi-layer style with
    # legacy in/!in/== filters compiled and executed over the real
    # tile, shaved output re-encoded. Census: only styled layers with
    # matching features survive (landuse, road, water from the sf
    # tile's 7 layers).
    style = json.load(
        open("/root/reference/test/fixtures/styles/bright-v9.json")
    )
    out = _shave_fixture(spark, sf_rows, style, zoom=15).collect()
    by_layer = {}
    for r in out:
        by_layer[r["layer"]] = by_layer.get(r["layer"], 0) + 1
    assert set(by_layer) <= {"landuse", "road", "water", "waterway"}
    assert by_layer.get("water") == 3  # keep-all water layer
    assert by_layer.get("landuse") == 3  # park/wood/grass classes match
    # bright-v9 keeps only TUNNEL roads (motorway_link/secondary/
    # tertiary under ["==","structure","tunnel"]); the sf tile has no
    # tunnels, so zero road survivors is the correct census
    assert "road" not in by_layer
    # re-encode the survivors: valid MVT, layers match
    blob = rows_to_tile(
        [
            {
                "layer": r["layer"], "feature_id": r["feature_id"],
                "geom_type": r["geom_type"], "geometry": b"",
                "props": r["props"], "prop_types": {},
            }
            for r in out
        ]
    )
    again = tile_to_rows(blob)
    assert {r["layer"] for r in again} == set(by_layer)


def test_expressions_style_end_to_end(spark, sf_rows):
    # expressions.json: the style the reference's CI throughput gate
    # runs (bench/bench-batch.js:48-56) — expression-syntax filters
    # over the real tile
    style = json.load(
        open("/root/reference/test/fixtures/styles/expressions.json")
    )
    out = _shave_fixture(spark, sf_rows, style, zoom=16).collect()
    assert len(out) > 0


def test_decode_geometry_real_tile(sf_rows):
    from vtshaver_spark.sources.mvt import decode_geometry, tile_px_to_lonlat

    poi = [r for r in sf_rows if r["layer"] == "poi_label"]
    named = {r["props"].get("name"): r for r in poi}
    # Sutro Baths is a real SF landmark at Lands End (~-122.514, 37.780)
    paths = decode_geometry(named["Sutro Baths"]["geometry"])
    assert len(paths) == 1 and len(paths[0]) == 1
    lon, lat = tile_px_to_lonlat(
        16, 10465, 25329, *paths[0][0], named["Sutro Baths"]["layer_extent"]
    )
    assert abs(lon - -122.5137) < 0.001 and abs(lat - 37.7802) < 0.001
    # polygons decode to closed rings
    water = [r for r in sf_rows if r["layer"] == "water"][0]
    rings = decode_geometry(water["geometry"])
    assert rings and all(p[0] == p[-1] for p in rings)


def test_decode_tile_points_spark(spark):
    blob = sf_tile_bytes()
    tiles = spark.createDataFrame(
        [(16, 10465, 25329, bytearray(blob))],
        "z int, x bigint, y bigint, tile binary",
    )
    pts = decode_tile_points(tiles)
    poi = pts.filter(pts.layer == "poi_label")
    assert poi.count() == 13  # one vertex per point feature
    bounds = poi.agg(
        F.min("lon"), F.max("lon"), F.min("lat"), F.max("lat")
    ).collect()[0]
    # all poi inside the z16 tile footprint (~0.0055 deg wide)
    assert -122.53 < bounds[0] and bounds[1] < -122.50
    assert 37.77 < bounds[2] and bounds[3] < 37.79


def test_decode_geometry_malformed():
    from vtshaver_spark.sources.mvt import decode_geometry

    with pytest.raises(MVTError, match="LineTo"):
        decode_geometry(bytes([0x09, 0x00, 0x00, 0x12, 0x02]))  # truncated
    with pytest.raises(MVTError, match="unknown geometry command"):
        decode_geometry(bytes([0x0B]))  # op=3


def test_decode_tiles_carry_order_independent(spark):
    """mapInArrow binds output columns to the declared schema BY
    POSITION (r6): a tiles frame whose column order differs from
    carry_cols must still land each carry value in its own column —
    the schema must follow carry order, not df.schema order."""
    good = sf_tile_bytes()
    tiles = spark.createDataFrame(
        [(7, 9, 16, bytearray(good))],
        "x bigint, y bigint, z bigint, tile binary",  # NOT (z, x, y)
    )
    row = decode_tiles(tiles).select("z", "x", "y").first()
    assert (row["z"], row["x"], row["y"]) == (16, 7, 9)


def test_decode_tiles_on_error_skip(spark):
    good = sf_tile_bytes()
    # a layer whose name bytes are invalid UTF-8
    bad_utf8 = bytes([0x1A, 0x04, 0x0A, 0x02, 0xFF, 0xFE])
    tiles = spark.createDataFrame(
        [
            (16, 1, 1, bytearray(good)),
            (16, 2, 2, bytearray(b"\x1a\xff")),  # corrupt protobuf
            # truncated gzip: magic bytes then garbage — the common
            # real-world corruption (ADVICE r2)
            (16, 3, 3, bytearray(b"\x1f\x8b\x08\x00trunc")),
            (16, 4, 4, bytearray(gzip.compress(good)[:-7])),  # cut tail
            (16, 5, 5, bytearray(bad_utf8)),  # invalid UTF-8 strings
        ],
        "z int, x bigint, y bigint, tile binary",
    )
    # default: any corrupt blob fails the job
    with pytest.raises(Exception):
        decode_tiles(tiles).count()
    # skip mode: good tile decodes, all corruption classes are dropped
    out = decode_tiles(tiles, on_error="skip")
    assert out.count() == 49  # census total (sf_tile_rows)
    assert out.select("x").distinct().collect()[0]["x"] == 1


def test_gzip_level_changes_output(spark):
    """compress {type, level} parity with src/shave.cpp:412-446: the
    level must actually reach zlib, not just validate (r2 gap)."""
    from vtshaver_spark.sources.mvt import rows_to_tile

    rows = tile_to_rows(sf_tile_bytes())
    b1 = rows_to_tile(rows, compress=True, level=1)
    b9 = rows_to_tile(rows, compress=True, level=9)
    bd = rows_to_tile(rows, compress=True)  # default = best (9)
    assert len(b1) > len(b9)
    assert bd == b9
    # both decompress back to the same row census
    assert len(tile_to_rows(b1)) == len(tile_to_rows(b9)) == len(rows)

    # level threads through the Spark sink too
    tiles = spark.createDataFrame(
        [(16, 1, 1, r["layer"], r["feature_id"], r["geom_type"], r["props"])
         for r in rows[:40]],
        "z int, x bigint, y bigint, layer string, feature_id bigint, "
        "geom_type string, props map<string,string>",
    )
    out1 = encode_tiles_mvt(tiles, compress={"type": "gzip", "level": 1}).collect()
    out9 = encode_tiles_mvt(tiles, compress={"type": "gzip", "level": 9}).collect()
    assert len(out1[0]["tile"]) > len(out9[0]["tile"])


def test_tile_to_rows_gzip_corruption_is_mvterror():
    # gzip/UTF-8 failures surface as MVTError (single exception type
    # for the decode-must-error contract AND the skip path)
    for blob in (
        b"\x1f\x8b\x08\x00trunc",
        gzip.compress(b"not a tile")[:-3],
        bytes([0x1A, 0x04, 0x0A, 0x02, 0xFF, 0xFE]),
    ):
        with pytest.raises(MVTError):
            tile_to_rows(blob)


def _gzip_bomb() -> bytes:
    """~65 KB of gzip that inflates to 65 MiB, one MiB past the 64 MiB
    cap. The leading byte is an invalid protobuf tag (wire type 7), so
    a decoder without the cap fails fast on the inflated bytes with a
    different message instead of parsing 65 MiB of zeros."""
    enc = zlib.compressobj(9, zlib.DEFLATED, 31)
    parts = [enc.compress(b"\x0f")]
    zeros = bytes(1 << 20)
    for _ in range(65):
        parts.append(enc.compress(zeros))
    parts.append(enc.flush())
    return b"".join(parts)


def _small_tile() -> bytes:
    rows = [
        {
            "layer": "poi_label",
            "feature_id": i,
            "geom_type": "Point",
            "geometry": bytes([0x09, 2 * i, 2]),  # MoveTo(1) (i, 1)
            "props": {"maki": "cafe"},
            "prop_types": {"maki": "string"},
        }
        for i in range(1, 4)
    ]
    return rows_to_tile(rows)


def test_tile_to_rows_gzip_bomb_is_mvterror():
    bomb = _gzip_bomb()
    assert len(bomb) < 80_000
    with pytest.raises(MVTError, match="inflates past"):
        tile_to_rows(bomb)


def test_tile_to_rows_gzip_members_concatenate():
    # gzip.decompress semantics: every member decodes, zero padding
    # between members is ignored
    tile = _small_tile()
    cut = len(tile) // 2
    multi = gzip.compress(tile[:cut]) + b"\x00\x00" + gzip.compress(tile[cut:])
    assert tile_to_rows(multi) == tile_to_rows(tile)
    assert len(tile_to_rows(tile)) == 3


def test_decode_tiles_on_error_skip_drops_gzip_bomb(spark):
    tiles = spark.createDataFrame(
        [
            (16, 1, 1, bytearray(gzip.compress(_small_tile()))),
            (16, 2, 2, bytearray(_gzip_bomb())),
        ],
        "z int, x bigint, y bigint, tile binary",
    )
    out = decode_tiles(tiles, on_error="skip")
    assert out.count() == 3
    assert {r["x"] for r in out.select("x").collect()} == {1}


def test_null_tile_is_mvterror(spark):
    with pytest.raises(MVTError, match="tile is null"):
        tile_to_rows(None)
    tiles = spark.createDataFrame(
        [(16, 1, 1, bytearray(_small_tile())), (16, 2, 2, None)],
        "z int, x bigint, y bigint, tile binary",
    )
    with pytest.raises(Exception, match="MVTError: tile is null"):
        decode_tiles(tiles).collect()
    out = decode_tiles(tiles, on_error="skip").collect()
    assert len(out) == 3
    assert {r["x"] for r in out} == {1}
    with pytest.raises(Exception, match="MVTError: tile is null"):
        decode_tile_points(tiles).collect()


def test_uint64_feature_id_roundtrips_through_spark(spark):
    # MVT ids are uint64; the bigint column holds 2^64-1 as -1 and the
    # encoder writes the same ten-byte varint back
    rows = [
        {
            "layer": "poi_label",
            "feature_id": fid,
            "geom_type": "Point",
            "geometry": bytes([0x09, 2, 2]),
            "props": {"maki": "cafe"},
            "prop_types": {"maki": "string"},
        }
        for fid in (7, 2**64 - 1)
    ]
    tile = rows_to_tile(rows)
    id_varint = b"\x08" + b"\xff" * 9 + b"\x01"
    assert id_varint in tile
    tiles = spark.createDataFrame(
        [(16, 1, 1, bytearray(tile))], "z int, x bigint, y bigint, tile binary"
    )
    decoded = decode_tiles(tiles)
    assert sorted(r["feature_id"] for r in decoded.collect()) == [-1, 7]
    out = bytes(encode_tiles_mvt(decoded).collect()[0]["tile"])
    assert id_varint in out
    assert sorted(r["feature_id"] for r in tile_to_rows(out)) == [-1, 7]


def _one_feature_tile(fid=1, version=2, extent=4096) -> bytes:
    """A one-layer, one-Point tile with the given varint values."""
    feat = bytearray()
    _write_varint(feat, 1 << 3)  # id, varint
    _write_varint(feat, fid)
    _write_varint(feat, 3 << 3)  # type, varint
    _write_varint(feat, 1)  # Point
    _write_len_field(feat, 4, bytes([0x09, 2, 2]))
    layer = bytearray()
    _write_varint(layer, 15 << 3)  # version, varint
    _write_varint(layer, version)
    _write_len_field(layer, 1, b"poi_label")
    _write_len_field(layer, 2, bytes(feat))
    _write_varint(layer, 5 << 3)  # extent, varint
    _write_varint(layer, extent)
    tile = bytearray()
    _write_len_field(tile, 3, bytes(layer))
    return bytes(tile)


def test_out_of_range_varints_are_mvterror(spark):
    # values the row schema cannot hold: a ten-byte varint past 2^64
    # (feature_id bigint) and a version/extent past 2^31 (int columns)
    assert len(tile_to_rows(_one_feature_tile())) == 1
    bad = [
        _one_feature_tile(fid=2**65),
        _one_feature_tile(version=2**40),
        _one_feature_tile(extent=2**33),
    ]
    for blob in bad:
        with pytest.raises(MVTError):
            tile_to_rows(blob)
    tiles = spark.createDataFrame(
        [(16, 1, 1, bytearray(_small_tile()))]
        + [(16, i, i, bytearray(b)) for i, b in enumerate(bad, start=2)],
        "z int, x bigint, y bigint, tile binary",
    )
    out = decode_tiles(tiles, on_error="skip").collect()
    assert len(out) == 3
    assert {r["x"] for r in out} == {1}
