"""Deterministic synthetic fixture tables (no RNG, no wall clock).

The features census reproduces the reference's canonical test tile
``sf_16_10465_25329.vector.pbf`` (7 layers — the reference's test/
vtshaver.test.js:55-59) as rows, with the exact per-layer feature
counts and property keys the reference's tests pin (FIXTURES.md §2):

 - poi_label 13 rows: exactly 1 maki='cafe' (test :422-437), exactly 2
   maki='toilet' (:488-522), so ["!=","maki","cafe"] keeps 12
   (:464-486); no row carries key 'cats' (:439-462); all filterrank
   values are >3 or absent so expressions.json shaves the layer
   (:615-632)
 - road 13 rows: exactly 10 with class != 'path' (:488-522); exactly 3
   LineStrings with class in {track,secondary_link,tertiary_link,
   service} and structure in {none,ford} (:649-694); at least one
   Polygon with structure none/ford + class path/pedestrian so
   expressions.json keeps the layer at z16
 - landuse 6 rows incl. feature_id 21420264 (:297-318), classes from
   {park, school, wood, cemetery, grass}
 - water 1 row, no properties (keep-all case :406-420)
 - building 5 rows (type / underground / height)
 - road_label 3 rows (never styled by expressions.json => always
   shaved, :615-632)
 - housenum_label 8 rows (minzoom-17 gating cases :569-613)

Geometry positions are laid out deterministically inside the tile's
lon/lat bounds. ``sf_tile_bytes()`` writes the census as an MVT blob
with a test-side writer that is independent of the engine's codec.
"""

from __future__ import annotations

import hashlib
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from vtshaver_spark.functions.geo import tile_bounds

SF_TILE = (16, 10465, 25329)
HOUSENUM_TILE = (16, 10465, 25330)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType(), False),
        T.StructField("x", T.LongType(), False),
        T.StructField("y", T.LongType(), False),
        T.StructField("layer", T.StringType(), False),
        T.StructField("feature_id", T.LongType(), True),
        T.StructField("geom_type", T.StringType(), False),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("wkb", T.BinaryType(), True),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), False),
        T.StructField("image_id", T.StringType(), True),
    ]
)


def _u(key: str) -> float:
    """Deterministic uniform [0,1) from a stable string key (md5-based;
    no Date.now/random — FIXTURES.md determinism rule)."""
    h = hashlib.md5(key.encode()).hexdigest()
    return int(h[:15], 16) / float(1 << 60)


def _pos(tile: tuple, key: str) -> tuple:
    z, x, y = tile
    lon_min, lat_min, lon_max, lat_max = tile_bounds(z, x, y)
    u1 = _u(f"{z}/{x}/{y}/{key}/lon")
    u2 = _u(f"{z}/{x}/{y}/{key}/lat")
    return (
        lon_min + u1 * (lon_max - lon_min),
        lat_min + u2 * (lat_max - lat_min),
    )


def _rows(tile: tuple, layer: str, specs: list) -> list:
    """specs: list of (feature_id|None, geom_type, props dict)."""
    z, x, y = tile
    out = []
    for i, (fid, geom, props) in enumerate(specs):
        lon, lat = _pos(tile, f"{layer}/{i}")
        image_id = f"img_{fid:08d}" if fid is not None and layer == "poi_label" else None
        out.append((z, x, y, layer, fid, geom, lon, lat, None, props, image_id))
    return out


def sf_tile_rows() -> list:
    t = SF_TILE
    rows = []
    # poi_label — 13 features
    poi = [
        (101, "Point", {"maki": "cafe", "name": "Cafe Alpha", "name_zh": "甲咖啡", "filterrank": "5", "type": "Cafe"}),
        (102, "Point", {"maki": "toilet", "name": "Restroom N", "filterrank": "4", "type": "Toilet"}),
        (103, "Point", {"maki": "toilet", "name": "Restroom S", "filterrank": "4", "type": "Toilet"}),
        (104, "Point", {"maki": "restaurant", "name": "Diner", "name_zh": "餐厅", "filterrank": "5", "type": "Restaurant"}),
        (105, "Point", {"maki": "park", "name": "Garden Gate", "filterrank": "6", "type": "Park"}),
        (106, "Point", {"maki": "museum", "name": "History Museum", "type": "Museum"}),
        (107, "Point", {"maki": "school", "name": "Elementary", "filterrank": "4", "type": "School"}),
        (108, "Point", {"maki": "bank", "name": "Credit Union", "filterrank": "5", "type": "Bank"}),
        (109, "Point", {"maki": "bar", "name": "Taproom", "name_zh": "酒吧", "filterrank": "6", "type": "Bar"}),
        (110, "Point", {"maki": "grocery", "name": "Corner Market", "filterrank": "4", "type": "Grocery"}),
        (111, "Point", {"maki": "library", "name": "Branch Library", "type": "Library"}),
        (112, "Point", {"maki": "theatre", "name": "Playhouse", "filterrank": "5", "type": "Theatre"}),
        (None, "Point", {"maki": "monument", "name": "Obelisk", "filterrank": "6", "type": "Monument"}),
    ]
    rows += _rows(t, "poi_label", poi)
    # road — 13 features (3 path; 3 zoom-expression matches: 204/205/206)
    road = [
        (201, "LineString", {"class": "path", "structure": "none", "type": "path", "oneway": "false", "len": "120"}),
        (202, "LineString", {"class": "path", "structure": "bridge", "type": "steps", "oneway": "false", "len": "40"}),
        (203, "Polygon", {"class": "path", "structure": "none", "type": "crossing", "oneway": "false", "len": "15"}),
        (204, "LineString", {"class": "track", "structure": "none", "type": "track", "oneway": "false", "len": "300"}),
        (205, "LineString", {"class": "secondary_link", "structure": "ford", "type": "secondary_link", "oneway": "true", "len": "80"}),
        (206, "LineString", {"class": "service", "structure": "none", "type": "service", "oneway": "false", "len": "95"}),
        (207, "LineString", {"class": "service", "structure": "bridge", "type": "service", "oneway": "false", "len": "60"}),
        (208, "LineString", {"class": "primary", "structure": "none", "type": "primary", "oneway": "true", "len": "500"}),
        (209, "LineString", {"class": "secondary", "structure": "tunnel", "type": "secondary", "oneway": "false", "len": "420"}),
        (210, "LineString", {"class": "tertiary", "structure": "none", "type": "tertiary", "oneway": "false", "len": "260"}),
        (211, "LineString", {"class": "street", "structure": "none", "type": "street", "oneway": "false", "len": "180"}),
        (212, "LineString", {"class": "motorway", "structure": "bridge", "type": "motorway", "oneway": "true", "len": "900"}),
        (213, "Polygon", {"class": "track", "structure": "none", "type": "track", "oneway": "false", "len": "75"}),
    ]
    rows += _rows(t, "road", road)
    # landuse — 6 features, one pinned id for the $id filter test
    landuse = [
        (21420264, "Polygon", {"class": "park", "type": "garden"}),
        (301, "Polygon", {"class": "school", "type": "schoolyard"}),
        (302, "Polygon", {"class": "wood", "type": "forest"}),
        (303, "Polygon", {"class": "cemetery", "type": "cemetery"}),
        (304, "Polygon", {"class": "grass", "type": "meadow"}),
        (305, "Polygon", {"class": "park", "type": "playground"}),
    ]
    rows += _rows(t, "landuse", landuse)
    # water — 1 feature, no properties (keep-all layer)
    rows += _rows(t, "water", [(401, "Polygon", {})])
    # building — 5 features
    building = [
        (501, "Polygon", {"type": "building:part", "underground": "true", "height": "12"}),
        (502, "Polygon", {"type": "building:part", "underground": "false", "height": "30"}),
        (503, "Polygon", {"type": "building", "underground": "false", "height": "21"}),
        (504, "Polygon", {"type": "house", "underground": "false", "height": "8"}),
        (505, "Polygon", {"type": "garage", "underground": "true", "height": "4"}),
    ]
    rows += _rows(t, "building", building)
    # road_label — 3 features (never styled by expressions.json)
    road_label = [
        (601, "LineString", {"class": "primary", "name": "Market St", "len": "500"}),
        (602, "LineString", {"class": "street", "name": "Oak Ave", "len": "180"}),
        (603, "LineString", {"class": "motorway", "name": "US-101", "len": "900"}),
    ]
    rows += _rows(t, "road_label", road_label)
    # housenum_label — 8 features
    housenum = [
        (700 + i, "Point", {"house_num": str(n), "ref": f"r{n}", "name_zh": f"号{n}"})
        for i, n in enumerate([101, 103, 105, 200, 202, 204, 301, 303])
    ]
    rows += _rows(t, "housenum_label", housenum)
    return rows


def housenum_tile_rows() -> list:
    """The z16-housenum analogue: 7 layers dominated by housenum_label
    (the reference's test/propertyKeyValueFilter.test.js:61)."""
    t = HOUSENUM_TILE
    rows = []
    rows += _rows(t, "housenum_label", [
        (1000 + i, "Point", {"house_num": str(i), "ref": f"hr{i}", "name_zh": f"门{i}"})
        for i in range(40)
    ])
    rows += _rows(t, "poi_label", [
        (1101, "Point", {"maki": "cafe", "name": "Cafe Beta", "filterrank": "5", "type": "Cafe"}),
        (1102, "Point", {"maki": "toilet", "name": "WC", "filterrank": "4", "type": "Toilet"}),
    ])
    rows += _rows(t, "road", [
        (1201, "LineString", {"class": "street", "structure": "none", "type": "street", "oneway": "false", "len": "100"}),
        (1202, "LineString", {"class": "path", "structure": "none", "type": "path", "oneway": "false", "len": "55"}),
    ])
    rows += _rows(t, "landuse", [(1301, "Polygon", {"class": "park", "type": "garden"})])
    rows += _rows(t, "water", [(1401, "Polygon", {})])
    rows += _rows(t, "building", [(1501, "Polygon", {"type": "building", "underground": "false", "height": "10"})])
    rows += _rows(t, "road_label", [(1601, "LineString", {"class": "street", "name": "Pine St", "len": "100"})])
    return rows


def value_types_tile_rows() -> list:
    """mvt-fixtures analogue: one layer exercising every MVT value type
    as canonical strings plus a Point/LineString mix for geometry-type
    filters (the reference's test/mvtfixtures.test.js:16-81)."""
    t = (0, 0, 0)
    specs = [
        (1, "Point", {
            "string_value": "ello",
            "bool_value": "true",
            "int_value": "6",
            "double_value": "1.23",
            "float_value": "3.1",
            "sint_value": "-87948",
            "uint_value": "87948",
        }),
        (2, "LineString", {"highway": "primary"}),
        (3, "Unknown", {"ghost": "yes"}),
    ]
    return _rows(t, "hello", specs)


# ---------------------------------------------------------------------------
# Test-side MVT writer (FIXTURES.md §2). It shares no code with
# vtshaver_spark.sources.mvt and lays a layer's fields out in another
# order than rows_to_tile, so a fault common to the engine's encoder and
# decoder cannot cancel out in a roundtrip.
# ---------------------------------------------------------------------------

MVT_EXTENT = 4096
_MVT_GEOM_TYPES = {"Point": 1, "LineString": 2, "Polygon": 3}


def _varint(n: int) -> bytes:
    out = bytearray()
    while n >= 0x80:
        out.append(n & 0x7F | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _varint_field(field: int, n: int) -> bytes:
    return _varint(field << 3) + _varint(n)


def _bytes_field(field: int, payload: bytes) -> bytes:
    return _varint(field << 3 | 2) + _varint(len(payload)) + payload


def _zigzag(n: int) -> int:
    return n << 1 if n >= 0 else (-n << 1) - 1


def _tile_px(tile: tuple, lon: float, lat: float) -> tuple:
    """Web-Mercator lon/lat -> integer coordinates inside ``tile``."""
    import math

    z, x, y = tile
    n = 1 << z
    gx = (lon + 180.0) / 360.0 * n
    gy = (1.0 - math.asinh(math.tan(math.radians(lat))) / math.pi) / 2.0 * n

    def clamp(v: float) -> int:
        return min(MVT_EXTENT - 1, max(0, int(v * MVT_EXTENT)))

    return clamp(gx - x), clamp(gy - y)


def _command_stream(geom_type: str, px: int, py: int) -> bytes:
    """MoveTo (px, py), then for a LineString two LineTo and for a
    Polygon a 16-unit square ring with positive area in tile
    coordinates (an exterior ring, MVT spec 4.3.4.4), each step
    heading toward the tile's centre so every vertex stays inside."""
    out = _varint(1 << 3 | 1) + _varint(_zigzag(px)) + _varint(_zigzag(py))
    if geom_type == "Point":
        return out
    sx = 16 if px < MVT_EXTENT // 2 else -16
    sy = 16 if py < MVT_EXTENT // 2 else -16
    if geom_type == "LineString":
        steps = [(sx, 0), (0, sy)]
    else:
        steps = [(sx, 0), (0, sy), (-sx, 0)]
        if sx * sy < 0:  # keep the surveyor's area positive
            steps = [(0, sy), (sx, 0), (0, -sy)]
    out += _varint(len(steps) << 3 | 2)
    for dx, dy in steps:
        out += _varint(_zigzag(dx)) + _varint(_zigzag(dy))
    if geom_type == "Polygon":
        out += _varint(1 << 3 | 7)
    return out


def _mvt_value(v: str) -> bytes:
    """A digit string becomes ``int_value`` (field 4), anything else
    ``string_value`` (field 1)."""
    if v.isascii() and v.isdigit():
        return _varint_field(4, int(v))
    return _bytes_field(1, v.encode("utf-8"))


def mvt_tile_bytes(rows: list) -> bytes:
    """Encode ``FEATURES_SCHEMA`` rows of one tile as an uncompressed
    MVT (version 2, extent 4096). Layers keep their first-seen order and
    features their row order. Each layer is written as name, keys,
    values, extent, features and, last, version. A feature is written
    as id (absent when ``feature_id`` is None), tags, type and a command
    stream placed at the row's lon/lat. Geometry types are Point,
    LineString and Polygon."""
    tile = tuple(rows[0][:3])
    layers: dict = {}
    for r in rows:
        layers.setdefault(r[3], []).append(r)
    out = bytearray()
    for name, lrows in layers.items():
        keys: dict = {}
        values: dict = {}
        feats = []
        for _, _, _, _, fid, geom_type, lon, lat, _, props, _ in lrows:
            tags = bytearray()
            for k, v in props.items():
                ki = keys.setdefault(k, len(keys))
                vi = values.setdefault(_mvt_value(v), len(values))
                tags += _varint(ki) + _varint(vi)
            feat = bytearray()
            if fid is not None:
                feat += _varint_field(1, fid)
            if tags:
                feat += _bytes_field(2, bytes(tags))
            feat += _varint_field(3, _MVT_GEOM_TYPES[geom_type])
            feat += _bytes_field(4, _command_stream(geom_type, *_tile_px(tile, lon, lat)))
            feats.append(bytes(feat))
        layer = bytearray(_bytes_field(1, name.encode("utf-8")))
        for k in keys:
            layer += _bytes_field(3, k.encode("utf-8"))
        for v in values:
            layer += _bytes_field(4, v)
        layer += _varint_field(5, MVT_EXTENT)
        for feat in feats:
            layer += _bytes_field(2, feat)
        layer += _varint_field(15, 2)
        out += _bytes_field(3, bytes(layer))
    return bytes(out)


def sf_tile_bytes() -> bytes:
    """The ``sf_tile_rows()`` census as an uncompressed MVT at
    16/10465/25329: 7 layers, 49 features, one without an id."""
    return mvt_tile_bytes(sf_tile_rows())


def features_df(spark: SparkSession, extra_rows: Optional[list] = None) -> DataFrame:
    rows = sf_tile_rows() + housenum_tile_rows() + value_types_tile_rows()
    if extra_rows:
        rows += extra_rows
    return spark.createDataFrame(rows, FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Graft-side tables: landmarks + polygons (FIXTURES.md §4-5)
# ---------------------------------------------------------------------------

LANDMARKS_SCHEMA = T.StructType(
    [
        T.StructField("landmark_id", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), False),
    ]
)

POLYGONS_SCHEMA = T.StructType(
    [
        T.StructField("polygon_id", T.LongType(), False),
        T.StructField("layer", T.StringType(), False),
        T.StructField("lon_min", T.DoubleType(), False),
        T.StructField("lat_min", T.DoubleType(), False),
        T.StructField("lon_max", T.DoubleType(), False),
        T.StructField("lat_max", T.DoubleType(), False),
        T.StructField("ring", T.ArrayType(T.ArrayType(T.DoubleType())), True),
        T.StructField("minzoom", T.DoubleType(), False),
        T.StructField("maxzoom", T.DoubleType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), False),
    ]
)


def landmarks_df(spark: SparkSession, n: int = 200) -> DataFrame:
    makis = ["cafe", "toilet", "park", "museum", "bank", "school"]
    classes = ["park", "school", "wood", "cemetery", "grass"]
    rows = []
    for i in range(1, n + 1):
        lon = -180.0 + 360.0 * _u(f"landmark/{i}/lon")
        lat = -85.0 + 170.0 * _u(f"landmark/{i}/lat")
        rows.append(
            (
                i,
                f"landmark_{i}",
                lon,
                lat,
                {"maki": makis[i % len(makis)], "class": classes[i % len(classes)]},
            )
        )
    return spark.createDataFrame(rows, LANDMARKS_SCHEMA)


def polygons_df(spark: SparkSession, n: int = 50) -> DataFrame:
    """Axis-aligned seeded rectangles plus one concave ring (a notch),
    for point-in-polygon goldens (FIXTURES.md §5)."""
    classes = ["landuse", "water", "building"]
    rows = []
    for i in range(1, n + 1):
        cx = -180.0 + 360.0 * _u(f"poly/{i}/cx")
        cy = -80.0 + 160.0 * _u(f"poly/{i}/cy")
        w = 2.0 + 10.0 * _u(f"poly/{i}/w")
        h = 2.0 + 10.0 * _u(f"poly/{i}/h")
        rows.append(
            (
                i,
                classes[i % 3],
                cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2,
                None,
                0.0,
                22.0,
                {"class": "park" if i % 2 == 0 else "wood"},
            )
        )
    # one concave polygon: a C-shape (rect with a notch cut from the right)
    rows.append(
        (
            n + 1,
            "landuse",
            0.0, 0.0, 10.0, 10.0,
            [
                [0.0, 0.0], [10.0, 0.0], [10.0, 4.0], [4.0, 4.0],
                [4.0, 6.0], [10.0, 6.0], [10.0, 10.0], [0.0, 10.0],
                [0.0, 0.0],
            ],
            0.0,
            22.0,
            {"class": "park"},
        )
    )
    return spark.createDataFrame(rows, POLYGONS_SCHEMA)


def flat_jpeg(sof: int = 0xC0) -> bytes:
    """A complete 8x8 flat-gray JFIF stream (value 128), assembled
    marker by marker: one component, all-ones quantization, one-code
    DC and AC Huffman tables, and a two-bit scan (DC diff 0, EOB).
    ``sof`` picks the frame marker: 0xC0 baseline, 0xC2 progressive,
    0xC9 arithmetic sequential (the scan is only valid for 0xC0).
    The engine has no JPEG decoder; this is the input that checks how
    the image router handles JPEG bytes."""
    import struct

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    huff_one_symbol = bytes([1] + [0] * 15) + b"\x00"
    return b"".join([
        b"\xff\xd8",  # SOI
        seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"),
        seg(0xDB, b"\x00" + b"\x01" * 64),  # DQT 0
        seg(sof, b"\x08\x00\x08\x00\x08\x01\x01\x11\x00"),
        seg(0xC4, b"\x00" + huff_one_symbol),  # DC table 0
        seg(0xC4, b"\x10" + huff_one_symbol),  # AC table 0
        seg(0xDA, b"\x01\x01\x00\x00\x3f\x00"),  # SOS
        b"\x3f",  # bits 0 (DC diff 0), 0 (EOB), then 1-padding
        b"\xff\xd9",  # EOI
    ])


def flat_png() -> bytes:
    """A complete 8x8 flat-gray PNG stream (value 128): IHDR (8-bit
    grayscale, not interlaced), one zlib IDAT of eight scanlines with
    filter byte 0, and IEND, each chunk with its CRC-32. The engine has
    no PNG decoder; this is the input that checks how the image router
    handles PNG bytes."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    scanlines = (b"\x00" + b"\x80" * 8) * 8
    return b"".join([
        b"\x89PNG\r\n\x1a\n",
        chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0)),
        chunk(b"IDAT", zlib.compress(scanlines)),
        chunk(b"IEND", b""),
    ])


def flat_gif() -> bytes:
    """A complete 8x8 flat-gray GIF89a stream (value 128): a two-entry
    global color table and one image whose 64 LZW codes are all index
    0. A Clear code precedes every pair of literals, so the code width
    stays at its initial 3 bits and no dictionary entry is ever used.
    The engine has no GIF decoder; this is the input that checks how
    the image router handles GIF bytes."""
    import struct

    clear, eoi, width = 4, 5, 3
    codes = [clear, 0, 0] * 32 + [eoi]
    acc = sum(c << (i * width) for i, c in enumerate(codes))
    data = acc.to_bytes((len(codes) * width + 7) // 8, "little")
    return b"".join([
        b"GIF89a",
        struct.pack("<HHBBB", 8, 8, 0x80, 0, 0),  # 2-entry global table
        b"\x80\x80\x80\x00\x00\x00",
        b"\x2c" + struct.pack("<HHHHB", 0, 0, 8, 8, 0),  # image descriptor
        b"\x02",  # LZW minimum code size
        bytes([len(data)]) + data + b"\x00",  # one sub-block, terminator
        b"\x3b",  # trailer
    ])


def flat_tiff() -> bytes:
    """A complete 8x8 flat-gray little-endian baseline TIFF (value
    128): one uncompressed 8-bit BlackIsZero strip after a nine-entry
    IFD. The engine has no TIFF decoder; this is the input that checks
    how the image router handles TIFF bytes."""
    import struct

    short, long_ = 3, 4
    entries = [
        (256, short, 8),  # ImageWidth
        (257, short, 8),  # ImageLength
        (258, short, 8),  # BitsPerSample
        (259, short, 1),  # Compression: none
        (262, short, 1),  # PhotometricInterpretation: BlackIsZero
        (273, long_, 8 + 2 + 9 * 12 + 4),  # StripOffsets: after the IFD
        (277, short, 1),  # SamplesPerPixel
        (278, short, 8),  # RowsPerStrip
        (279, long_, 64),  # StripByteCounts
    ]
    ifd = struct.pack("<H", len(entries)) + b"".join(
        struct.pack("<HHI", tag, typ, 1)
        + (struct.pack("<HH", val, 0) if typ == short
           else struct.pack("<I", val))
        for tag, typ, val in entries
    ) + struct.pack("<I", 0)  # no next IFD
    return b"II*\x00" + struct.pack("<I", 8) + ifd + b"\x80" * 64
