"""Seeded inputs and independent answers for the benchmark workloads.

The engine's derived corpus views (``sources.views.DERIVED_VIEWS``) are
pure integer arithmetic over four TPC-H key columns. The benchmark
synthesises those key columns itself (Spark ``range`` on one side,
DuckDB ``range`` on the other), so it needs no data files and both
engines see the same base rows. Every expected answer comes from DuckDB
or from a decoder written here, never from the engine under test.
"""

from __future__ import annotations

import gzip
from collections import Counter

# Base key counts: part feeds features_v, orders feeds images_v,
# supplier feeds landmarks_v, nation (always 25 rows) feeds polygons_v.
PARTS = 2000
ORDERS = 15000
SUPPLIERS = 100
NATIONS = 25

BASE_KEYS = {
    "part": ("p_partkey", 1, PARTS),
    "orders": ("o_orderkey", 1, ORDERS),
    "supplier": ("s_suppkey", 1, SUPPLIERS),
    "nation": ("n_nationkey", 0, NATIONS - 1),
}

VIEWS = ("features_v", "images_v", "landmarks_v", "polygons_v")

FEATURES_PER_TILE = 50  # the reference bench corpus shape


def register_views(spark) -> None:
    from pyspark.sql import functions as F

    from vtshaver_spark.sources.views import DERIVED_VIEWS

    for table, (col, lo, hi) in BASE_KEYS.items():
        spark.range(lo, hi + 1).select(F.col("id").alias(col)).createOrReplaceTempView(
            table
        )
    for name in VIEWS:
        spark.sql(DERIVED_VIEWS[name]).createOrReplaceTempView(name)


def duckdb_connection():
    import duckdb

    con = duckdb.connect()
    for table, (col, lo, hi) in BASE_KEYS.items():
        con.execute(
            f"CREATE TABLE {table} AS SELECT range AS {col} FROM range({lo}, {hi + 1})"
        )
    return con


# ---------------------------------------------------------------------------
# synthetic geometry: features_v carries no geometry column, but real
# tiles are mostly geometry bytes. Each feature gets one of four fixed,
# valid command streams for its type (MoveTo=1, LineTo=2, ClosePath=7,
# zigzag deltas), picked by feature_id.
# ---------------------------------------------------------------------------

def _varints(vals) -> bytes:
    out = bytearray()
    for v in vals:
        while v >= 0x80:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
    return bytes(out)


def _zz(n: int) -> int:
    return (n << 1) ^ (n >> 31)


def _path(points, close: bool) -> bytes:
    (x0, y0), rest = points[0], points[1:]
    vals = [1 | (1 << 3), _zz(x0), _zz(y0), 2 | (len(rest) << 3)]
    px, py = x0, y0
    for x, y in rest:
        vals += [_zz(x - px), _zz(y - py)]
        px, py = x, y
    if close:
        vals.append(7 | (1 << 3))
    return _varints(vals)


def _geometries(variant: int) -> dict:
    o = 300 + 700 * variant
    line = [(o + 40 * i, o + (i * i * 13) % 400) for i in range(12)]
    ring = [(o, o), (o + 600, o), (o + 650, o + 300), (o + 600, o + 600),
            (o + 200, o + 650), (o, o + 600)]
    return {
        "Point": _varints([1 | (1 << 3), _zz(o), _zz(o + 55)]),
        "LineString": _path(line, close=False),
        "Polygon": _path(ring, close=True),
    }


def geometry_col():
    """Binary Column of a fixed command stream per (geom_type,
    feature_id % 4); 'Unknown' features carry no geometry."""
    from pyspark.sql import functions as F

    variants = [_geometries(v) for v in range(4)]
    idx = (F.col("feature_id") % 4 + 1).cast("int")
    col = F.lit(b"")
    for gtype in ("Point", "LineString", "Polygon"):
        options = F.array(*[F.lit(g[gtype]) for g in variants])
        col = F.when(F.col("geom_type") == gtype, F.element_at(options, idx)).otherwise(col)
    return col


def feature_rows(spark, replicas: int, seed: int, partitions: int):
    """features_v plus props and geometry, replicated ``replicas`` times
    and re-gridded over x/y at about FEATURES_PER_TILE features per
    tile. ``seed`` salts which tile each replica lands in."""
    from pyspark.sql import functions as F

    from vtshaver_spark.sources.views import features_with_props

    grid = max(2, round((PARTS * replicas / FEATURES_PER_TILE) ** 0.5))
    salt = F.lit(seed).cast("long")
    return (
        features_with_props(spark)
        .repartition(partitions)
        .withColumn("_rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
        .withColumn("x", F.pmod(F.xxhash64("feature_id", "_rep", salt), F.lit(grid)))
        .withColumn("y", F.pmod(F.xxhash64(salt, "_rep", "feature_id"), F.lit(grid)))
        .withColumn("geometry", geometry_col())
        .select(
            F.lit(16).cast("int").alias("z"), "x", "y", "layer", "feature_id",
            "geom_type", "geometry", "props",
        )
    )


def image_rows(spark, replicas: int, seed: int, partitions: int):
    """images_v replicated ``replicas`` times; ``seed`` salts which
    partition each replica lands in (the answers do not depend on it)."""
    from pyspark.sql import functions as F

    return (
        spark.table("images_v")
        .withColumn("_rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
        .repartition(partitions, F.xxhash64("k", "_rep", F.lit(seed).cast("long")))
        .drop("_rep")
    )


# ---------------------------------------------------------------------------
# oracles (DuckDB)
# ---------------------------------------------------------------------------

def shave_oracle_ids(con) -> Counter:
    """Feature ids kept by EXPRESSION_ROAD_STYLE at z16, from the
    repo's own DuckDB oracle for the ``shave_expression_roads`` query."""
    import __spark_entry__ as entry

    sql = entry.oracle_sql()["shave_expression_roads"]
    return Counter(r[0] for r in con.execute(sql).fetchall())


def spatial_oracle(con, tile_z: int) -> dict:
    """Base-corpus answers for the spatial_join operators."""
    from vtshaver_spark.functions.geo import tile_x_sql, tile_y_sql
    from vtshaver_spark.sources.views import DERIVED_VIEWS

    ctes = ", ".join(
        f"{v} AS ({DERIVED_VIEWS[v]})" for v in ("images_v", "polygons_v")
    )
    tiles = con.execute(
        f"WITH {ctes} SELECT COUNT(*) FROM (SELECT DISTINCT "
        f"{tile_x_sql('lon', tile_z)}, {tile_y_sql('lat', tile_z)} FROM images_v)"
    ).fetchone()[0]
    pip_pairs = con.execute(
        f"""WITH {ctes}
SELECT COUNT(*) FROM images_v i JOIN polygons_v p
  ON i.lon >= p.lon_min AND i.lon < p.lon_max
 AND i.lat >= p.lat_min AND i.lat < p.lat_max"""
    ).fetchone()[0]
    lonlat = con.execute(f"WITH {ctes} SELECT lon, lat FROM images_v").fetchnumpy()
    return {"tiles": tiles, "pip_pairs": pip_pairs, "lon": lonlat["lon"], "lat": lonlat["lat"]}


# ---------------------------------------------------------------------------
# independent MVT reader: walks the protobuf wire format directly, so a
# codec bug in sources.mvt cannot hide behind its own decoder
# ---------------------------------------------------------------------------

def _fields(buf: bytes, pos: int, end: int):
    while pos < end:
        key, pos = _varint(buf, pos)
        field, wt = key >> 3, key & 7
        if wt == 0:
            val, pos = _varint(buf, pos)
        elif wt == 2:
            n, pos = _varint(buf, pos)
            val, pos = buf[pos:pos + n], pos + n
        elif wt == 1:
            val, pos = buf[pos:pos + 8], pos + 8
        elif wt == 5:
            val, pos = buf[pos:pos + 4], pos + 4
        else:
            raise ValueError(f"wire type {wt}")
        yield field, val


def _varint(buf: bytes, pos: int):
    val = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if b < 0x80:
            return val, pos
        shift += 7


def tile_features(blob: bytes) -> Counter:
    """Multiset of (layer, id, type, sorted (key, raw value) pairs,
    geometry) over every feature of a possibly gzipped tile."""
    buf = gzip.decompress(blob) if blob[:2] == b"\x1f\x8b" else blob
    out: Counter = Counter()
    for field, layer in _fields(buf, 0, len(buf)):
        if field != 3:
            continue
        name, keys, values, feats = None, [], [], []
        for f, v in _fields(layer, 0, len(layer)):
            if f == 1:
                name = v.decode()
            elif f == 2:
                feats.append(v)
            elif f == 3:
                keys.append(v.decode())
            elif f == 4:
                values.append(bytes(v))
        for feat in feats:
            fid = gtype = None
            tags, geom = [], b""
            for f, v in _fields(feat, 0, len(feat)):
                if f == 1:
                    fid = v
                elif f == 3:
                    gtype = v
                elif f == 4:
                    geom = bytes(v)
                elif f == 2:
                    p = 0
                    while p < len(v):
                        t, p = _varint(v, p)
                        tags.append(t)
            props = tuple(sorted(
                (keys[tags[i]], values[tags[i + 1]]) for i in range(0, len(tags), 2)
            ))
            out[(name, fid, gtype, props, geom)] += 1
    return out
