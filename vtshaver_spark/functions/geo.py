"""Column-only geospatial math: Web-Mercator tiling, cell ids, distance.

Everything here is pure Catalyst expression (no UDFs), so tile/cell
assignment of 10^12 rows runs fully inside whole-stage codegen and the
identical formulas can be re-stated in ANSI SQL for oracle checking.

Tile scheme: the standard slippy-map z/x/y used by MVT tiles (the
reference's tiles are addressed this way, e.g. the canonical fixture
sf_16_10465_25329 — /root/reference/test/vtshaver.test.js:55-59).
"""

from __future__ import annotations

import math
from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from vtshaver_spark.functions.expr import double_sql

# Web-Mercator latitude clamp (where the projection diverges).
MAX_LAT = 85.05112878

ColumnOrName = Union[Column, str]


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tile_x(lon: ColumnOrName, z: int) -> Column:
    """Slippy x = floor((lon+180)/360 * 2^z), clamped to [0, 2^z-1]."""
    n = float(1 << z)
    x = F.floor((_col(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    return F.least(F.greatest(x, F.lit(0)), F.lit(int(n) - 1)).cast("long")


def tile_y(lat: ColumnOrName, z: int) -> Column:
    """Slippy y = floor((1 - ln(tan(φ)+sec(φ))/π)/2 * 2^z), clamped."""
    n = float(1 << z)
    phi = F.radians(
        F.least(F.greatest(_col(lat), F.lit(-MAX_LAT)), F.lit(MAX_LAT))
    )
    merc = F.log(F.tan(phi) + F.lit(1.0) / F.cos(phi))
    y = F.floor((F.lit(1.0) - merc / F.lit(math.pi)) / F.lit(2.0) * F.lit(n))
    return F.least(F.greatest(y, F.lit(0)), F.lit(int(n) - 1)).cast("long")


def with_tile(df, z: int = 5):
    """Adds z/x/y tile-address columns of the ``lon``/``lat`` columns
    (pure Column math, no shuffle)."""
    return (
        df.withColumn("z", F.lit(z).cast("int"))
        .withColumn("x", tile_x("lon", z))
        .withColumn("y", tile_y("lat", z))
    )


def tile_pyramid(df, z_base: int, z_min: int) -> "DataFrame":
    """Hierarchical tile-count pyramid: ``lon``/``lat`` point counts
    at ``z_base``, then every coarser level down to ``z_min``
    aggregated from the PREVIOUS level (parent x = x >> 1,
    y = y >> 1) — the rollup a tile server precomputes so low-zoom
    tiles don't re-scan the corpus.

    100 TB shape: the raw corpus is scanned ONCE (a single hash agg
    shuffled on z_base tile keys, with map-side partial combine);
    every coarser level consumes the previous level's OUTPUT, which
    shrinks ~4x per step, so the cascade costs a geometric series of
    tiny shuffles instead of (z_base - z_min) full scans. The shared
    base subplan appears once per union branch but its shuffle is
    deduplicated by Spark's ReusedExchange.

    Output: z (int), x, y (bigint), n_points (bigint) for every
    non-empty tile at each level.
    """
    if not 0 <= z_min <= z_base:
        raise ValueError(
            f"need 0 <= z_min <= z_base, got z_min={z_min} z_base={z_base}"
        )
    level = (
        with_tile(df, z=z_base)
        .groupBy("z", "x", "y")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    out = level
    for z in range(z_base - 1, z_min - 1, -1):
        level = (
            level.select(
                F.lit(z).cast("int").alias("z"),
                F.shiftright(F.col("x"), 1).alias("x"),
                F.shiftright(F.col("y"), 1).alias("y"),
                "n_points",
            )
            .groupBy("z", "x", "y")
            .agg(F.sum("n_points").alias("n_points"))
        )
        out = out.unionByName(level)
    return out


def tile_cell(z: ColumnOrName, x: ColumnOrName, y: ColumnOrName) -> Column:
    """Packs (z,x,y) into one sortable bigint cell id.

    Layout: z in the top bits, then x, then y (29 bits each — valid to
    z=29). Sorting by this id groups a zoom level contiguously and
    keeps x-adjacent columns near each other; it is the hash/range
    partitioning key for tile-local work.
    """
    return (
        _col(z).cast("long") * F.lit(1 << 58)
        + _col(x).cast("long") * F.lit(1 << 29)
        + _col(y).cast("long")
    )


def quadkey(z: int, x: ColumnOrName, y: ColumnOrName) -> Column:
    """Bing-style quadkey cell id: bit-interleaved x/y at zoom z.

    Hierarchical: the quadkey of the parent tile is this value >> 2.
    Built from Column bit-ops only (z iterations at plan-build time).
    """
    xc, yc = _col(x), _col(y)
    key = F.lit(0).cast("long")
    for i in range(z):
        bit_x = F.shiftright(xc, i).bitwiseAND(F.lit(1))
        bit_y = F.shiftright(yc, i).bitwiseAND(F.lit(1))
        key = key + F.shiftleft(bit_x + bit_y * F.lit(2), 2 * i).cast("long")
    return key


def haversine_m(
    lon1: ColumnOrName, lat1: ColumnOrName, lon2: ColumnOrName, lat2: ColumnOrName
) -> Column:
    """Great-circle distance in meters (pure Column math)."""
    r = 6371000.0
    p1, p2 = F.radians(_col(lat1)), F.radians(_col(lat2))
    dphi = p2 - p1
    dlmb = F.radians(_col(lon2) - _col(lon1))
    a = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.cos(p1) * F.cos(p2) * F.sin(dlmb / 2) * F.sin(dlmb / 2)
    )
    # near-antipodal rounding can push a to 1 + O(eps): unclamped,
    # ASIN(SQRT(a)) goes NaN and the distance poisons every MIN it
    # feeds (same clamp in haversine_m_sql — parity preserved)
    return F.lit(2.0 * r) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def tile_bounds(z: int, x: int, y: int) -> tuple:
    """Driver-side (lon_min, lat_min, lon_max, lat_max) of a tile."""
    n = 1 << z
    lon_min = x / n * 360.0 - 180.0
    lon_max = (x + 1) / n * 360.0 - 180.0

    def lat_of(yy: int) -> float:
        t = math.pi * (1 - 2 * yy / n)
        return math.degrees(math.atan(math.sinh(t)))

    return (lon_min, lat_of(y + 1), lon_max, lat_of(y))


# SQL fragments for oracle parity (same math as the Columns above, in
# portable SQL so DuckDB computes bit-identical doubles).
def tile_x_sql(lon_expr: str, z: int) -> str:
    n = 1 << z
    return (
        f"CAST(LEAST(GREATEST(FLOOR(({lon_expr} + 180.0) / 360.0 * {n}.0), 0), {n - 1}) AS BIGINT)"
    )


def tile_y_sql(lat_expr: str, z: int) -> str:
    n = 1 << z
    clamped = f"LEAST(GREATEST({lat_expr}, -85.05112878), 85.05112878)"
    merc = f"LN(TAN(RADIANS({clamped})) + 1.0 / COS(RADIANS({clamped})))"
    return (
        f"CAST(LEAST(GREATEST(FLOOR((1.0 - {merc} / PI()) / 2.0 * {n}.0), 0), {n - 1}) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# GeoJSON polygon predicates — ONE edge enumeration drives both the
# Column codegen form and the SQL parity form, so the engine and the
# DuckDB oracle evaluate literally the same arithmetic.
# ---------------------------------------------------------------------------

def geojson_polygons(geom: dict) -> list:
    """Normalize a GeoJSON Feature/Polygon/MultiPolygon literal to a
    list of polygons, each a list of CLOSED rings of (x, y) tuples
    (ring[0] == ring[-1]); ring 0 is the exterior, the rest holes."""
    if geom.get("type") == "Feature":
        geom = geom.get("geometry", {})
    gtype = geom.get("type")
    if gtype == "Polygon":
        polys = [geom["coordinates"]]
    elif gtype == "MultiPolygon":
        polys = list(geom["coordinates"])
    else:
        raise ValueError("expected GeoJSON Polygon or MultiPolygon")
    out = []
    for rings in polys:
        closed = []
        for ring in rings:
            pts = [tuple(p[:2]) for p in ring]
            if len(pts) < 3:
                raise ValueError(
                    f"GeoJSON ring needs >= 3 positions, got {len(pts)}"
                )
            if pts[0] != pts[-1]:
                pts.append(pts[0])
            closed.append(pts)
        out.append(closed)
    return out


def _ring_edges(ring: list):
    return zip(ring[:-1], ring[1:])


def point_in_polygon_col(lon: str, lat: str, geom: dict) -> str:
    """Spark SQL text of an even-odd ray cast against a LITERAL
    polygon, unrolled at plan build into one fixed term per
    non-horizontal edge — fully whole-stage-codegen'd, no UDF (wrap it
    in ``F.expr``). Counting EVERY ring (exterior + holes) makes
    interior rings flip the parity back out (GeoJSON hole semantics).
    MultiPolygon = OR over member polygons. A point exactly ON a ring
    edge is NOT within — gl-js pointWithinPolygon short-circuits its
    onBoundary test to false before ray casting, and boundary-sharing
    integer tile coordinates make this case reachable in practice. A
    NULL ``lon``/``lat`` is false, not NULL.

    Integer crossing COUNT + parity, like the DuckDB twin
    ``point_in_polygon_sql`` (same edges, slopes and comparisons; this
    form writes DOUBLE literals, which Spark needs and DuckDB rejects):
    NOT a chained boolean XOR, whose plan build is O(2^edges) because
    Catalyst traverses expression trees structurally."""
    d = double_sql
    boundary_terms = []
    poly_terms = []
    for rings in geojson_polygons(geom):
        terms = []
        for ring in rings:
            for (ax, ay), (bx, by) in _ring_edges(ring):
                # collinear cross-product + between-endpoints, the
                # gl-js onBoundary formula (horizontal edges included)
                boundary_terms.append(
                    f"(({d(ax)} - {lon}) * ({d(by)} - {lat}) = "
                    f"({d(bx)} - {lon}) * ({d(ay)} - {lat}) "
                    f"AND ({d(ax)} - {lon}) * ({d(bx)} - {lon}) <= 0 "
                    f"AND ({d(ay)} - {lat}) * ({d(by)} - {lat}) <= 0)"
                )
                if ay == by:
                    continue  # horizontal edge never crosses the ray
                terms.append(
                    f"CASE WHEN ({d(ay)} > {lat}) != ({d(by)} > {lat}) "
                    f"AND {lon} < ({lat} - {d(ay)}) * {d((bx - ax) / (by - ay))} + {d(ax)} "
                    f"THEN 1 ELSE 0 END"
                )
        if terms:
            poly_terms.append("(" + " + ".join(terms) + ") % 2 = 1")
    return (
        f"({lon} IS NOT NULL AND {lat} IS NOT NULL"
        f" AND NOT ({' OR '.join(boundary_terms)})"
        f" AND ({' OR '.join(poly_terms) or 'false'}))"
    )


def point_in_polygon_sql(geom: dict, lon: str = "lon", lat: str = "lat") -> str:
    """Crossing-count parity form of ``point_in_polygon_col`` for the
    DuckDB oracle: same edges, same slopes, same comparisons, same
    on-boundary exclusion."""
    poly_terms = []
    boundary_terms = []
    for rings in geojson_polygons(geom):
        for ring in rings:
            for (ax, ay), (bx, by) in _ring_edges(ring):
                boundary_terms.append(
                    f"((({ax!r} - {lon}) * ({by!r} - {lat}) = "
                    f"({bx!r} - {lon}) * ({ay!r} - {lat})) "
                    f"AND ({ax!r} - {lon}) * ({bx!r} - {lon}) <= 0 "
                    f"AND ({ay!r} - {lat}) * ({by!r} - {lat}) <= 0)"
                )
    for rings in geojson_polygons(geom):
        terms = []
        for ring in rings:
            for (ax, ay), (bx, by) in _ring_edges(ring):
                if ay == by:
                    continue
                slope = (bx - ax) / (by - ay)
                terms.append(
                    f"CASE WHEN (({ay!r} > {lat}) <> ({by!r} > {lat})) "
                    f"AND {lon} < ({lat} - {ay!r}) * {slope!r} + {ax!r} "
                    f"THEN 1 ELSE 0 END"
                )
        poly_terms.append("(" + " + ".join(terms) + ") % 2 = 1")
    return (
        "(NOT (" + " OR ".join(boundary_terms) + ") AND ("
        + " OR ".join(poly_terms) + "))"
    )


def segment_crosses_col(
    x1: Column, y1: Column, x2: Column, y2: Column, geom: dict
) -> Column:
    """True when segment (x1,y1)->(x2,y2) PROPERLY crosses any edge of
    the literal polygon (exterior or hole rings — entering a hole
    leaves the fill region). Strict two-sided orientation test, the
    same proper-intersection rule mbgl's ``within`` uses for
    LineString features: touching an edge endpoint does not count.
    Unrolled per constant edge; pure codegen."""
    any_cross = F.lit(False)
    for rings in geojson_polygons(geom):
        for ring in rings:
            for (cx, cy), (dx, dy) in _ring_edges(ring):
                qx, qy = dx - cx, dy - cy
                # p1/p2 strictly on opposite sides of edge c->d
                o1 = F.lit(qx) * (y1 - F.lit(cy)) - F.lit(qy) * (x1 - F.lit(cx))
                o2 = F.lit(qx) * (y2 - F.lit(cy)) - F.lit(qy) * (x2 - F.lit(cx))
                # c/d strictly on opposite sides of segment p1->p2
                px, py = x2 - x1, y2 - y1
                o3 = px * (F.lit(cy) - y1) - py * (F.lit(cx) - x1)
                o4 = px * (F.lit(dy) - y1) - py * (F.lit(dx) - x1)
                cross = (o1 * o2 < F.lit(0.0)) & (o3 * o4 < F.lit(0.0))
                any_cross = any_cross | cross
    return any_cross


def segment_crosses_sql(
    geom: dict, x1: str, y1: str, x2: str, y2: str
) -> str:
    """SQL parity form of ``segment_crosses_col`` (same edges, same
    orientation products, same strict comparisons)."""
    terms = []
    for rings in geojson_polygons(geom):
        for ring in rings:
            for (cx, cy), (dx, dy) in _ring_edges(ring):
                qx, qy = dx - cx, dy - cy
                o1 = f"({qx!r} * ({y1} - {cy!r}) - {qy!r} * ({x1} - {cx!r}))"
                o2 = f"({qx!r} * ({y2} - {cy!r}) - {qy!r} * ({x2} - {cx!r}))"
                o3 = f"(({x2} - {x1}) * ({cy!r} - {y1}) - ({y2} - {y1}) * ({cx!r} - {x1}))"
                o4 = f"(({x2} - {x1}) * ({dy!r} - {y1}) - ({y2} - {y1}) * ({dx!r} - {x1}))"
                terms.append(f"({o1} * {o2} < 0.0 AND {o3} * {o4} < 0.0)")
    return "(" + " OR ".join(terms) + ")"


def point_segment_distance_m(
    lon1: Column, lat1: Column, lon2: Column, lat2: Column,
    plon: float, plat: float,
) -> Column:
    """Meters from the LITERAL point P=(plon, plat) to the closest
    point of segment (lon1,lat1)->(lon2,lat2) — pure Column math.

    GL ``["distance"]`` parity for LineString features (mbgl, which the
    reference delegates to via /root/reference/src/filters.cpp:108-121,
    measures true geometry distance including segment INTERIORS, not
    just vertices). Method: project the segment into a local
    equirectangular plane anchored at P (lon scaled by cos(plat)),
    clamp the perpendicular foot to t in [0, 1], map the closest point
    back to lon/lat, and return its haversine distance to P. At t=0/1
    this degrades exactly to the vertex haversine; for interior t it is
    the standard local-planar closest-point approximation (sub-meter vs
    the geodesic cross-track at town-to-region segment lengths).

    Operation order mirrors ``point_segment_distance_m_sql`` exactly so
    both engines produce bit-equal doubles.
    """
    kx = math.cos(math.radians(plat))
    ax = (lon1 - F.lit(plon)) * F.lit(kx)
    ay = lat1 - F.lit(plat)
    bx = (lon2 - F.lit(plon)) * F.lit(kx)
    by = lat2 - F.lit(plat)
    dx = bx - ax
    dy = by - ay
    len2 = dx * dx + dy * dy
    t = F.when(
        len2 > F.lit(0.0),
        F.least(
            F.greatest(-(ax * dx + ay * dy) / len2, F.lit(0.0)), F.lit(1.0)
        ),
    ).otherwise(F.lit(0.0))
    clon = F.lit(plon) + (ax + t * dx) / F.lit(kx)
    clat = F.lit(plat) + (ay + t * dy)
    return haversine_m(clon, clat, F.lit(plon), F.lit(plat))


def point_segment_distance_m_sql(
    x1: str, y1: str, x2: str, y2: str, plon: float, plat: float
) -> str:
    """SQL parity form of ``point_segment_distance_m`` — literally the
    same arithmetic with intermediates substituted textually (the
    oracle pays expression duplication; parity is the point)."""
    # CAST AS DOUBLE: DuckDB types bare numeric literals as DECIMAL,
    # and kx's 17 significant digits overflow decimal multiplication
    kx = f"CAST({math.cos(math.radians(plat))!r} AS DOUBLE)"
    ax = f"(({x1} - {plon!r}) * {kx})"
    ay = f"({y1} - {plat!r})"
    bx = f"(({x2} - {plon!r}) * {kx})"
    by = f"({y2} - {plat!r})"
    dx = f"({bx} - {ax})"
    dy = f"({by} - {ay})"
    len2 = f"({dx} * {dx} + {dy} * {dy})"
    t = (
        f"(CASE WHEN {len2} > 0.0 THEN "
        f"LEAST(GREATEST((-({ax} * {dx} + {ay} * {dy})) / {len2}, 0.0), 1.0) "
        f"ELSE 0.0 END)"
    )
    clon = f"({plon!r} + ({ax} + {t} * {dx}) / {kx})"
    clat = f"({plat!r} + ({ay} + {t} * {dy}))"
    return haversine_m_sql(clon, clat, plon, plat)


def haversine_m_sql(lon_expr: str, lat_expr: str, lon2: float, lat2: float) -> str:
    """SQL parity form of ``haversine_m`` against a literal point —
    identical operation order so both engines produce bit-equal
    doubles (RADIANS/SIN/COS/ASIN/SQRT are dialect-neutral)."""
    p1 = f"RADIANS({lat_expr})"
    p2 = f"RADIANS({lat2!r})"
    dphi2 = f"(({p2} - {p1}) / 2)"
    dlmb2 = f"(RADIANS({lon2!r} - {lon_expr}) / 2)"
    a = (
        f"(SIN({dphi2}) * SIN({dphi2}) + "
        f"COS({p1}) * COS({p2}) * SIN({dlmb2}) * SIN({dlmb2}))"
    )
    # antipodal clamp, mirroring haversine_m
    return f"(12742000.0 * ASIN(SQRT(LEAST({a}, 1.0))))"
