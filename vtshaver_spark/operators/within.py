"""Full-geometry GL ``["within", geojson]`` — the scale path.

mbgl (which the reference delegates filter evaluation to,
/root/reference/src/filters.cpp:108-121) evaluates ``within`` over the
WHOLE feature geometry, not a representative point:

- Point / MultiPoint features: within iff EVERY point is inside the
  polygon fill (even-odd, holes excluded);
- LineString / MultiLineString: additionally NO segment may properly
  cross a polygon boundary edge (a line with both endpoints inside
  that clips a hole corner is NOT within);
- Polygon features: always false (the GL spec scopes ``within`` to
  point and line layers).

The Spark-native formulation works on vertex rows — one row per
decoded geometry vertex, exactly what ``sources.mvt.decode_tile_points``
emits — so the whole evaluation is relational:

1. per-vertex inside flag and per-segment crossing flag are LITERAL
   unrolled expressions (the SQL text of functions/geo.point_in_polygon_col,
   the Column math of segment_crosses_col): whole-stage codegen, no
   UDF, no interpreted higher-order lambdas;
2. segments come from ``lead()`` over a window partitioned by the
   FEATURE key (ordered by path_idx, vertex_idx, masked at path
   boundaries) — NOT by (feature, path) — so the grouped reduction in
   step 3 clusters on the same key and Catalyst plans ONE shuffle for
   window + aggregate;
3. one ``groupBy(feature key)`` with bool_and/bool_or map-side
   partials reduces flags to the per-feature verdict.

At 100 TB the vertex table is the largest relation in the job; this
plan touches it with one hash shuffle keyed by feature id (uniformly
distributed — tile-local feature ids), everything else map-side.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vtshaver_spark.functions.geo import (
    haversine_m,
    point_in_polygon_col,
    point_segment_distance_m,
    segment_crosses_col,
)
from vtshaver_spark.sources.mvt import FEATURE_KEY, VERTEX_FIELDS

_PATH, _VERTEX, _LON, _LAT = VERTEX_FIELDS


def feature_within_multi(
    vertex_df: DataFrame,
    geoms: Sequence[dict],
    keys: Sequence[str] = FEATURE_KEY,
    out_cols: Sequence[str] = None,
    distance_points: Sequence[tuple] = (),
    distance_cols: Sequence[str] = None,
) -> DataFrame:
    """Reduce vertex rows to one row per feature carrying a boolean
    verdict column PER polygon in ``geoms`` — all geometries share the
    single window + aggregate pass (one keyed shuffle regardless of
    how many ``within`` expressions a style contains).

    ``vertex_df`` has the ``sources.mvt.decode_tile_points`` row shape:
    one row per geometry vertex carrying ``keys``, ``geom_type`` and
    the ``VERTEX_FIELDS`` (``path_idx`` may be absent for single-path
    data). ``out_cols`` names the verdict columns (default
    within_0..n-1).

    ``distance_points``: (lon, lat) literal points; each adds a
    ``distance_cols[j]`` column = MIN meters from the point to the
    feature's full geometry (GL ``["distance"]`` form): per vertex row
    the minimum of the vertex haversine and — when the row starts a
    segment toward the next vertex of the same path — the
    point-to-SEGMENT distance (closest interior point, mbgl parity per
    /root/reference/src/filters.cpp:108-121), reduced by the same MIN
    aggregate — and for Polygon features the distance is 0 when the
    query point lies INSIDE the fill (even-odd crossing count vs the
    feature's own closed rings, holes included — rings MUST repeat
    their first vertex, the MVT ClosePath convention decode_geometry
    emits; an open ring silently loses its closing edge from both the
    parity count and the segment minimum). Segment distance uses a
    local equirectangular foot anchored at the QUERY point's latitude
    finished with spherical haversine — exact at the vertices and for
    fill containment, approximate on long segments far in latitude
    from the query point (mbgl's cheap-ruler scales at geometry
    latitude; both are planar approximations of the geodesic).
    Longitudes are used raw: geometries spanning the antimeridian
    (lon wrapping at +/-180) are not wrapped, matching the raw-tile
    behavior, not gl-js's world-shifted canvas. Segments and crossings
    ride the lead() window the within test already pays for, so this
    adds zero shuffles.
    """
    missing_keys = [k for k in keys if k not in vertex_df.columns]
    if missing_keys:
        # silently dropping keys would chain the lead() window across
        # unrelated features and AND every verdict into one row
        raise ValueError(
            f"feature_within_multi: vertex_df missing key column(s) "
            f"{missing_keys}"
        )
    keys = list(keys)
    if out_cols is None:
        out_cols = [f"within_{i}" for i in range(len(geoms))]
    if distance_cols is None:
        distance_cols = [f"dist_{j}" for j in range(len(distance_points))]
    has_path = _PATH in vertex_df.columns
    order = [_PATH, _VERTEX] if has_path else [_VERTEX]
    w = Window.partitionBy(*keys).orderBy(*order)

    lon_c, lat_c = F.col(_LON), F.col(_LAT)
    nlon, nlat = F.lead(_LON).over(w), F.lead(_LAT).over(w)
    # a segment exists only toward the next vertex of the SAME path
    same_path = (
        (F.lead(_PATH).over(w) == F.col(_PATH)) if has_path else F.lit(True)
    )
    flags = vertex_df
    for i, geom in enumerate(geoms):
        seg_cross = F.when(
            nlon.isNotNull() & same_path,
            segment_crosses_col(lon_c, lat_c, nlon, nlat, geom),
        ).otherwise(F.lit(False))
        flags = flags.withColumn(
            f"_in_{i}", F.expr(point_in_polygon_col(_LON, _LAT, geom))
        ).withColumn(f"_cross_{i}", seg_cross)

    for j, (plon, plat) in enumerate(distance_points):
        vd = haversine_m(lon_c, lat_c, F.lit(float(plon)), F.lit(float(plat)))
        sd = F.when(
            nlon.isNotNull() & same_path,
            point_segment_distance_m(
                lon_c, lat_c, nlon, nlat, float(plon), float(plat)
            ),
        )
        flags = flags.withColumn(
            f"_d_{j}", F.when(sd.isNotNull() & (sd < vd), sd).otherwise(vd)
        )
        # even-odd ray crossing count vs the FEATURE's own edges: for
        # Polygon features GL distance is 0 when the query point lies
        # inside the fill (mbgl: shortest distance to the geometry);
        # counted across all paths so holes flip parity back out.
        # Rings follow the closed convention (MVT ClosePath repeats
        # the first vertex — sources/mvt.py), so the lead() segments
        # cover every edge. The division is nested under the
        # non-horizontal gate (a CASE branch on BOTH engines — eager
        # division by zero would differ between them).
        x_at = (F.lit(float(plat)) - lat_c) * ((nlon - lon_c) / (nlat - lat_c)) + lon_c
        cross_cnt = F.when(
            nlon.isNotNull()
            & same_path
            & (lat_c != nlat)
            & ((lat_c > F.lit(float(plat))) != (nlat > F.lit(float(plat)))),
            F.when(F.lit(float(plon)) < x_at, 1).otherwise(0),
        ).otherwise(0)
        flags = flags.withColumn(f"_c_{j}", cross_cnt)

    agg = flags.groupBy(*keys, "geom_type").agg(
        *[F.bool_and(f"_in_{i}").alias(f"_all_in_{i}") for i in range(len(geoms))],
        *[F.bool_or(f"_cross_{i}").alias(f"_any_cross_{i}") for i in range(len(geoms))],
        *[F.min(f"_d_{j}").alias(f"_dmin_{j}") for j in range(len(distance_points))],
        *[F.sum(f"_c_{j}").alias(f"_cx_{j}") for j in range(len(distance_points))],
    )
    verdicts = []
    for i, name in enumerate(out_cols):
        verdicts.append(
            F.when(F.col("geom_type") == "Point", F.col(f"_all_in_{i}"))
            .when(
                F.col("geom_type") == "LineString",
                F.col(f"_all_in_{i}") & ~F.col(f"_any_cross_{i}"),
            )
            .otherwise(F.lit(False))
            .alias(name)
        )
    dists = [
        F.when(
            (F.col("geom_type") == "Polygon") & (F.col(f"_cx_{j}") % 2 == 1),
            F.lit(0.0),
        )
        .otherwise(F.col(f"_dmin_{j}"))
        .alias(name)
        for j, name in enumerate(distance_cols)
    ]
    return agg.select(*keys, "geom_type", *verdicts, *dists)


def feature_within(
    vertex_df: DataFrame, geom: dict, keys: Sequence[str] = FEATURE_KEY
) -> DataFrame:
    """Reduce vertex rows to one ``within: boolean`` row per feature
    (single-polygon form of ``feature_within_multi``)."""
    return feature_within_multi(vertex_df, [geom], keys=keys, out_cols=["within"])

