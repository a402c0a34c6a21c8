"""Derived corpus views over the driver-provided parquet tables.

The driver's correctness gate runs each engine query in Spark AND its
oracle SQL in DuckDB against the same parquet files. Every derived
view below is written in dialect-neutral SQL (verified against both
engines) and is used **verbatim** on both sides — the Spark query
registers it with ``spark.sql``, the oracle embeds it as a CTE — so
any result divergence is attributable to the engine under test, not
the corpus definition.

All columns derive from integer arithmetic on stable keys (exact in
IEEE doubles on both engines); no RNG, no wall-clock.

 - ``images``: the graft corpus (BASELINE.json input_hint) — one row
   per image with deterministic lon/lat; 20% of rows resample into one
   city bounding box (hot-cell skew knob, SURVEY §2.3 G6).
 - ``landmarks``: small kNN right side (from supplier).
 - ``features``: MVT-model feature rows with typed columns mirroring
   the props the style fixtures filter on (from part).
 - ``polygons``: axis-aligned rectangles for point-in-polygon (from
   nation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BASE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
)

IMAGES_SQL = """
SELECT
  o_orderkey AS k,
  CONCAT('img_', LPAD(CAST(o_orderkey AS STRING), 8, '0')) AS image_id,
  CASE WHEN o_orderkey % 5 = 0
       THEN -122.52 + (CAST(o_orderkey * 48271 % 1000000 AS DOUBLE) / 1000000.0) * 0.25
       ELSE -180.0 + (CAST(o_orderkey * 48271 % 360000000 AS DOUBLE) / 1000000.0)
  END AS lon,
  CASE WHEN o_orderkey % 5 = 0
       THEN 37.70 + (CAST(o_orderkey * 69621 % 1000000 AS DOUBLE) / 1000000.0) * 0.12
       ELSE -85.0 + (CAST(o_orderkey * 69621 % 170000000 AS DOUBLE) / 1000000.0)
  END AS lat,
  CONCAT('a photo near landmark_', CAST(o_orderkey % 100 + 1 AS STRING)) AS caption,
  o_orderkey % 100 + 1 AS caption_landmark_id
FROM orders
"""

LANDMARKS_SQL = """
SELECT
  s_suppkey + 1 AS landmark_id,
  CONCAT('landmark_', CAST(s_suppkey + 1 AS STRING)) AS name,
  -180.0 + CAST((s_suppkey * 7919 + 13) % 360000 AS DOUBLE) / 1000.0 AS lon,
  -80.0 + CAST((s_suppkey * 104729 + 7) % 160000 AS DOUBLE) / 1000.0 AS lat
FROM supplier
"""

FEATURES_SQL = """
SELECT
  feature_id, z, x, y, layer,
  CASE WHEN feature_id % 31 = 0 THEN 'Unknown'
       WHEN layer IN ('poi_label', 'housenum_label') THEN 'Point'
       WHEN layer IN ('road', 'road_label') THEN
            (CASE WHEN feature_id % 9 = 0 THEN 'Polygon' ELSE 'LineString' END)
       ELSE 'Polygon' END AS geom_type,
  CASE WHEN layer = 'poi_label' THEN
       (CASE feature_id % 7 WHEN 0 THEN 'cafe' WHEN 1 THEN 'toilet'
             WHEN 2 THEN 'restaurant' WHEN 3 THEN 'park' WHEN 4 THEN 'bank'
             WHEN 5 THEN 'museum' ELSE 'school' END)
  END AS maki,
  CASE WHEN layer = 'road' THEN
       (CASE feature_id % 6 WHEN 0 THEN 'path' WHEN 1 THEN 'track'
             WHEN 2 THEN 'secondary_link' WHEN 3 THEN 'service'
             WHEN 4 THEN 'primary' ELSE 'street' END)
       WHEN layer = 'landuse' THEN
       (CASE feature_id % 5 WHEN 0 THEN 'park' WHEN 1 THEN 'school'
             WHEN 2 THEN 'wood' WHEN 3 THEN 'cemetery' ELSE 'grass' END)
  END AS class,
  CASE WHEN layer = 'road' THEN
       (CASE feature_id % 4 WHEN 0 THEN 'none' WHEN 1 THEN 'ford'
             WHEN 2 THEN 'bridge' ELSE 'tunnel' END)
  END AS structure,
  CASE WHEN layer = 'poi_label' THEN CAST(feature_id % 8 AS STRING)
  END AS filterrank,
  CASE WHEN layer IN ('road', 'road_label') THEN
       (CASE feature_id % 3 WHEN 0 THEN 'true' ELSE 'false' END)
  END AS oneway,
  CASE WHEN layer = 'building' THEN
       (CASE feature_id % 3 WHEN 0 THEN 'building:part' WHEN 1 THEN 'building'
             ELSE 'house' END)
       WHEN layer = 'road' THEN 'road'
  END AS type,
  CASE WHEN layer = 'building' THEN
       (CASE feature_id % 2 WHEN 0 THEN 'true' ELSE 'false' END)
  END AS underground
FROM (
  SELECT
    p_partkey AS feature_id,
    16 AS z,
    CAST(10460 + p_partkey % 4 AS BIGINT) AS x,
    CAST(25325 + p_partkey % 7 AS BIGINT) AS y,
    CASE WHEN p_partkey % 13 = 0 THEN 'road_label'
         WHEN p_partkey % 8 IN (0, 1) THEN 'road'
         WHEN p_partkey % 8 IN (2, 3) THEN 'poi_label'
         WHEN p_partkey % 8 = 4 THEN 'landuse'
         WHEN p_partkey % 8 = 5 THEN 'building'
         WHEN p_partkey % 8 = 6 THEN 'housenum_label'
         ELSE 'water' END AS layer
  FROM part
) base
"""

# One row per geometry VERTEX of each feature (the full-geometry
# ``within`` input shape — operators/within.py). Vertex counts follow
# the MVT geometry model (Point=1; LineString 2-5; 4-vertex rings for
# Polygon, emitted CLOSED — vertex 4 repeats vertex 0, the ClosePath
# convention within.py's lead() segments require so the v3->v0 edge
# participates in crossing parity and segment distance; 'Unknown'
# stays 4 open vertices, it never reaches geometry evaluation);
# positions are integer arithmetic on (feature_id, vertex_idx),
# exact in IEEE doubles on both engines. Features with feature_id%10=9
# take long diagonal strides around lat 37-39 so some LINES cross the
# geofence hole (or land inside it) — the boundary-crossing cases the
# full-geometry semantics exist for. The vertex-count fan-out joins
# nation (25 rows) as the dialect-neutral integer sequence.
VERTICES_SQL = """
SELECT
  f.feature_id, f.z, f.x, f.y, f.layer, f.geom_type,
  CAST(0 AS INT) AS path_idx,
  CAST(n.n_nationkey AS INT) AS vertex_idx,
  CASE WHEN f.feature_id % 10 = 9
       THEN -124.2 + CAST(f.feature_id * 48271 % 2400000 AS DOUBLE) / 1000000.0
            + CAST(CASE WHEN f.geom_type = 'Polygon' AND n.n_nationkey = 4
                        THEN 0 ELSE n.n_nationkey END AS DOUBLE) * 1.1
       ELSE -126.0 + CAST(f.feature_id * 48271 % 8000000 AS DOUBLE) / 1000000.0
            + CAST(CASE WHEN f.geom_type = 'Polygon' AND n.n_nationkey = 4
                        THEN 0 ELSE n.n_nationkey END AS DOUBLE) * 0.02
  END AS lon,
  CASE WHEN f.feature_id % 10 = 9
       THEN 36.6 + CAST(f.feature_id * 69621 % 2400000 AS DOUBLE) / 1000000.0
            + CAST(CASE WHEN f.geom_type = 'Polygon' AND n.n_nationkey = 4
                        THEN 0 ELSE n.n_nationkey END AS DOUBLE) * 0.05
       ELSE 30.5 + CAST(f.feature_id * 69621 % 14600000 AS DOUBLE) / 1000000.0
            + CAST(CASE WHEN f.geom_type = 'Polygon' AND n.n_nationkey = 4
                        THEN 0 ELSE n.n_nationkey END AS DOUBLE) * 0.015
  END AS lat
FROM features_v f
JOIN nation n
  ON n.n_nationkey < CASE WHEN f.geom_type = 'Point' THEN 1
                          WHEN f.geom_type = 'LineString' THEN 2 + f.feature_id % 4
                          WHEN f.geom_type = 'Polygon' THEN 5
                          ELSE 4 END
"""

# Video corpus for the frame-sampling pipeline: a "video" is a RAWI
# frame concatenation (operators/multimodal.py:generate_video_bytes);
# frame i's pixels are the integer closed-form gradient image at seed
# + i*997, so the oracle can replay any sampled frame's average-hash
# in SQL.
VIDEOS_SQL = """
SELECT
  o_orderkey AS k,
  CONCAT('vid_', LPAD(CAST(o_orderkey AS STRING), 8, '0')) AS video_id,
  CAST(4 + o_orderkey % 5 AS INT) AS n_frames,
  CAST(16 + o_orderkey % 13 AS INT) AS w,
  CAST(16 + (o_orderkey * 5) % 11 AS INT) AS h,
  CAST((o_orderkey * 48271) % 997 AS INT) AS seed
FROM orders
WHERE o_orderkey % 173 = 0
"""

# Audio-clip corpus for the WAV/feature pipeline: every synthesis
# parameter is integer arithmetic on the order key, and the waveform
# itself (operators/multimodal.py:generate_audio_bytes) is integer
# closed-form in (t, seed, channel, scale) — so a SQL oracle can
# regenerate every PCM sample exactly and recompute RMS/zero-cross/
# clip-ratio bit-identically in IEEE doubles. scale spans 1-4; 3-4
# push the +/-9998 raw range past int16 full scale (hard clipping).
AUDIO_CLIPS_SQL = """
SELECT
  o_orderkey AS k,
  CONCAT('clip_', LPAD(CAST(o_orderkey AS STRING), 8, '0')) AS clip_id,
  CAST(2000 + (o_orderkey * 13) % 2500 AS INT) AS n_samples,
  CAST(8000 + (o_orderkey % 3) * 4000 AS INT) AS sample_rate,
  CAST(1 + o_orderkey % 2 AS INT) AS n_channels,
  CAST((o_orderkey * 48271) % 7919 AS INT) AS seed,
  CAST(1 + o_orderkey % 4 AS INT) AS scale
FROM orders
WHERE o_orderkey % 211 = 0
"""

POLYGONS_SQL = """
SELECT
  n_nationkey + 1 AS polygon_id,
  CASE n_nationkey % 3 WHEN 0 THEN 'landuse' WHEN 1 THEN 'water'
       ELSE 'building' END AS layer,
  -180.0 + CAST((n_nationkey * 7321 + 11) % 320000 AS DOUBLE) / 1000.0 AS lon_min,
  -80.0 + CAST((n_nationkey * 3571 + 5) % 140000 AS DOUBLE) / 1000.0 AS lat_min,
  -180.0 + CAST((n_nationkey * 7321 + 11) % 320000 AS DOUBLE) / 1000.0 + 14.0 AS lon_max,
  -80.0 + CAST((n_nationkey * 3571 + 5) % 140000 AS DOUBLE) / 1000.0 + 10.0 AS lat_max
FROM nation
"""

DERIVED_VIEWS = {
    "images_v": IMAGES_SQL,
    "landmarks_v": LANDMARKS_SQL,
    "features_v": FEATURES_SQL,
    # vertices_v references features_v: keep it AFTER features_v (both
    # in Spark registration order and in the oracle's CTE order)
    "vertices_v": VERTICES_SQL,
    "polygons_v": POLYGONS_SQL,
    "audio_clips_v": AUDIO_CLIPS_SQL,
    "videos_v": VIDEOS_SQL,
}


def register_base(spark: SparkSession, sf_dir: str) -> None:
    for name in BASE_TABLES:
        spark.read.parquet(f"{sf_dir}/{name}.parquet").createOrReplaceTempView(name)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    register_base(spark, sf_dir)
    for name, sql in DERIVED_VIEWS.items():
        spark.sql(sql).createOrReplaceTempView(name)


def features_with_props(spark: SparkSession) -> DataFrame:
    """features_v plus the MVT-model ``props`` map built from the typed
    columns (null values omitted — GL absent-key semantics)."""
    df = spark.table("features_v")
    prop_cols = [
        "maki", "class", "structure", "filterrank", "oneway", "type",
        "underground",
    ]
    props = F.map_filter(
        F.map_from_arrays(
            F.array([F.lit(c) for c in prop_cols]),
            F.array([F.col(c) for c in prop_cols]),
        ),
        lambda _k, v: v.isNotNull(),
    )
    return df.withColumn("props", props)
