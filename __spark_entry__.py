"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs an engine operator (SURVEY.md §2) over
the derived corpus views (vtshaver_spark/sources/views.py — identical
SQL on the Spark and DuckDB sides), and ``oracle_sql()`` re-states the
expected result in portable SQL. EVERY query is oracled.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vtshaver_spark import Filters, style_to_filters
from vtshaver_spark.functions import geo
from vtshaver_spark.operators.knn import caption_landmark_join, knn_join_broadcast
from vtshaver_spark.operators.pip import pip_rect_join
from vtshaver_spark.operators.shave import shave, shave_with_metrics
from vtshaver_spark.sources.mvt import decode_tiles, encode_tiles_mvt
from vtshaver_spark.sources.views import (
    DERIVED_VIEWS,
    FEATURES_SQL,
    IMAGES_SQL,
    LANDMARKS_SQL,
    POLYGONS_SQL,
    features_with_props,
    register_views,
)

GEOM_OK = "geom_type IN ('Point', 'LineString', 'Polygon')"

# Donut geofence for the `within` driver query: outer box over the US
# west with a hole over the SF hot cell (exercises interior-ring
# even-odd semantics end-to-end).
GEOFENCE = {
    "type": "Polygon",
    "coordinates": [
        [[-130.0, 30.0], [-100.0, 30.0], [-100.0, 45.0], [-130.0, 45.0], [-130.0, 30.0]],
        [[-123.0, 37.0], [-122.0, 37.0], [-122.0, 38.5], [-123.0, 38.5], [-123.0, 37.0]],
    ],
}


def _within_parity_sql(polygon: dict, lon: str = "lon", lat: str = "lat") -> str:
    """Crossing-count parity (even-odd ray cast) for a literal GeoJSON
    polygon — the SQL mirror of functions/geo.point_in_polygon_col,
    generated from the SAME edge enumeration."""
    return geo.point_in_polygon_sql(polygon, lon=lon, lat=lat)


# ---------------------------------------------------------------------------
# Styles used by the shave queries
# ---------------------------------------------------------------------------

CAFE_STYLE = {
    "layers": [
        {
            "source-layer": "poi_label",
            "filter": ["==", "maki", "cafe"],
            "paint": {"icon-image": "{maki}"},
        }
    ]
}

NEGATION_STYLE = {
    "layers": [
        {"source-layer": "poi_label", "filter": ["!=", "maki", "cafe"]}
    ]
}

MEMBERSHIP_STYLE = {
    "layers": [
        {"source-layer": "road", "filter": ["in", "class", "track", "service", "primary"]},
        {"source-layer": "landuse", "filter": ["!in", "class", "park", "wood"]},
    ]
}

ZOOM_STYLE = {
    "layers": [
        {"source-layer": "poi_label", "minzoom": 14, "maxzoom": 22},
        {"source-layer": "housenum_label", "minzoom": 17},
        {"source-layer": "road", "minzoom": 0, "maxzoom": 15},
    ]
}

EXPRESSION_ROAD_STYLE = {
    "layers": [
        {
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

MATCH_LANDUSE_STYLE = {
    "layers": [
        {
            "source-layer": "landuse",
            "filter": [
                "match",
                ["get", "class"],
                ["airport", "cemetery", "hospital", "park", "pitch", "sand", "school"],
                True,
                False,
            ],
        }
    ]
}

PROJECTION_STYLE = {
    "layers": [
        {
            "source-layer": "road",
            "paint": {"a": "{type}", "b": "{structure}", "c": "{oneway}"},
        },
        {
            "source-layer": "poi_label",
            "paint": {"a": "{maki}", "b": "{filterrank}"},
        },
    ]
}


def _shave_query(style: dict, zoom: float, maxzoom, out_cols):
    """out_cols may be a list of Columns or a zero-arg callable
    returning one — the callable form defers Column construction so
    ``queries()`` itself never needs an active SparkContext."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        df = features_with_props(spark)
        filters = Filters(style_to_filters(style))
        cols = out_cols() if callable(out_cols) else out_cols
        return shave(df, filters, zoom=zoom, maxzoom=maxzoom).select(*cols)

    return run


def _oracle(body: str) -> str:
    """Wrap an oracle body with the derived views as CTEs (identical
    SQL text to what the Spark side registered)."""
    ctes = ",\n".join(f"{name} AS ({sql})" for name, sql in DERIVED_VIEWS.items())
    return f"WITH {ctes}\n{body}"


# ---------------------------------------------------------------------------
# Driver entry points
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: shave the derived feature corpus with the zoom-stepped
    road expression style and summarize survivors per tile."""
    register_views(spark, "/root/testdata/sf0.001")
    df = features_with_props(spark)
    filters = Filters(style_to_filters(EXPRESSION_ROAD_STYLE))
    shaved = shave(df, filters, zoom=16, maxzoom=16)
    return (
        shaved.groupBy("z", "x", "y", "layer")
        .agg(
            F.count(F.lit(1)).alias("feature_count"),
            F.countDistinct("class").alias("n_classes"),
        )
        .orderBy("z", "x", "y", "layer")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- shave pipeline (O1-O19) -----------------------------------------
    q["shave_cafe"] = _shave_query(
        CAFE_STYLE, 16, 16,
        lambda: [
            F.col("feature_id"),
            F.col("layer"),
            F.col("props")["maki"].alias("maki"),
        ],
    )
    q["shave_negation"] = _shave_query(
        NEGATION_STYLE, 16, 16,
        lambda: [F.col("feature_id"), F.col("maki")],
    )
    q["shave_membership"] = _shave_query(
        MEMBERSHIP_STYLE, 16, 16,
        lambda: [F.col("feature_id"), F.col("layer"), F.col("class")],
    )
    q["shave_zoom_overzoom"] = _shave_query(
        ZOOM_STYLE, 16, 16,
        lambda: [F.col("feature_id"), F.col("layer")],
    )
    q["shave_expression_roads"] = _shave_query(
        EXPRESSION_ROAD_STYLE, 16, 16,
        lambda: [F.col("feature_id"), F.col("class"), F.col("structure")],
    )
    q["shave_match_landuse"] = _shave_query(
        MATCH_LANDUSE_STYLE, 16, 16,
        lambda: [F.col("feature_id"), F.col("class")],
    )
    q["shave_property_projection"] = _shave_query(
        PROJECTION_STYLE, 16, 16,
        lambda: [
            F.col("feature_id"),
            F.col("layer"),
            F.array_join(F.array_sort(F.map_keys(F.col("props"))), ",").alias(
                "kept_keys"
            ),
        ],
    )

    def mvt_roundtrip(spark, sf_dir):
        # O10/O19 at the real wire format: encode the feature corpus
        # into MVT protobuf blobs per (z,x,y), decode back, and emit
        # the row census — the oracle is the identity SELECT, so any
        # codec asymmetry (key tables, value typing, id handling)
        # breaks the hash.
        register_views(spark, sf_dir)
        df = features_with_props(spark).select(
            "z", "x", "y", "layer", "feature_id", "geom_type", "props"
        )
        tiles = encode_tiles_mvt(df)
        rows = decode_tiles(tiles)
        return rows.select(
            "z",
            "x",
            "y",
            "feature_id",
            "layer",
            "geom_type",
            F.array_join(F.array_sort(F.map_keys("props")), ",").alias("prop_keys"),
            F.col("props")["maki"].alias("maki"),
        )

    q["mvt_roundtrip"] = mvt_roundtrip

    def shave_metrics(spark, sf_dir):
        # O22 metrics contract: per-tile before/after feature counts
        # and property bytes from ONE conditional aggregation
        register_views(spark, sf_dir)
        df = features_with_props(spark)
        filters = Filters(style_to_filters(CAFE_STYLE))
        _, metrics = shave_with_metrics(df, filters, zoom=16, maxzoom=16)
        return metrics.select(
            "z", "x", "y",
            "features_before", "features_after",
            "prop_bytes_before", "prop_bytes_after",
        )

    q["shave_metrics"] = shave_metrics

    def within_geofence(spark, sf_dir):
        # GL ["within", GeoJSON] over the image corpus — a donut
        # polygon so interior-ring (hole) semantics are driver-checked
        register_views(spark, sf_dir)
        from vtshaver_spark.functions.expr import FilterContext, filter_to_column

        imgs = spark.table("images_v")
        ctx = FilterContext(
            props="props", geom_type="geom_type", feature_id="k", zoom=10.0
        )
        pred = filter_to_column(["within", GEOFENCE], ctx)
        return imgs.filter(pred).select("image_id", "lon", "lat")

    q["within_geofence"] = within_geofence

    def within_full_geometry(spark, sf_dir):
        # FULL-geometry GL ["within"] (mbgl semantics the reference
        # inherits through src/filters.cpp:108-121): every vertex of
        # the feature must be inside the donut geofence AND, for
        # LineStrings, no segment may properly cross a boundary edge
        # (clipping the hole's corner disqualifies a line whose
        # vertices are all inside). Polygon/Unknown features are never
        # within (GL spec scopes the op to point/line layers). Runs on
        # the per-vertex view with codegen flag columns + ONE keyed
        # shuffle (operators/within.py).
        from vtshaver_spark.operators.within import feature_within

        register_views(spark, sf_dir)
        verts = spark.table("vertices_v")
        return feature_within(
            verts, GEOFENCE, keys=("feature_id", "layer")
        ).select("feature_id", "layer", "geom_type", "within")

    q["within_full_geometry"] = within_full_geometry

    def shave_within_style(spark, sf_dir):
        # style-filter ["within"] routed through FULL-geometry
        # evaluation: shave(vertex_df=...) computes per-feature
        # verdicts over the vertex table (one window+agg pass, one
        # equi-join) and the compiled filter binds them in place of
        # the row-level point form — so a user shaving a LineString
        # layer through the normal shave() API gets mbgl whole-
        # geometry semantics (/root/reference/src/filters.cpp:108-121),
        # not vertex-collapsed point semantics.
        register_views(spark, sf_dir)
        style = {
            "layers": [{"source-layer": "road", "filter": ["within", GEOFENCE]}]
        }
        out = shave(
            features_with_props(spark),
            Filters(style_to_filters(style)),
            zoom=16,
            maxzoom=16,
            vertex_df=spark.table("vertices_v"),
        )
        return out.select("feature_id", "layer", "geom_type")

    q["shave_within_style"] = shave_within_style

    def shave_distance_style(spark, sf_dir):
        # style-filter ["distance"] routed through FULL-geometry
        # evaluation: per-feature MIN geometry distance — vertex
        # haversine AND point-to-segment interior distance (mbgl
        # measures true geometry distance, segment interiors included)
        # — computed in the same one-pass vertex aggregation as within
        # verdicts and joined once. The road layer's LineStrings make
        # the segment term load-bearing: a segment passing nearer than
        # any of its endpoints must still satisfy ``distance < r``.
        register_views(spark, sf_dir)
        pt = ["distance", {"type": "Point", "coordinates": [-122.0, 38.0]}]
        style = {
            "layers": [
                {"source-layer": "poi_label", "filter": ["<", pt, 600000]},
                # 20 km: at sf0.01 several road LineStrings pass within
                # 20 km ONLY through a segment interior (closest vertex
                # beyond it), so this radius discriminates the exact
                # formula from the old vertex-min upper bound
                {"source-layer": "road", "filter": ["<", pt, 20000]},
            ]
        }
        out = shave(
            features_with_props(spark),
            Filters(style_to_filters(style)),
            zoom=16,
            maxzoom=16,
            vertex_df=spark.table("vertices_v"),
        )
        return out.select("feature_id", "layer", "geom_type")

    q["shave_distance_style"] = shave_distance_style

    # --- tiling / cells (G1, G2, G7) -------------------------------------
    def tile_counts(spark, sf_dir):
        register_views(spark, sf_dir)
        df = geo.with_tile(spark.table("images_v"), z=7)
        return df.groupBy("z", "x", "y").agg(
            F.count(F.lit(1)).alias("n_images"),
            F.countDistinct("caption_landmark_id").alias("n_landmarks"),
        )

    q["tile_counts_z7"] = tile_counts

    def tile_cells(spark, sf_dir):
        # per-image tile ASSIGNMENT (pure Column web-mercator x/y — the
        # former tile_assign_z5 cell, folded in r5) plus the packed
        # cell id and quadkey derived from it
        register_views(spark, sf_dir)
        df = geo.with_tile(spark.table("images_v"), z=6)
        return df.select(
            "image_id",
            "x",
            "y",
            geo.tile_cell("z", "x", "y").alias("cell"),
            geo.quadkey(6, "x", "y").alias("qk"),
        )

    q["tile_cell_ids"] = tile_cells

    def tile_pyramid(spark, sf_dir):
        # hierarchical rollup: ONE scan + base hash agg at z7, then a
        # cascade where each coarser level (z6..z4) aggregates the
        # PREVIOUS level's output (parent = x>>1, y>>1) — geometric
        # shrink, never a re-scan
        register_views(spark, sf_dir)
        return geo.tile_pyramid(spark.table("images_v"), z_base=7, z_min=4)

    q["tile_pyramid"] = tile_pyramid

    # --- spatial joins (G3, G4) ------------------------------------------
    def knn(spark, sf_dir):
        register_views(spark, sf_dir)
        pts = spark.table("images_v").filter(F.col("k") % 97 == 0)
        lms = spark.table("landmarks_v")
        out = knn_join_broadcast(pts, lms, k=3)
        return out.select(
            "image_id",
            "rank",
            "landmark_id",
            F.round(F.col("dist"), 9).alias("dist2"),
        )

    q["knn_landmarks_k3"] = knn

    def pip(spark, sf_dir):
        register_views(spark, sf_dir)
        pts = spark.table("images_v").filter(F.col("k") % 23 == 0)
        return pip_rect_join(pts, spark.table("polygons_v")).select(
            "image_id", "polygon_id"
        )

    q["pip_rect"] = pip

    def pip_poly(spark, sf_dir):
        # GENERAL-polygon PIP with the pip_rect physical shape (packed
        # single-long cell key -> BroadcastHashJoin, closed-bbox
        # residual, exact even-odd Arrow verify) — the polygon side is
        # a DataFrame end-to-end, no driver list. Polygons are CONCAVE
        # chevron quads derived from nation keys by integer
        # closed-forms, so the oracle replays each polygon as an
        # unrolled literal ray-cast with the same operation order; the
        # notch makes bbox-hit-but-outside a live case.
        from vtshaver_spark.operators.pip import pip_cell_join

        register_views(spark, sf_dir)
        key = F.col("n_nationkey").cast("long")
        cx = F.lit(-170.0) + (key * 7919 % 3200).cast("double") / 10.0
        cy = F.lit(-75.0) + (key * 4271 % 1300).cast("double") / 10.0
        w = F.lit(6.0) + (key * 131 % 70).cast("double") / 10.0
        h = F.lit(8.0) + (key * 173 % 90).cast("double") / 10.0
        ring = F.array(
            F.array(cx, cy),
            F.array(cx + w, cy + h),
            F.array(cx + F.lit(2.0) * w, cy),
            F.array(cx + w, cy + F.lit(0.4) * h),
            F.array(cx, cy),
        )
        polys = spark.table("nation").select(
            (key + 1).alias("polygon_id"), F.array(ring).alias("rings")
        )
        pts = spark.table("images_v").filter(F.col("k") % 7 == 0)
        out = pip_cell_join(pts, polys, cell_zoom=4)
        return out.select("image_id", "polygon_id")

    q["pip_poly"] = pip_poly

    def caption_join(spark, sf_dir):
        register_views(spark, sf_dir)
        imgs = spark.table("images_v").filter(F.col("k") % 53 == 0)
        # caption is carried through to the output so the oracle hash
        # proves per-row CAPTION EQUALITY (the BASELINE.json invariant),
        # not just join cardinality
        return caption_landmark_join(imgs, spark.table("landmarks_v")).select(
            "image_id", "caption", "landmark_id"
        )

    q["caption_landmark_join"] = caption_join

    def multimodal_meta(spark, sf_dir):
        # G9/multimodal plumbing end-to-end: deterministic RAWI bytes
        # generated per image, decoded back, typed metadata emitted.
        # The oracle recomputes w/h from the generator's byte formula
        # and pins phash integrity (encode->decode->rehash equality).
        from vtshaver_spark.operators.multimodal import (
            decode_features,
            generate_image_bytes,
        )

        register_views(spark, sf_dir)
        imgs = spark.table("images_v").filter(F.col("k") % 101 == 0).select(
            "image_id"
        )
        dec = decode_features(generate_image_bytes(imgs))
        return dec.select(
            "image_id", "w", "h", "fmt",
            (F.col("phash") == F.col("phash_check")).alias("phash_ok"),
        )

    q["multimodal_meta"] = multimodal_meta

    def audio_stats(spark, sf_dir):
        # Audio modality end-to-end: synthesize WAV blobs (integer
        # closed-form waveform, operators/multimodal.py:
        # generate_audio_bytes), decode with the native RIFF/PCM codec
        # and emit typed features. Every metric is exact in IEEE
        # doubles (integer samples, exactly-representable partial
        # sums), so the oracle regenerates the PCM in SQL and matches
        # bit-for-bit — no tolerance, no rounding.
        from vtshaver_spark.operators.multimodal import (
            audio_features,
            generate_audio_bytes,
        )

        register_views(spark, sf_dir)
        clips = spark.table("audio_clips_v")
        blobs = generate_audio_bytes(clips).select("clip_id", "audio_bytes")
        return audio_features(blobs).select(
            "clip_id", "sample_rate", "n_channels", "n_samples",
            "duration_s", "rms", "zero_cross_rate", "clip_ratio",
        )

    q["audio_stats"] = audio_stats

    def video_frame_phash(spark, sf_dir):
        # Video modality end-to-end: RAWI-concatenation containers
        # (generate_video_bytes) -> frame_sample demux (every 2nd
        # frame) -> decode + per-frame average-hash. The oracle
        # replays each sampled frame's 8x8 average-hash closed-form in
        # SQL (per-frame seed seed + idx*997).
        from vtshaver_spark.operators.multimodal import (
            decode_features,
            frame_sample,
            generate_video_bytes,
        )

        register_views(spark, sf_dir)
        vids = spark.table("videos_v")
        frames = frame_sample(
            generate_video_bytes(vids).select("video_id", "video_bytes"),
            every_n=2,
        )
        return decode_features(frames).select(
            "video_id", "frame_idx",
            F.col("phash_check").alias("frame_phash"),
        )

    q["video_frame_phash"] = video_frame_phash

    def events_window_rollup(spark, sf_dir):
        # temporal tumbling-window rollup over the event stream table,
        # with per-window distincts and a JSON-ish property extraction
        # kept JVM-side (regexp, no UDF)
        register_views(spark, sf_dir)
        e = spark.table("events")
        k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("int")
        return (
            e.withColumn("_k", k)
            .groupBy(
                F.window("ts", "1 hour").getField("start").alias("wstart"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.round(F.sum("value"), 6).alias("sum_value"),
                F.sum("_k").alias("sum_k"),
            )
        )

    q["events_window_rollup"] = events_window_rollup

    def region_revenue(spark, sf_dir):
        # general relational layer: 5-way star join (broadcast dims) +
        # decimal-exact revenue rollup per region. Written with the
        # DataFrame API (not spark.sql) so the oracle is an independent
        # restatement, and revenue is summed as DECIMAL(18,2) so the
        # aggregate is associativity-exact across engines.
        register_views(spark, sf_dir)
        li = spark.table("lineitem")
        orders = spark.table("orders")
        cust = spark.table("customer")
        nation = spark.table("nation")
        region = spark.table("region")
        # decimal-exact money math: casting the operands FIRST makes
        # the multiply/sum associativity-free; a double-side round()
        # diverges between engines on .xx5 boundary representations
        rev = (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)"))
        )
        return (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy(F.col("r_name").alias("region_name"))
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                # canonical STRING rendering of the exact decimal: both
                # Spark and DuckDB print DECIMAL(38,6) with the full
                # 6-digit scale, so the driver's value hasher sees
                # identical bytes (r2: hash diverged on Decimal objects)
                F.sum(rev).cast("decimal(38,6)").cast("string").alias("revenue"),
            )
        )

    q["region_revenue"] = region_revenue

    def shave_summary(spark, sf_dir):
        # tile_layer_summary: the row-set census form the reference's
        # tests assert on (layer names + feature counts + property key
        # sets per tile)
        from vtshaver_spark.operators.shave import tile_layer_summary

        register_views(spark, sf_dir)
        df = features_with_props(spark)
        filters = Filters(style_to_filters(PROJECTION_STYLE))
        out = tile_layer_summary(shave(df, filters, zoom=16, maxzoom=16))
        return out.select(
            "z", "x", "y", "layer", "feature_count",
            F.array_join("property_keys", ",").alias("keys_csv"),
        )

    q["shave_summary"] = shave_summary

    # Board-order discipline (r5): the r4 driver board recorded exactly
    # the FIRST 50 registered queries and silently dropped the 51st, so
    # (a) the registry is held at <= 50 entries, and (b) the most
    # recently new/changed queries are registered FIRST so any future
    # truncation hits long-proven cells, visibly checkable via
    # `python tools/check_oracle.py --assert-board CORRECTNESS_rN.json`.
    early = ["pip_poly", "shave_distance_style", "tile_cell_ids"]
    q = {n: q[n] for n in early} | {
        n: fn for n, fn in q.items() if n not in early
    }
    assert len(q) <= 50, f"registry holds {len(q)} queries; driver board caps at 50"
    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["shave_cafe"] = _oracle(f"""
SELECT feature_id, layer, maki
FROM features_v
WHERE layer = 'poi_label' AND maki = 'cafe' AND {GEOM_OK}
""")

    o["shave_negation"] = _oracle(f"""
SELECT feature_id, maki
FROM features_v
WHERE layer = 'poi_label' AND {GEOM_OK}
  AND (maki IS NULL OR maki <> 'cafe')
""")

    o["shave_membership"] = _oracle(f"""
SELECT feature_id, layer, class
FROM features_v
WHERE {GEOM_OK} AND (
      (layer = 'road' AND class IN ('track', 'service', 'primary'))
   OR (layer = 'landuse' AND (class IS NULL OR class NOT IN ('park', 'wood')))
)
""")

    o["shave_zoom_overzoom"] = _oracle(f"""
SELECT feature_id, layer
FROM features_v
WHERE layer IN ('poi_label', 'housenum_label') AND {GEOM_OK}
""")

    o["shave_expression_roads"] = _oracle(f"""
SELECT feature_id, class, structure
FROM features_v
WHERE layer = 'road' AND geom_type = 'LineString'
  AND class IN ('track', 'secondary_link', 'tertiary_link', 'service')
  AND structure IN ('none', 'ford')
""")

    o["shave_match_landuse"] = _oracle(f"""
SELECT feature_id, class
FROM features_v
WHERE layer = 'landuse' AND {GEOM_OK}
  AND class IN ('airport', 'cemetery', 'hospital', 'park', 'pitch', 'sand', 'school')
""")

    o["shave_property_projection"] = _oracle(f"""
SELECT feature_id, layer,
  CASE WHEN layer = 'road' THEN CONCAT_WS(',',
         CASE WHEN oneway IS NOT NULL THEN 'oneway' END,
         CASE WHEN structure IS NOT NULL THEN 'structure' END,
         CASE WHEN type IS NOT NULL THEN 'type' END)
       ELSE CONCAT_WS(',',
         CASE WHEN filterrank IS NOT NULL THEN 'filterrank' END,
         CASE WHEN maki IS NOT NULL THEN 'maki' END)
  END AS kept_keys
FROM features_v
WHERE layer IN ('road', 'poi_label') AND {GEOM_OK}
""")

    prop_cols = [
        "class", "filterrank", "maki", "oneway", "structure", "type",
        "underground",
    ]
    keys_expr = "concat_ws(',', " + ", ".join(
        f"CASE WHEN {c} IS NOT NULL THEN '{c}' END" for c in prop_cols
    ) + ")"
    o["mvt_roundtrip"] = _oracle(f"""
SELECT z, x, y, feature_id, layer, geom_type,
       {keys_expr} AS prop_keys, maki
FROM features_v
""")

    # CAFE_STYLE: keep = poi_label & maki='cafe' & real geometry; the
    # property allowlist is [maki]. Byte accounting mirrors prop_bytes
    # (sum of key+value lengths of retained properties).
    _pcols = {
        "class": 5, "filterrank": 10, "maki": 4, "oneway": 6,
        "structure": 9, "type": 4, "underground": 11,
    }
    before_bytes = " + ".join(
        f"CASE WHEN {c} IS NOT NULL THEN {kl} + length({c}) ELSE 0 END"
        for c, kl in _pcols.items()
    )
    o["shave_metrics"] = _oracle(f"""
SELECT z, x, y,
       COUNT(*) AS features_before,
       CAST(SUM(CASE WHEN layer = 'poi_label' AND maki = 'cafe' AND {GEOM_OK}
                     THEN 1 ELSE 0 END) AS BIGINT) AS features_after,
       CAST(SUM({before_bytes}) AS BIGINT) AS prop_bytes_before,
       CAST(SUM(CASE WHEN layer = 'poi_label' AND maki = 'cafe' AND {GEOM_OK}
                     THEN 4 + length(maki) ELSE 0 END) AS BIGINT) AS prop_bytes_after
FROM features_v
GROUP BY z, x, y
""")

    o["within_geofence"] = _oracle(f"""
SELECT image_id, lon, lat
FROM images_v
WHERE lon IS NOT NULL AND lat IS NOT NULL AND ({_within_parity_sql(GEOFENCE)})
""")

    inside_sql = geo.point_in_polygon_sql(GEOFENCE, lon="lon", lat="lat")
    cross_sql = geo.segment_crosses_sql(GEOFENCE, "lon", "lat", "nlon", "nlat")
    o["within_full_geometry"] = _oracle(f"""
, sv AS (
  SELECT feature_id, layer, geom_type, lon, lat,
         CASE WHEN {inside_sql} THEN 1 ELSE 0 END AS inside,
         lead(lon) OVER w AS nlon,
         lead(lat) OVER w AS nlat,
         lead(path_idx) OVER w AS npath,
         path_idx
  FROM vertices_v
  WINDOW w AS (PARTITION BY feature_id ORDER BY path_idx, vertex_idx)
),
ag AS (
  SELECT feature_id, layer, geom_type,
         MIN(inside) AS all_in,
         MAX(CASE WHEN nlon IS NOT NULL AND npath = path_idx
                       AND {cross_sql}
                  THEN 1 ELSE 0 END) AS any_cross
  FROM sv GROUP BY 1, 2, 3
)
SELECT feature_id, layer, geom_type,
       CASE WHEN geom_type = 'Point' THEN all_in = 1
            WHEN geom_type = 'LineString' THEN all_in = 1 AND any_cross = 0
            ELSE FALSE END AS within
FROM ag
""")

    # shave() with a style whose filter is ["within", GEOFENCE], routed
    # through the full-geometry path: road features (zoom gate passes at
    # 16) whose WHOLE geometry is within — same verdict CTE as
    # within_full_geometry, semi-joined against the feature rows
    o["shave_within_style"] = _oracle(f"""
, sv AS (
  SELECT feature_id, layer, geom_type, lon, lat,
         CASE WHEN {inside_sql} THEN 1 ELSE 0 END AS inside,
         lead(lon) OVER w AS nlon,
         lead(lat) OVER w AS nlat,
         lead(path_idx) OVER w AS npath,
         path_idx
  FROM vertices_v
  WINDOW w AS (PARTITION BY feature_id ORDER BY path_idx, vertex_idx)
),
ag AS (
  SELECT feature_id, layer, geom_type,
         MIN(inside) AS all_in,
         MAX(CASE WHEN nlon IS NOT NULL AND npath = path_idx
                       AND {cross_sql}
                  THEN 1 ELSE 0 END) AS any_cross
  FROM sv GROUP BY 1, 2, 3
)
SELECT f.feature_id, f.layer, f.geom_type
FROM features_v f
JOIN ag ON ag.feature_id = f.feature_id AND ag.layer = f.layer
WHERE f.layer = 'road'
  AND f.geom_type IN ('Point', 'LineString', 'Polygon')
  AND (CASE WHEN f.geom_type = 'Point' THEN ag.all_in = 1
            WHEN f.geom_type = 'LineString' THEN ag.all_in = 1 AND ag.any_cross = 0
            ELSE FALSE END)
""")

    # shave() with a style filter ["<", ["distance", Point], r] routed
    # through the full-geometry path: per-feature MIN over per-row
    # min(vertex haversine, point-to-SEGMENT distance) — bit-identical
    # formulas on both engines via haversine_m_sql /
    # point_segment_distance_m_sql; the segment term is gated exactly
    # like the Spark side (a next vertex exists on the same path).
    hav = geo.haversine_m_sql("lon", "lat", -122.0, 38.0)
    segd = geo.point_segment_distance_m_sql(
        "lon", "lat", "nlon", "nlat", -122.0, 38.0
    )
    # the crossing count mirrors within.feature_within_multi's Column
    # form: division nested under the non-horizontal gate (a CASE
    # branch on both engines), even-odd across all paths
    cross = (
        "CASE WHEN nlon IS NOT NULL AND npath = path_idx AND lat <> nlat"
        " AND ((lat > 38.0) <> (nlat > 38.0))"
        " THEN CASE WHEN -122.0 < (38.0 - lat) * ((nlon - lon) / (nlat - lat)) + lon"
        " THEN 1 ELSE 0 END ELSE 0 END"
    )
    o["shave_distance_style"] = _oracle(f"""
, sv AS (
  SELECT feature_id, layer, geom_type, lon, lat,
         lead(lon) OVER w AS nlon,
         lead(lat) OVER w AS nlat,
         lead(path_idx) OVER w AS npath,
         path_idx
  FROM vertices_v
  WINDOW w AS (PARTITION BY feature_id ORDER BY path_idx, vertex_idx)
),
dv AS (
  SELECT feature_id, layer, geom_type,
         MIN(CASE WHEN nlon IS NOT NULL AND npath = path_idx
                       AND {segd} < {hav}
                  THEN {segd} ELSE {hav} END) AS dmin,
         SUM({cross}) AS ncross
  FROM sv GROUP BY 1, 2, 3
),
de AS (
  SELECT feature_id, layer,
         CASE WHEN geom_type = 'Polygon' AND ncross % 2 = 1
              THEN 0.0 ELSE dmin END AS deff
  FROM dv
)
SELECT f.feature_id, f.layer, f.geom_type
FROM features_v f
JOIN de ON de.feature_id = f.feature_id AND de.layer = f.layer
WHERE f.geom_type IN ('Point', 'LineString', 'Polygon')
  AND ((f.layer = 'poi_label' AND de.deff < 600000)
       OR (f.layer = 'road' AND de.deff < 20000))
""")

    tx7 = geo.tile_x_sql("lon", 7)
    ty7 = geo.tile_y_sql("lat", 7)
    o["tile_counts_z7"] = _oracle(f"""
SELECT CAST(7 AS INT) AS z, {tx7} AS x, {ty7} AS y,
       COUNT(*) AS n_images,
       COUNT(DISTINCT caption_landmark_id) AS n_landmarks
FROM images_v
GROUP BY 1, 2, 3
""")

    # Pyramid oracle mirrors the cascade: base group-by at z7, each
    # coarser level aggregates the previous CTE via integer halving.
    # SUM is cast back to BIGINT per level (DuckDB SUM(BIGINT) returns
    # HUGEINT, which pandas-style fetches render as float).
    o["tile_pyramid"] = _oracle(f"""
, base AS (
  SELECT {tx7} AS x, {ty7} AS y, COUNT(*) AS n_points
  FROM images_v GROUP BY 1, 2
),
l6 AS (
  SELECT x // 2 AS x, y // 2 AS y, CAST(SUM(n_points) AS BIGINT) AS n_points
  FROM base GROUP BY 1, 2
),
l5 AS (
  SELECT x // 2 AS x, y // 2 AS y, CAST(SUM(n_points) AS BIGINT) AS n_points
  FROM l6 GROUP BY 1, 2
),
l4 AS (
  SELECT x // 2 AS x, y // 2 AS y, CAST(SUM(n_points) AS BIGINT) AS n_points
  FROM l5 GROUP BY 1, 2
)
SELECT CAST(7 AS INT) AS z, x, y, n_points FROM base
UNION ALL SELECT CAST(6 AS INT), x, y, n_points FROM l6
UNION ALL SELECT CAST(5 AS INT), x, y, n_points FROM l5
UNION ALL SELECT CAST(4 AS INT), x, y, n_points FROM l4
""")

    tx6 = geo.tile_x_sql("lon", 6)
    ty6 = geo.tile_y_sql("lat", 6)
    qk_terms = " + ".join(
        f"(((x >> {i}) & 1) + 2 * ((y >> {i}) & 1)) * {1 << (2 * i)}"
        for i in range(6)
    )
    o["tile_cell_ids"] = _oracle(f"""
SELECT image_id, x, y,
       CAST(6 AS BIGINT) * {1 << 58} + x * {1 << 29} + y AS cell,
       CAST({qk_terms} AS BIGINT) AS qk
FROM (SELECT image_id, {tx6} AS x, {ty6} AS y FROM images_v) t
""")

    o["knn_landmarks_k3"] = _oracle("""
SELECT image_id, rank, landmark_id, ROUND(dist2, 9) AS dist2
FROM (
  SELECT i.image_id, l.landmark_id,
         (i.lon - l.lon) * (i.lon - l.lon) + (i.lat - l.lat) * (i.lat - l.lat) AS dist2,
         ROW_NUMBER() OVER (
           PARTITION BY i.image_id
           ORDER BY (i.lon - l.lon) * (i.lon - l.lon) + (i.lat - l.lat) * (i.lat - l.lat) ASC,
                    l.landmark_id ASC
         ) AS rank
  FROM (SELECT * FROM images_v WHERE k % 97 = 0) i
  CROSS JOIN landmarks_v l
) ranked
WHERE rank <= 3
""")

    o["pip_rect"] = _oracle("""
SELECT i.image_id, p.polygon_id
FROM (SELECT * FROM images_v WHERE k % 23 = 0) i
JOIN polygons_v p
  ON i.lon >= p.lon_min AND i.lon < p.lon_max
 AND i.lat >= p.lat_min AND i.lat < p.lat_max
""")

    # pip_poly oracle: the 25 chevrons are integer closed-forms of the
    # nation key (computed HERE by the same Python arithmetic the Spark
    # query expresses as Column math — identical doubles), each
    # replayed as an unrolled literal even-odd ray-cast with the same
    # operation order as the verify kernel (_ray_cast_parity).
    def _chevron(k: int) -> dict:
        cx = -170.0 + (k * 7919 % 3200) / 10.0
        cy = -75.0 + (k * 4271 % 1300) / 10.0
        w = 6.0 + (k * 131 % 70) / 10.0
        h = 8.0 + (k * 173 % 90) / 10.0
        return {
            "type": "Polygon",
            "coordinates": [[
                [cx, cy], [cx + w, cy + h], [cx + 2.0 * w, cy],
                [cx + w, cy + 0.4 * h], [cx, cy],
            ]],
        }

    pip_branches = "\nUNION ALL\n".join(
        f"SELECT image_id, CAST({k + 1} AS BIGINT) AS polygon_id FROM pts WHERE "
        + geo.point_in_polygon_sql(_chevron(k), lon="lon", lat="lat")
        for k in range(25)
    )
    o["pip_poly"] = _oracle(f"""
, pts AS (SELECT image_id, lon, lat FROM images_v WHERE k % 7 = 0)
{pip_branches}
""")

    o["caption_landmark_join"] = _oracle("""
SELECT i.image_id, i.caption, l.landmark_id
FROM (SELECT * FROM images_v WHERE k % 53 = 0) i
JOIN landmarks_v l ON l.landmark_id = i.caption_landmark_id
""")

    # Video frame-phash oracle: enumerate the sampled (even) frame
    # indices per video, then replay the engine's 64-bit average-hash
    # (operators/multimodal.py _phash64) for each frame's gradient
    # pixels (per-frame seed = seed + idx*997). Every pixel is integer
    # arithmetic on (seed, w, h), and each step is exact in both
    # engines:
    #  - luma uint8 truncation == (base+grad+noise) // 3 (float64
    #    mean of 3 uint8s cannot round across an integer boundary);
    #  - 8x8 nearest downsample picks source pixel (i*h//8, j*w//8);
    #  - bit threshold  sample >= mean(64 samples)  ==  lum*64 >= sum.
    # Bit-pack via 32-bit halves (DuckDB SUM is HUGEINT; the hi-half
    # sign fold reproduces numpy's int64 wraparound).
    o["video_frame_phash"] = _oracle("""
, vfr AS (
  SELECT v.video_id, v.w, v.h,
         v.seed + CAST(n.n_nationkey AS INT) * 997 AS fseed,
         CAST(n.n_nationkey AS INT) AS frame_idx
  FROM videos_v v
  JOIN nation n ON n.n_nationkey < v.n_frames AND n.n_nationkey % 2 = 0
),
vgrid AS (SELECT CAST(n_nationkey AS BIGINT) AS i FROM nation WHERE n_nationkey < 8),
vsamp AS (
  SELECT f.video_id, f.frame_idx, gy.i * 8 + gx.i AS idx,
         ( ((gx.i * f.w // 8) * 255 // (f.w - 1))
         + ((gy.i * f.h // 8) * 255 // (f.h - 1))
         + (((gx.i * f.w // 8) * 131 + (gy.i * f.h // 8) * 197 + f.fseed) % 251)
         ) // 3 AS lum
  FROM vfr f CROSS JOIN vgrid gy CROSS JOIN vgrid gx
),
vbits AS (
  SELECT video_id, frame_idx, idx,
         CASE WHEN lum * 64 >= SUM(lum) OVER (PARTITION BY video_id, frame_idx)
              THEN 1 ELSE 0 END AS bit
  FROM vsamp
),
vhalves AS (
  SELECT video_id, frame_idx,
         SUM(CASE WHEN bit = 1 AND idx < 32 THEN CAST(1 AS BIGINT) << idx ELSE 0 END) AS lo,
         SUM(CASE WHEN bit = 1 AND idx >= 32 THEN CAST(1 AS BIGINT) << (idx - 32) ELSE 0 END) AS hi
  FROM vbits GROUP BY video_id, frame_idx
)
SELECT video_id, frame_idx,
       CAST(CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
                 ELSE hi * 4294967296 + lo END AS BIGINT) AS frame_phash
FROM vhalves
""")

    # Audio-feature oracle: regenerate every PCM sample from the
    # integer closed-form (multimodal.py:generate_audio_bytes), then
    # recompute RMS / zero-cross / clip-ratio. All sums are over
    # exactly-representable doubles (integer samples; quarter-unit
    # granularity after the 2-channel mean; totals < 2^53), so
    # summation order is irrelevant and Spark's numpy path matches
    # bit-for-bit. Integer SUMs are cast (DuckDB HUGEINT renders as
    # float64 via pandas fetches).
    o["audio_stats"] = _oracle("""
, asm AS (
  SELECT a.clip_id, a.n_samples, a.n_channels, r.t, ch.c,
         LEAST(GREATEST(((r.t * 48271 + a.seed + ch.c * 1013) % 19997 - 9998)
                        * a.scale, -32768), 32767) AS v
  FROM audio_clips_v a
  JOIN range(0, 4500) r(t) ON r.t < a.n_samples
  JOIN (VALUES (0), (1)) ch(c) ON ch.c < a.n_channels
),
amono AS (
  SELECT clip_id, t, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
  FROM asm GROUP BY clip_id, t
),
azc AS (
  SELECT clip_id, m,
         CASE WHEN (m < 0) <> (LAG(m) OVER (PARTITION BY clip_id ORDER BY t) < 0)
              THEN 1 ELSE 0 END AS z
  FROM amono
),
aagg AS (
  SELECT clip_id,
         SQRT(SUM(m * m) / COUNT(*)) AS rms,
         CAST(SUM(z) AS DOUBLE) AS zsum
  FROM azc GROUP BY clip_id
),
aclip AS (
  SELECT clip_id,
         CAST(SUM(CASE WHEN ABS(v) >= 32767 THEN 1 ELSE 0 END) AS DOUBLE) AS nclip,
         CAST(COUNT(*) AS DOUBLE) AS ntot
  FROM asm GROUP BY clip_id
)
SELECT a.clip_id,
       a.sample_rate,
       a.n_channels,
       CAST(a.n_samples AS BIGINT) AS n_samples,
       CAST(a.n_samples AS DOUBLE) / a.sample_rate AS duration_s,
       g.rms,
       g.zsum / (a.n_samples - 1) AS zero_cross_rate,
       c.nclip / c.ntot AS clip_ratio
FROM audio_clips_v a
JOIN aagg g USING (clip_id)
JOIN aclip c USING (clip_id)
""")

    o["region_revenue"] = """
SELECT r_name AS region_name,
       COUNT(*) AS n_items,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DECIMAL(38,6)) AS VARCHAR) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""

    o["shave_summary"] = _oracle(f"""
SELECT z, x, y, layer, COUNT(*) AS feature_count,
  CASE WHEN layer = 'road' THEN concat_ws(',',
    CASE WHEN MAX(CASE WHEN oneway IS NOT NULL THEN 1 ELSE 0 END) = 1 THEN 'oneway' END,
    CASE WHEN MAX(CASE WHEN structure IS NOT NULL THEN 1 ELSE 0 END) = 1 THEN 'structure' END,
    CASE WHEN MAX(CASE WHEN type IS NOT NULL THEN 1 ELSE 0 END) = 1 THEN 'type' END)
  ELSE concat_ws(',',
    CASE WHEN MAX(CASE WHEN filterrank IS NOT NULL THEN 1 ELSE 0 END) = 1 THEN 'filterrank' END,
    CASE WHEN MAX(CASE WHEN maki IS NOT NULL THEN 1 ELSE 0 END) = 1 THEN 'maki' END)
  END AS keys_csv
FROM features_v
WHERE layer IN ('road', 'poi_label') AND {GEOM_OK}
GROUP BY z, x, y, layer
""")

    o["events_window_rollup"] = """
SELECT date_trunc('hour', ts) AS wstart,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 6) AS sum_value,
       CAST(SUM(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT)) AS BIGINT) AS sum_k
FROM events
GROUP BY 1, 2
"""

    # w/h formulas mirror generate_image_bytes: int.from_bytes of the
    # id's last 4 ascii bytes, big-endian for w, little-endian for h
    def _ch(i: int) -> str:
        return f"ascii(substr(image_id, length(image_id) - {3 - i}, 1))"

    big4 = f"({_ch(0)} * 16777216 + {_ch(1)} * 65536 + {_ch(2)} * 256 + {_ch(3)})"
    lit4 = f"({_ch(3)} * 16777216 + {_ch(2)} * 65536 + {_ch(1)} * 256 + {_ch(0)})"
    o["multimodal_meta"] = _oracle(f"""
SELECT image_id,
       CAST(32 + {big4} % 97 AS INT) AS w,
       CAST(32 + {lit4} % 73 AS INT) AS h,
       'rawi' AS fmt,
       TRUE AS phash_ok
FROM images_v WHERE k % 101 = 0
""")

    return o
