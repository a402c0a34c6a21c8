"""Extra isolation probes for optimization work (guide §1.4).

NOT part of the frozen bench contract — bench.py is the driver's
measurement. This file times individual legs with the noop sink at
arbitrary scale factors so optimizations can be attributed before the
full suite re-runs. Usage:

    python bench_extra.py <leg>[,<leg>...] [--sf-dir DIR] [--passes N]
        [--replicate N]

Legs: knn, mvt, s2, tile_rollup, pip, shave.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from vtshaver_spark.session import build_session
from vtshaver_spark.sources.views import features_with_props, register_views


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    args = sys.argv[1:]
    legs = args[0].split(",") if args and not args[0].startswith("--") else ["knn"]

    def opt(name, default):
        return args[args.index(name) + 1] if name in args else default

    sf_dir = opt("--sf-dir", os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    passes = int(opt("--passes", "3"))
    replicate = int(opt("--replicate", os.environ.get("SPARK_GRAFT_REPLICATE", "8")))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    spark = build_session(
        app_name="bench-extra", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    register_views(spark, sf_dir)
    n_part = cpus

    def _replicate(df, n, partitions):
        df = df.repartition(partitions)
        if n > 1:
            df = df.withColumn(
                "_rep", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
            ).drop("_rep")
        return df

    # mirrors bench.py's corpus construction exactly — a deliberate
    # COPY, not an import: bench.py is frozen for measurement (the
    # driver diffs it against round-start fingerprints) so it cannot
    # be refactored to export a shared helper. If bench.py's corpus
    # synthesis ever changes in a build round, update this block to
    # match or per-leg probes stop predicting headline results.
    images = _replicate(spark.table("images_v"), replicate, n_part).cache()
    images.count()
    features = _replicate(features_with_props(spark), replicate, n_part).cache()
    features.count()
    landmarks = spark.table("landmarks_v")
    polygons = spark.table("polygons_v")

    def leg_fn(name):
        if name == "knn":
            from vtshaver_spark.operators.knn import knn_join_broadcast
            pts = images.select("image_id", "lon", "lat")
            return lambda: knn_join_broadcast(pts, landmarks, k=3).count()
        if name == "shave":
            from vtshaver_spark.operators.shave import shave
            from vtshaver_spark import Filters, style_to_filters
            from bench import EXPRESSION_ROAD_STYLE
            filters = Filters(style_to_filters(EXPRESSION_ROAD_STYLE))
            return lambda: shave(features, filters, zoom=16, maxzoom=16).count()
        if name == "pip":
            from vtshaver_spark.operators.pip import pip_rect_join
            return lambda: pip_rect_join(images, polygons).count()
        if name == "tile_rollup":
            from vtshaver_spark.functions import geo
            return (
                lambda: geo.with_tile(images, z=12)
                .groupBy("z", "x", "y")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.approx_count_distinct("caption_landmark_id").alias("c"),
                )
                .select(F.sum("n"), F.sum("c"))
                .collect()[0][0]
            )
        if name == "s2":
            from vtshaver_spark.functions.s2 import with_s2_cell
            return (
                lambda: with_s2_cell(images, level=10)
                .select(F.countDistinct("cell_s2").alias("c"))
                .collect()[0][0]
            )
        if name == "mvt":
            from vtshaver_spark.operators.shave import shave
            from vtshaver_spark.sources.mvt import decode_tiles, encode_tiles_mvt
            from vtshaver_spark import Filters, style_to_filters
            from bench import EXPRESSION_ROAD_STYLE
            filters = Filters(style_to_filters(EXPRESSION_ROAD_STYLE))
            mvt_factor = min(replicate, 32)
            fbase = features_with_props(spark).repartition(n_part)
            n_rows = fbase.count() * mvt_factor
            grid = max(4, int((n_rows / 50.0) ** 0.5) + 1)
            f = (
                fbase.withColumn(
                    "_rep", F.explode(F.sequence(F.lit(0), F.lit(mvt_factor - 1)))
                )
                .withColumn(
                    "x",
                    F.pmod(F.xxhash64("feature_id", "_rep"), F.lit(grid)).cast("bigint"),
                )
                .withColumn(
                    "y",
                    F.pmod(F.xxhash64("_rep", "feature_id"), F.lit(grid)).cast("bigint"),
                )
                .withColumn("z", F.lit(16).cast("int"))
                .drop("_rep")
            )
            tiles = encode_tiles_mvt(
                f.select("z", "x", "y", "layer", "feature_id", "geom_type", "props")
            ).cache()
            tiles.count()

            def run():
                rows = decode_tiles(tiles)
                shaved = shave(rows, filters, zoom=16, maxzoom=16)
                return encode_tiles_mvt(
                    shaved.select(
                        "z", "x", "y", "layer", "feature_id", "geom_type",
                        "geometry", "props", "prop_types",
                    )
                ).count()

            return run
        raise SystemExit(f"unknown leg {name!r}")

    out = {"sf_dir": sf_dir, "replicate": replicate, "passes": passes, "legs": {}}
    fns = {name: leg_fn(name) for name in legs}
    # warmup every leg once, then interleave timed passes
    for name in legs:
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        fns[name]()
    samples = {name: [] for name in legs}
    cnt = {}
    for _ in range(passes):
        for name in legs:
            spark.sparkContext.setJobDescription(f"probe:{name}")
            t0 = time.perf_counter()
            cnt[name] = fns[name]()
            samples[name].append(round(time.perf_counter() - t0, 3))
    for name in legs:
        out["legs"][name] = {
            "min": min(samples[name]),
            "samples": samples[name],
            "count": cnt[name],
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
