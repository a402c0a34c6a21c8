"""The benchmark workloads and layer probes.

Each has ``setup`` (build its inputs), ``warm_up`` (pay the first-pass
costs), ``op`` (one timed operation: a batch job or one request),
``check`` (is that operation's output right; runs outside the timed
span), ``final_check`` (an end-of-run verification against an
independent answer) and ``layers`` (per-layer metrics for the traced
run, from span self-times plus jobs that run one layer alone).

The timed workloads are ``tile_batch`` and ``feature_shave``.
``TileRequests`` and ``SpatialJoin`` are probes: the traced
``tile_batch`` run also runs each a few times, so the request path and
the geo, s2, pip and knn layers are measured although no timed workload
exercises them. Request latency is not a timed metric because on a
shared host it follows the neighbours' load more than the program (see
perfbench/README.md, Noise).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import time
from collections import Counter

import corpus
from tracing import coverage, median, self_time_by_req

GZIP = {"type": "gzip"}
ZOOM = 16
MVT_COLS = ("z", "x", "y", "layer", "feature_id", "geom_type", "geometry",
            "props", "prop_types")


def style():
    """The fixture style with a DuckDB oracle in __spark_entry__
    (``shave_expression_roads``): zoom-stepped road expression."""
    import __spark_entry__ as entry

    return entry.EXPRESSION_ROAD_STYLE


def compile_style(tracer):
    from vtshaver_spark.style.compile import style_to_filters
    from vtshaver_spark.style.filters import Filters

    with tracer.span("style.compile"):
        return Filters(style_to_filters(style()))


def write_style(ctx) -> str:
    path = os.path.join(ctx.work, "style.json")
    with open(path, "w") as f:
        json.dump(style(), f)
    return path


def run_cli(ctx, argv):
    """``vtshaver_spark.cli.main`` in-process on the benchmark's session;
    returns (exit code, captured stdout)."""
    from vtshaver_spark import cli

    buf = io.StringIO()
    with ctx.tracer.span("cli.main"), contextlib.redirect_stdout(buf):
        rc = cli.main(argv)
    return rc, buf.getvalue()


@contextlib.contextmanager
def instrument(ctx, names: dict):
    """Wrap public entry points that the cli calls in spans.

    ``names`` maps (owner, attribute) to a span name, or to a function
    of the call's arguments that returns one. Traced runs only; the
    originals are restored on exit."""
    saved = []

    def wrap(fn, name):
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with ctx.tracer.span(label):
                return fn(*args, **kwargs)
        return traced

    try:
        for (owner, attr), name in names.items():
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))
            setattr(owner, attr, wrap(fn, name))
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


def per_op_ms(spans, name: str) -> float:
    """Median over traced operations of a layer's self time, in ms."""
    ops = [s["req"] for s in spans if s["name"] == "op"]
    by_req = self_time_by_req(spans, name)
    return 1000.0 * median([by_req.get(r, 0.0) for r in ops]) if ops else 0.0


def timed_median(ctx, name: str, fn, reps: int = 2):
    """Run ``fn`` ``reps`` times in spans called ``name``; returns the
    median seconds and the last result."""
    secs, res = [], None
    for _ in range(reps):
        t = time.perf_counter()
        with ctx.tracer.span(name):
            res = fn()
        secs.append(time.perf_counter() - t)
    return median(secs), res


class TileBatch:
    """decode_tiles -> shave(z16) -> encode_tiles_mvt(gzip) over a cached
    table of gzip MVT blobs, ~50 features per tile."""

    name = "tile_batch"
    unit = "tiles"
    replicas = 32
    # operations before timing: the first pass is 2-4x slower than
    # steady state, the second and third still 10-15%
    warm_ups = 5

    def __init__(self):
        self.tiles = None

    def oracle(self, con):
        self.keep_ids = corpus.shave_oracle_ids(con)

    def setup(self, ctx):
        from pyspark.sql import functions as F

        from vtshaver_spark.sources.mvt import encode_tiles_mvt

        if self.tiles is not None:
            self.tiles.unpersist()
        corpus.register_views(ctx.spark)
        rows = corpus.feature_rows(ctx.spark, self.replicas, ctx.seed, ctx.partitions)
        self.tiles = encode_tiles_mvt(rows, compress=GZIP).cache()
        self.n_tiles, self.bytes_in = self.tiles.agg(
            F.count("*"), F.sum(F.length("tile"))
        ).first()

    def warm_up(self, ctx):
        """The last warm-up pass collects the output tiles, checks the
        survivors against the oracle and fixes the (tile count, bytes)
        every timed pass must return."""
        for _ in range(self.warm_ups - 1):
            self.op(ctx)
        blobs = [bytes(r[0]) for r in self._pipeline(ctx).select("tile").collect()]
        ids: Counter = Counter()
        for blob in blobs:
            for (layer, fid, *_), n in corpus.tile_features(blob).items():
                ids[(layer, fid)] += n
        want = Counter({("road", fid): n * self.replicas for fid, n in self.keep_ids.items()})
        self.survivors_ok = ids == want
        self.expected = (len(blobs), sum(map(len, blobs)))

    def _pipeline(self, ctx):
        from vtshaver_spark.operators.shave import shave
        from vtshaver_spark.sources.mvt import decode_tiles, encode_tiles_mvt

        filters = compile_style(ctx.tracer)
        with ctx.tracer.span("mvt.plan"):
            rows = decode_tiles(self.tiles)
        with ctx.tracer.span("shave.plan"):
            shaved = shave(rows, filters, zoom=ZOOM, maxzoom=ZOOM)
        with ctx.tracer.span("mvt.plan"):
            return encode_tiles_mvt(shaved.select(*MVT_COLS), compress=GZIP)

    def op(self, ctx, i=None):
        from pyspark.sql import functions as F

        out = self._pipeline(ctx)
        with ctx.tracer.span("shave.collect"):
            return tuple(out.agg(F.count("*"), F.sum(F.length("tile"))).first())

    def items(self, res) -> int:
        return self.n_tiles

    def bytes_ratio(self) -> float:
        return self.expected[1] / self.bytes_in

    def check(self, res) -> bool:
        return res == self.expected

    def final_check(self, ctx) -> bool:
        return self.survivors_ok

    def probes(self):
        return TileRequests(), SpatialJoin()

    def layers(self, ctx, spans) -> dict:
        from pyspark.sql import functions as F

        from vtshaver_spark.operators.shave import shave
        from vtshaver_spark.sources.mvt import (
            decode_tiles, encode_tiles_mvt, rows_to_tile, tile_to_rows,
        )

        filters = compile_style(ctx.tracer)
        decode_s, _ = timed_median(ctx, "mvt.decode_job", lambda: decode_tiles(self.tiles).count())
        decoded = decode_tiles(self.tiles, on_error="skip").cache()
        rows_in = decoded.count()
        tiles_decoded = decoded.select("z", "x", "y").distinct().count()
        shave_s, (rows_out, _) = timed_median(
            ctx, "shave.exec",
            lambda: shave(decoded, filters, zoom=ZOOM, maxzoom=ZOOM)
            .agg(F.count("*"), F.sum(F.size("props"))).first(),
        )
        shaved = shave(decoded, filters, zoom=ZOOM, maxzoom=ZOOM).select(*MVT_COLS).cache()
        shaved.count()
        encode_s, _ = timed_median(
            ctx, "mvt.encode_job",
            lambda: encode_tiles_mvt(shaved, compress=GZIP).agg(F.sum(F.length("tile"))).first(),
        )
        shaved.unpersist()
        decoded.unpersist()

        # pure codec cost per feature, in the driver, over a tile sample
        sample = [bytes(r[0]) for r in self.tiles.select("tile").limit(200).collect()]
        t = time.perf_counter()
        decoded_sample = [tile_to_rows(b) for b in sample]
        dec_s = time.perf_counter() - t
        t = time.perf_counter()
        for rows in decoded_sample:
            rows_to_tile(rows, compress=True)
        enc_s = time.perf_counter() - t
        n_feat = sum(map(len, decoded_sample))

        bytes_out = self.expected[1]
        return {
            "mvt.decode_s": decode_s,
            "mvt.encode_s": encode_s,
            "mvt.tile_to_rows_us_per_feature": 1e6 * dec_s / n_feat,
            "mvt.rows_to_tile_us_per_feature": 1e6 * enc_s / n_feat,
            "mvt.features_decoded": rows_in,
            "mvt.decode_errors": self.n_tiles - tiles_decoded,
            "mvt.bytes_in": self.bytes_in,
            "mvt.bytes_out": bytes_out,
            "shave.exec_s": shave_s,
            "shave.rows_in": rows_in,
            "shave.rows_out": rows_out,
            "shave.keep_ratio": rows_out / rows_in,
        }


class TileRequests:
    """Probe of on-demand serving: each request is
    ``cli.main(["shave-tile", ...])`` on one tile file, gzip output.
    Gives the request-path layers, which are fixed costs per request."""

    name = "tile_requests"
    replicas = 2  # ~80 tiles of ~50 features
    # requests settle after 25-30 of them (JIT of the plan and job
    # paths): ~650 ms at first, ~400 ms after on a 4-core VM
    warm_ups = 40

    def __init__(self):
        self.tiles = None

    def oracle(self, con):
        pass

    def setup(self, ctx):
        from vtshaver_spark.sources.mvt import encode_tiles_mvt

        if self.tiles is not None:
            self.tiles.unpersist()
        corpus.register_views(ctx.spark)
        rows = corpus.feature_rows(ctx.spark, self.replicas, ctx.seed, ctx.partitions)
        self.tiles = encode_tiles_mvt(rows, compress=GZIP).cache()
        tile_dir = os.path.join(ctx.work, "tiles")
        os.makedirs(tile_dir, exist_ok=True)
        self.files = {}
        for x, y, blob in self.tiles.select("x", "y", "tile").collect():
            path = os.path.join(tile_dir, f"16_{x}_{y}.mvt")
            with open(path, "wb") as f:
                f.write(blob)
            self.files[(x, y)] = path
        self.keys = sorted(self.files)
        random.Random(ctx.seed).shuffle(self.keys)
        self.style_path = write_style(ctx)
        self.out_path = os.path.join(ctx.work, "response.mvt")

    def warm_up(self, ctx):
        """The expected answer is the tile_batch path over the same
        tiles, computed once; then the warm-up requests."""
        batch = TileBatch()
        batch.tiles = self.tiles
        self.expected = {k: Counter() for k in self.files}
        for x, y, blob in batch._pipeline(ctx).select("x", "y", "tile").collect():
            self.expected[(x, y)] = corpus.tile_features(bytes(blob))
        self.tiles.unpersist()
        self.reports = {}
        for i in range(self.warm_ups):
            self.check(self.op(ctx, i))
        self.reports = {}

    def op(self, ctx, i):
        key = self.keys[i % len(self.keys)]
        rc, stdout = run_cli(ctx, [
            "shave-tile", "--tile", self.files[key], "--style", self.style_path,
            "--zoom", str(ZOOM), "--maxzoom", str(ZOOM), "--compress", "gzip",
            "--out", self.out_path,
        ])
        return i, key, rc, stdout

    def check(self, res) -> bool:
        i, key, rc, stdout = res
        if rc != 0:
            return False
        with open(self.out_path, "rb") as f:
            got = corpus.tile_features(f.read())
        self.reports[i] = json.loads(stdout)
        return got == self.expected[key]

    def final_check(self, ctx) -> bool:
        return True  # every request was checked against the batch path

    def instrument(self, ctx):
        import vtshaver_spark.operators.shave as shave_mod
        import vtshaver_spark.sources.mvt as mvt_mod
        import vtshaver_spark.style.compile as compile_mod
        import vtshaver_spark.style.filters as filters_mod

        return instrument(ctx, {
            (compile_mod, "style_to_filters"): "style.compile",
            (filters_mod, "Filters"): "style.compile",
            (shave_mod, "shave"): "shave.plan",
            (mvt_mod, "tile_to_rows"): "mvt.decode",
            (mvt_mod, "rows_to_tile"): "mvt.encode",
            (type(ctx.spark), "createDataFrame"): "cli.mkdf",
            (type(ctx.spark.range(1)), "collect"): "shave.collect",
        })

    def layers(self, ctx, spans) -> dict:
        return {
            "style.compile_ms": per_op_ms(spans, "style.compile"),
            "shave.plan_ms": per_op_ms(spans, "shave.plan"),
            "cli.mkdf_ms": per_op_ms(spans, "cli.mkdf"),
            "shave.collect_ms": per_op_ms(spans, "shave.collect"),
            "request.latency_ms": 1000.0 * median([s["dur"] for s in spans if s["name"] == "op"]),
            "request.coverage": coverage(spans),
        }


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path) if f.endswith(".parquet"))


class FeatureShave:
    """The ``cli shave`` job, in-process: replicated feature parquet in,
    shaved rows and per-tile metrics parquet out, zoom taken per row.
    Catalyst predicate and projection, no Python codec, plus the sink."""

    name = "feature_shave"
    unit = "rows"
    replicas = 80
    # passes take 5-6 runs to settle: ~1.8 s at first, ~1.2 s after
    warm_ups = 8

    def oracle(self, con):
        self.keep_ids = corpus.shave_oracle_ids(con)

    def setup(self, ctx):
        corpus.register_views(ctx.spark)
        self.input = os.path.join(ctx.work, "features.parquet")
        self.output = os.path.join(ctx.work, "shaved")
        rows = corpus.feature_rows(ctx.spark, self.replicas, ctx.seed, ctx.partitions)
        rows.write.mode("overwrite").parquet(self.input)
        self.rows_in = corpus.PARTS * self.replicas
        self.rows_out = self.replicas * sum(self.keep_ids.values())
        self.style_path = write_style(ctx)

    def warm_up(self, ctx):
        for _ in range(self.warm_ups):
            self.check(self.op(ctx))
        self.bytes_in = parquet_bytes(self.input)
        self.bytes_out = parquet_bytes(f"{self.output}/shaved")

    def op(self, ctx, i=None):
        return run_cli(ctx, [
            "shave", "--style", self.style_path, "--input", self.input,
            "--output", self.output, "--maxzoom", str(ZOOM),
        ])

    def items(self, res) -> int:
        return self.rows_in

    def bytes_ratio(self) -> float:
        return self.bytes_out / self.bytes_in

    def check(self, res) -> bool:
        rc, stdout = res
        if rc != 0:
            return False
        summary = json.loads(stdout)
        return (summary["features_before"], summary["features_after"]) == (
            self.rows_in, self.rows_out,
        )

    def final_check(self, ctx) -> bool:
        from pyspark.sql import functions as F

        shaved = ctx.spark.read.parquet(f"{self.output}/shaved")
        got = Counter({
            (layer, fid): n
            for layer, fid, n in shaved.groupBy("layer", "feature_id").count().collect()
        })
        want = Counter({("road", fid): n * self.replicas for fid, n in self.keep_ids.items()})
        after = ctx.spark.read.parquet(f"{self.output}/metrics").agg(
            F.sum("features_after")
        ).first()[0]
        return got == want and after == self.rows_out

    def instrument(self, ctx):
        from pyspark.sql.readwriter import DataFrameWriter

        def sink(writer, path, *args, **kwargs):
            return "sink.shaved_write" if path.endswith("shaved") else "sink.metrics_write"

        return instrument(ctx, {(DataFrameWriter, "parquet"): sink})

    def layers(self, ctx, spans) -> dict:
        return {
            "sink.shaved_write_s": per_op_ms(spans, "sink.shaved_write") / 1000.0,
            "sink.metrics_write_s": per_op_ms(spans, "sink.metrics_write") / 1000.0,
            "sink.bytes_per_row": self.bytes_out / self.rows_out,
        }


class SpatialJoin:
    """Probe of four operators over replicated images_v: with_tile(z=12) rollup,
    with_s2_cell(level=10) distinct, pip_rect_join(polygons_v) and
    knn_join_broadcast(landmarks_v, k=3)."""

    name = "spatial_join"
    replicas = 12
    warm_ups = 3
    tile_z = 12
    s2_level = 10
    k = 3

    def oracle(self, con):
        import numpy as np

        from vtshaver_spark.functions.s2 import s2_cell_id_np

        o = corpus.spatial_oracle(con, self.tile_z)
        cells = len(np.unique(s2_cell_id_np(o["lon"], o["lat"], self.s2_level)))
        rows = corpus.ORDERS * self.replicas
        self.expected = (rows, o["tiles"], cells, o["pip_pairs"] * self.replicas, self.k * rows)

    def __init__(self):
        self.images = None

    def setup(self, ctx):
        if self.images is not None:
            self.images.unpersist()
        corpus.register_views(ctx.spark)
        self.images = corpus.image_rows(ctx.spark, self.replicas, ctx.seed, ctx.partitions).cache()
        self.rows = self.images.count()
        self.landmarks = ctx.spark.table("landmarks_v")
        self.polygons = ctx.spark.table("polygons_v")

    def warm_up(self, ctx):
        for _ in range(self.warm_ups):
            self.check(self.op(ctx))

    def op(self, ctx, i=None):
        from pyspark.sql import functions as F

        from vtshaver_spark.functions import geo
        from vtshaver_spark.functions.s2 import with_s2_cell
        from vtshaver_spark.operators.knn import knn_join_broadcast
        from vtshaver_spark.operators.pip import pip_rect_join

        tr = ctx.tracer
        with tr.span("geo.tile_rollup"):
            rows, tiles = geo.with_tile(self.images, z=self.tile_z).groupBy("z", "x", "y").agg(
                F.count("*").alias("n")
            ).agg(F.sum("n"), F.count("*")).first()
        with tr.span("s2.encode"):
            cells = with_s2_cell(self.images, level=self.s2_level).agg(
                F.countDistinct("cell_s2")
            ).first()[0]
        with tr.span("pip.join"):
            pip = pip_rect_join(self.images, self.polygons).count()
        with tr.span("knn.join"):
            knn = knn_join_broadcast(
                self.images.select("image_id", "lon", "lat"), self.landmarks, k=self.k
            ).count()
        return rows, tiles, cells, pip, knn

    def check(self, res) -> bool:
        self.last = tuple(res)
        return self.last == self.expected

    def final_check(self, ctx) -> bool:
        return self.rows == self.expected[0]

    def layers(self, ctx, spans) -> dict:
        return {
            "geo.tile_rollup_s": per_op_ms(spans, "geo.tile_rollup") / 1000.0,
            "s2.encode_s": per_op_ms(spans, "s2.encode") / 1000.0,
            "pip.join_s": per_op_ms(spans, "pip.join") / 1000.0,
            "pip.pairs_out": self.last[3],
            "knn.join_s": per_op_ms(spans, "knn.join") / 1000.0,
            "knn.pairs_out": self.last[4],
        }


WORKLOADS = {w.name: w for w in (TileBatch, FeatureShave)}
