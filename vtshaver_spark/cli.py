"""CLI entry points (reference bin/ parity, Spark-shaped).

 - ``python -m vtshaver_spark.cli filters --style s.json [--sources a,b]
   [--pretty]`` — compile a style to the filter IR JSON (the
   vtshaver-filters contract, /root/reference/bin/vtshaver-filters.js).
 - ``python -m vtshaver_spark.cli shave --style s.json --input <parquet>
   --zoom Z [--maxzoom M] --output <dir>`` — batch shave job with
   per-tile metrics (the vtshave contract: before/after sizes,
   /root/reference/bin/vtshave.js:75-93), runnable under spark-submit.
   The printed summary (the four totals over all tiles) is observed on
   the metrics write with ``Dataset.observe``, not read back from the
   written parquet: the job runs no extra Spark jobs for it.

A style, tile or option the engine rejects (``FilterError``,
``ShaveError``, ``MVTError``) prints ``Error: <message>`` and exits 1;
a bad style or tile is caught before any Spark session starts.
"""

from __future__ import annotations

import argparse
import json
import sys


def cmd_filters(args) -> int:
    from vtshaver_spark.style.compile import style_to_filters

    with open(args.style) as f:
        style = json.load(f)
    filters = style_to_filters(style)
    if args.sources:
        wanted = args.sources.split(",")
        missing = [s for s in wanted if s not in filters]
        if missing:
            sys.stderr.write(
                f"Error: source layer(s) not found in style: {', '.join(missing)}\n"
            )
            return 1
        filters = {k: v for k, v in filters.items() if k in wanted}
    out = json.dumps(filters, indent=2 if args.pretty else None)
    print(out)
    return 0


def _error(ex: Exception) -> int:
    """Report a rejected input as ``Error: <message>``; exit status 1."""
    sys.stderr.write(f"Error: {ex}\n")
    return 1


def cmd_shave(args) -> int:
    from pyspark.sql import Observation, SparkSession
    from pyspark.sql import functions as F

    from vtshaver_spark.errors import FilterError, ShaveError
    from vtshaver_spark.operators.shave import shave_with_metrics
    from vtshaver_spark.session import build_session
    from vtshaver_spark.style.compile import style_to_filters
    from vtshaver_spark.style.filters import Filters

    with open(args.style) as f:
        style = json.load(f)
    try:
        filters = Filters(style_to_filters(style))
    except (FilterError, ShaveError) as ex:
        return _error(ex)
    summary_cols = (
        "features_before", "features_after", "prop_bytes_before", "prop_bytes_after",
    )
    active = SparkSession.getActiveSession()
    owns = active is None
    spark = active or build_session(app_name="vtshaver-shave")
    try:
        df = spark.read.parquet(args.input)
        # optional per-vertex table: routes any ["within"]/["distance"]
        # in the style through full-geometry evaluation
        # (operators/within.py)
        vertex_df = spark.read.parquet(args.vertices) if args.vertices else None
        shaved, metrics = shave_with_metrics(
            df, filters, zoom=args.zoom, maxzoom=args.maxzoom, vertex_df=vertex_df
        )
        shaved.write.mode("overwrite").parquet(f"{args.output}/shaved")
        # the totals ride along the metrics write (an unnamed
        # Observation is unique per call)
        obs = Observation()
        observed = metrics.observe(obs, *[F.sum(c).alias(c) for c in summary_cols])
        observed.write.mode("overwrite").parquet(f"{args.output}/metrics")
        summary = obs.get
    except (FilterError, ShaveError) as ex:
        # options or filters the plan refuses (a bad --zoom, a
        # ["distance"] without --vertices)
        return _error(ex)
    finally:
        if owns:
            spark.stop()
    print(json.dumps({c: summary[c] for c in summary_cols}))
    return 0


def cmd_shave_tile(args) -> int:
    """Single-tile shave over a real .mvt/.pbf file — the reference
    ``vtshave`` CLI contract (/root/reference/bin/vtshave.js:38-98:
    gzip sniff, shave, before/after sizes raw + gzipped, optional
    write)."""
    import gzip as _gzip

    from vtshaver_spark.errors import FilterError, ShaveError, validate_compress
    from vtshaver_spark.operators.shave import shave
    from vtshaver_spark.session import build_session
    from vtshaver_spark.sources.mvt import (
        MVT_ROW_FIELDS,
        MVT_ROW_SCHEMA,
        MVTError,
        rows_to_tile,
        tile_to_rows,
    )
    from vtshaver_spark.style.compile import style_to_filters
    from vtshaver_spark.style.filters import Filters

    with open(args.style) as f:
        style = json.load(f)
    with open(args.tile, "rb") as f:
        buf = f.read()
    try:
        compress = validate_compress(
            {"type": args.compress} if args.compress else None
        )
        rows = tile_to_rows(buf)
        filters = Filters(style_to_filters(style))
    except (FilterError, ShaveError, MVTError) as ex:
        return _error(ex)
    from pyspark.sql import SparkSession

    # only stop a session we created: getOrCreate() reuses any active
    # session (e.g. a host application's), and stopping that would
    # kill the caller's Spark
    active = SparkSession.getActiveSession()
    owns = active is None
    spark = active or build_session(
        app_name="vtshave-tile", master="local[2]", shuffle_partitions=2
    )
    try:
        df = spark.createDataFrame(
            [tuple(r[c] for c in MVT_ROW_FIELDS) for r in rows], MVT_ROW_SCHEMA
        )
        survivors = [
            r.asDict()
            for r in shave(
                df, filters, zoom=args.zoom, maxzoom=args.maxzoom
            ).collect()
        ]
    except (FilterError, ShaveError) as ex:
        return _error(ex)
    finally:
        if owns:
            spark.stop()
    shaved = rows_to_tile(survivors, compress=compress)
    report = {
        "bytes_before": len(buf),
        "bytes_after": len(shaved),
        "gzip_bytes_before": len(_gzip.compress(buf, mtime=0)),
        "gzip_bytes_after": len(_gzip.compress(shaved, mtime=0)),
        "features_before": len(rows),
        "features_after": len(survivors),
    }
    if args.out:
        with open(args.out, "wb") as f:
            f.write(shaved)
    print(json.dumps(report))
    return 0


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(prog="vtshaver-spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_filters = sub.add_parser("filters", help="style -> compiled filter JSON")
    p_filters.add_argument("--style", required=True)
    p_filters.add_argument("--sources", default=None)
    p_filters.add_argument("--pretty", action="store_true")
    p_filters.set_defaults(fn=cmd_filters)

    p_shave = sub.add_parser("shave", help="batch shave a features table")
    p_shave.add_argument("--style", required=True)
    p_shave.add_argument("--input", required=True)
    p_shave.add_argument("--output", required=True)
    p_shave.add_argument("--zoom", type=float, default=None)
    p_shave.add_argument("--maxzoom", type=float, default=None)
    p_shave.add_argument(
        "--vertices", default=None,
        help="parquet path of per-vertex rows (feature keys + path_idx/"
        "vertex_idx/lon/lat); enables full-geometry within/distance "
        "evaluation for style filters",
    )
    p_shave.set_defaults(fn=cmd_shave)

    p_tile = sub.add_parser(
        "shave-tile", help="shave a single .mvt/.pbf file (vtshave parity)"
    )
    p_tile.add_argument("--tile", required=True)
    p_tile.add_argument("--style", required=True)
    p_tile.add_argument("--zoom", type=float, required=True)
    p_tile.add_argument("--maxzoom", type=float, default=None)
    p_tile.add_argument("--compress", choices=["none", "gzip"], default=None)
    p_tile.add_argument("--out", default=None)
    p_tile.set_defaults(fn=cmd_shave_tile)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
