"""The shave pipeline: layer semi-join + zoom gate + feature filter +
property projection, as one Catalyst plan.

Semantics parity with the reference worker loop
(/root/reference/src/shave.cpp:237-301):

 - layers absent from the compiled style are dropped (O12);
 - a layer is kept only when query zoom is inside [minzoom, maxzoom]
   OR the overzoom rule fires: a provided tileset maxzoom is below the
   style minzoom (O13, src/shave.cpp:275-276);
 - keep-all layers (filter True + properties True) pass through
   verbatim — including Unknown-geometry rows (O14 fast path,
   src/shave.cpp:279-281);
 - on the filtered path, Unknown geometries are always dropped (O15,
   src/shave.cpp:196-200) and the compiled GL predicate runs per row
   at the query zoom (O16);
 - surviving rows' properties are pruned to the per-layer allowlist
   (O17, src/shave.cpp:184-193).

Spark-first design: the whole thing is a single ``filter`` +
``withColumn`` pair over the features DataFrame — an OR-of-layers
predicate plus a CASE-of-layers map projection (and, for the metrics,
a CASE-of-layers count of the bytes that projection keeps), each
rendered as Spark SQL text and parsed once. No shuffle, no UDFs; the
style table is folded into the plan as literals (it is tiny), so
Catalyst constant-folds keep-all branches and pushes the layer/zoom
conjuncts down to the scan. Scale note: at
10^12 rows this remains a map-only stage; with z/layer as partition
columns of the source table the layer+zoom conjuncts become partition
pruning.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from vtshaver_spark.errors import ShaveError
from vtshaver_spark import errors as E
from vtshaver_spark.functions.expr import (
    FilterContext,
    double_sql,
    render_filter,
    sql_string,
)
from vtshaver_spark.sources.mvt import FEATURE_KEY, TILE_KEY, _decode_tiles
from vtshaver_spark.style.filters import Filters

# the filtered path drops Unknown geometries (O15)
_KNOWN_GEOMETRY = "geom_type IN ('Point', 'LineString', 'Polygon')"


# Approximate encoded size of a row's ``props``: the summed character
# lengths of its keys and non-NULL values (a stable stand-in for MVT
# bytes in the row model); 0 for a NULL map. length(concat(keys)) +
# length(concat(values)) stays in codegen; a per-entry aggregate() fold
# runs interpreted.
_PROP_BYTES_SQL = (
    "coalesce(length(concat_ws('', map_keys(props)))"
    " + length(concat_ws('', map_values(props))), 0)"
)


def compile_shave_columns(
    filters: Filters,
    zoom: Optional[float] = None,
    maxzoom: Optional[float] = None,
    within_resolver=None,
    distance_resolver=None,
) -> tuple:
    """Compile a style into (keep predicate, projected-props Column,
    kept-bytes Column) over feature rows (``sources.mvt.MVT_ROW_FIELDS``).

    Shared by ``shave`` (filter + withColumn) and
    ``shave_with_metrics`` (ONE conditional aggregation over all three)
    — the compile happens once, the data is scanned once either way.

    Each of the three is rendered as Spark SQL text and parsed with one
    ``F.expr``: building the same trees from py4j Column calls cost
    tens of milliseconds per style. The projection is a CASE-of-layers
    ``map_filter``: its entry order sets the shaved parquet bytes. The
    kept-bytes count is ``_PROP_BYTES_SQL`` of that projection, but an
    allowlist layer sums the allowlisted keys the map holds and their
    values, so no ``map_filter`` lambda (interpreted) runs for it.
    """
    if not isinstance(filters, Filters):
        raise ShaveError(
            "filters option must be a shaver.Filters object"
        )
    for value, message in ((zoom, E.MSG_ZOOM_TYPE), (maxzoom, E.MSG_MAXZOOM_TYPE)):
        if value is not None and (
            not isinstance(value, (int, float)) or isinstance(value, bool) or value < 0
        ):
            raise ShaveError(message)

    ctx = FilterContext(
        zoom=zoom,
        within_resolver=within_resolver,
        distance_resolver=distance_resolver,
    )
    z = ctx.zoom_sql()

    # OR-of-layers row predicate (inlined broadcast semi-join).
    keep = []
    for lf in filters:
        in_range = f"{z} >= {double_sql(lf.minzoom)} AND {z} <= {double_sql(lf.maxzoom)}"
        if maxzoom is not None:
            # overzoom: the tileset stops below the style's minzoom
            in_range = f"{in_range} OR {str(float(maxzoom) < lf.minzoom).lower()}"
        branch = [f"layer = {sql_string(lf.layer)}", f"({in_range})"]
        if not (lf.keep_all_filter and lf.keep_all_properties):
            # the filtered path; keep-all layers are copied verbatim,
            # Unknown geometries included (O14 fast path)
            branch += [_KNOWN_GEOMETRY, render_filter(lf.filter, ctx)]
        keep.append("(" + " AND ".join(branch) + ")")

    # CASE-of-layers property projection (O17) and the byte count of
    # what it keeps. Keep-all layers fall through to the identity branch.
    projected, kept_bytes = [], []
    for lf in filters:
        if lf.keep_all_properties:
            continue
        when = f"WHEN layer = {sql_string(lf.layer)} THEN"
        allow = ", ".join(map(sql_string, lf.properties))
        # an empty allowlist (styled but no property references) strips
        # every feature property
        kept = f"array_contains(array({allow}), k)" if allow else "false"
        projected.append(f"{when} map_filter(props, (k, v) -> {kept})")
        # map keys are unique, so each allowlisted key counts once
        key_bytes = [
            f"CASE WHEN map_contains_key(props, {k}) THEN length({k})"
            f" + coalesce(length(props[{k}]), 0) ELSE 0 END"
            for k in map(sql_string, dict.fromkeys(lf.properties))
        ]
        kept_bytes.append(f"{when} {' + '.join(key_bytes) or '0'}")
    keep_sql = " OR ".join(keep) or "false"  # empty style shaves everything
    if not projected:
        return F.expr(keep_sql), F.expr("props"), F.expr(_PROP_BYTES_SQL)
    return (
        F.expr(keep_sql),
        F.expr(f"CASE {' '.join(projected)} ELSE props END"),
        F.expr(f"CASE {' '.join(kept_bytes)} ELSE {_PROP_BYTES_SQL} END"),
    )


def shave(
    df: DataFrame,
    filters: Filters,
    zoom: Optional[float] = None,
    maxzoom: Optional[float] = None,
    vertex_df: Optional[DataFrame] = None,
) -> DataFrame:
    """Shave a DataFrame of feature rows (``sources.mvt.MVT_ROW_FIELDS``
    plus any other columns, e.g. the ``TILE_KEY``) with a compiled
    style.

    ``zoom`` is a number (whole-job binding, reference parity) or None
    (each row's own ``z``: every zoom level in one pass — the scale
    path).
    ``maxzoom`` is the *tileset* maxzoom for the overzoom rule.

    ``vertex_df``: pass the per-vertex table (one row per decoded
    geometry vertex, the ``sources.mvt.decode_tile_points`` shape) to
    evaluate any ``["within", geojson]`` in the style's filters over
    the FULL feature geometry — mbgl semantics, which the reference
    inherits (/root/reference/src/filters.cpp:108-121): every vertex
    inside AND no segment properly crossing the polygon boundary.
    Without it, ``within`` falls back to the row-level point form
    (documented in functions/expr._op_within) and ``["distance"]``
    raises ``FilterError``: it has no row-level form. All distinct within
    geometries share ONE window+aggregate pass over the vertex table
    and ONE equi-join on the ``FEATURE_KEY`` columns both tables have —
    two keyed shuffles total at any style complexity; features with
    no vertex rows count as not-within.

    Layer pushdown: given exactly the frame ``sources.mvt.decode_tiles``
    returned (not derived, not cached or persisted), ``shave`` re-plans
    that decode to skip the features of layers the style never names,
    as the reference does (src/shave.cpp:253-263); Catalyst cannot push
    a filter into the decode kernel. The keep predicate still runs
    unchanged, so the shaved rows are the same, except that corruption
    inside a skipped layer no longer raises (see ``decode_tiles``).
    ``shave_with_metrics`` never pushes down: its census counts every
    feature.
    """
    return _plan(_skip_unstyled_layers(df, filters), filters, zoom, maxzoom, vertex_df)[3]


def _skip_unstyled_layers(df: DataFrame, filters: Filters) -> DataFrame:
    """``df``, or, when ``df`` is the uncached frame ``decode_tiles``
    returned, that decode re-planned with ``filters``' layer set."""
    source = getattr(df, "_mvt_decode_source", None)
    if (
        source is None
        or not isinstance(filters, Filters)
        or df.storageLevel != StorageLevel.NONE
    ):
        return df
    return _decode_tiles(*source, frozenset(filters.layers()))


def _plan(
    df: DataFrame,
    filters: Filters,
    zoom,
    maxzoom,
    vertex_df: Optional[DataFrame],
) -> tuple:
    """Plan a shave: (rows, keep, kept_bytes, shaved), where ``rows`` is
    ``df`` with any bound verdict columns, ``keep`` and ``kept_bytes``
    are the compiled Columns over ``rows`` (``compile_shave_columns``),
    and ``shaved`` is the shaved frame.

    When the style contains ``["within"]`` / ``["distance"]`` and a
    vertex table is supplied, each distinct geometry's per-feature
    verdict (boolean) / min-vertex-distance (meters) is bound as a
    joined column. All distinct geometries — within polygons AND
    distance points — share ONE window+aggregate pass over the vertex
    table and ONE equi-join: two keyed shuffles total at any style
    complexity. Features with no vertex rows count as not-within, and
    their distances stay NULL (every comparison on them is false — GL
    absent-geometry semantics).
    """
    geoms: list = []
    points: list = []

    def resolver(geom: dict) -> str:
        if geom not in geoms:
            geoms.append(geom)
        return f"_within_{geoms.index(geom)}"

    def dist_resolver(plon: float, plat: float) -> str:
        if (plon, plat) not in points:
            points.append((plon, plat))
        return f"_dist_{points.index((plon, plat))}"

    routed = vertex_df is not None
    keep, projected, kept_bytes = compile_shave_columns(
        filters, zoom, maxzoom,
        within_resolver=resolver if routed else None,
        distance_resolver=dist_resolver if routed else None,
    )
    rows, bound = df, []
    if geoms or points:
        from vtshaver_spark.operators.within import feature_within_multi

        keys = [k for k in FEATURE_KEY if k in df.columns and k in vertex_df.columns]
        flag_cols = [f"_within_{i}" for i in range(len(geoms))]
        dist_cols = [f"_dist_{j}" for j in range(len(points))]
        verdicts = feature_within_multi(
            vertex_df, geoms, keys=keys, out_cols=flag_cols,
            distance_points=points, distance_cols=dist_cols,
        ).select(*keys, *flag_cols, *dist_cols)
        rows = df.join(verdicts, on=keys, how="left")
        for c in flag_cols:
            rows = rows.withColumn(c, F.coalesce(F.col(c), F.lit(False)))
        bound = flag_cols + dist_cols
    shaved = rows.filter(keep).withColumn("props", projected).drop(*bound)
    return rows, keep, kept_bytes, shaved


def shave_with_metrics(
    df: DataFrame,
    filters: Filters,
    zoom: Optional[float] = None,
    maxzoom: Optional[float] = None,
    vertex_df: Optional[DataFrame] = None,
) -> tuple:
    """``shave`` plus a per-tile metrics DataFrame (the vtshave CLI
    contract, /root/reference/bin/vtshave.js:75-93: before/after sizes).

    Single-pass metrics: before/after feature counts and property
    bytes come from ONE conditional aggregation over the input, keyed
    by ``TILE_KEY`` — no second scan, no join (at 10^12 rows a re-scan
    is real money). With ``vertex_df`` the aggregation runs over the
    verdict-augmented rows, so before/after counts reflect whole-
    geometry semantics too.
    """
    rows, keep, kept_bytes, shaved = _plan(df, filters, zoom, maxzoom, vertex_df)
    metrics = (
        rows.groupBy(*TILE_KEY)
        .agg(
            F.count(F.lit(1)).alias("features_before"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("features_after"),
            F.sum(F.expr(_PROP_BYTES_SQL)).alias("prop_bytes_before"),
            F.sum(F.when(keep, kept_bytes).otherwise(0)).alias("prop_bytes_after"),
        )
        .withColumn(
            "shave_ratio",
            F.when(
                F.col("prop_bytes_before") > 0,
                1.0 - F.col("prop_bytes_after") / F.col("prop_bytes_before"),
            ).otherwise(F.lit(0.0)),
        )
    )
    return shaved, metrics


def tile_layer_summary(shaved: DataFrame) -> DataFrame:
    """Per (tile, layer) survivor census — the row-set form the
    reference's tests assert on (layer names + feature counts +
    property key sets, test/vtshaver.test.js:13-26)."""
    return (
        shaved.groupBy(*TILE_KEY, "layer")
        .agg(
            F.count(F.lit(1)).alias("feature_count"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list(F.map_keys(F.col("props")))))
            ).alias("property_keys"),
        )
        .orderBy(*TILE_KEY, "layer")
    )
