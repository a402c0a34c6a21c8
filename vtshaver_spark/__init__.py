"""vtshaver_spark — a PySpark-native spatial-join + tiling engine.

Built from scratch with the query/data-processing capabilities of
mapbox/vtshaver (reference at /root/reference, studied for semantics only):
Mapbox-GL style compilation -> Spark Column predicates, per-tile shaving
(layer semi-join, zoom gating, feature filtering, property projection),
plus web-scale additions: H3/S2-style cell indexing, point-in-polygon,
kNN joins, full-geometry ``within``, MVT decode/encode and raster tile
materialization.

Everything is DataFrame-first: predicates compile to Catalyst expressions
(whole-stage codegen), joins broadcast small sides, and Python only runs
inside Arrow-batched pandas UDFs at the edges.
"""

__version__ = "0.1.0"

from vtshaver_spark.errors import FilterError, ShaveError
from vtshaver_spark.style.compile import style_to_filters
from vtshaver_spark.style.filters import Filters

__all__ = [
    "FilterError",
    "ShaveError",
    "style_to_filters",
    "Filters",
    "__version__",
]
