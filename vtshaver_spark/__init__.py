"""vtshaver_spark — a PySpark-native spatial-join + tiling engine.

Built from scratch with the query/data-processing capabilities of
mapbox/vtshaver (reference at /root/reference, studied for semantics only):
Mapbox-GL style filters rendered to Spark SQL text, per-tile shaving
(layer semi-join, zoom gating, feature filtering, property projection),
plus web-scale additions: S2 cell indexing, point-in-polygon, kNN
joins, full-geometry ``within`` and MVT decode/encode.

Everything is DataFrame-first: GL filters render to Spark SQL text that
Catalyst parses once into codegen'd expressions, joins broadcast small sides, and Python only runs
inside Arrow-batched pandas UDFs at the edges.

Every kernel unpickled in a Python worker imports this package first,
so it installs the worker hook (``worker.py``) and nothing else: the
public names below load on first use (PEP 562), keeping the style
compiler and ``functions/expr.py`` out of codec-only workers.
"""

import importlib

from vtshaver_spark import worker

__version__ = "0.1.0"

worker.install()

_LAZY = {
    "FilterError": "vtshaver_spark.errors",
    "ShaveError": "vtshaver_spark.errors",
    "style_to_filters": "vtshaver_spark.style.compile",
    "Filters": "vtshaver_spark.style.filters",
}

__all__ = [*_LAZY, "__version__"]


def __getattr__(name):
    if name not in _LAZY:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(_LAZY[name]), name)
    globals()[name] = value
    return value
