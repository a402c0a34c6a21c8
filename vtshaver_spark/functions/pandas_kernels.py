"""Arrow-batched pandas UDF kernels.

Lives in its own module WITHOUT ``from __future__ import annotations``:
pandas_udf resolves the type hints at definition time, and PEP-563
stringified hints break its signature inspection.
"""

import pandas as pd
from pyspark.sql.functions import pandas_udf


def make_tile_encoder(compress: bool, level=None):
    """Scalar pandas UDF: array<struct<feature fields>> -> MVT blob.
    One Arrow batch carries many tiles; per-tile cost is a python loop
    iteration (vs ~ms of per-group machinery under applyInPandas).
    ``level`` is the validated gzip level (None = encoder default)."""
    from vtshaver_spark.sources.mvt import rows_to_tile

    @pandas_udf("binary")
    def _encode(rows: pd.Series) -> pd.Series:
        return pd.Series(
            [
                rows_to_tile(list(tile_rows), compress=compress, level=level)
                for tile_rows in rows
            ]
        )

    return _encode
