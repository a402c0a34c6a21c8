"""Raster tile materialization (O19/G5).

``render_tile_mosaic`` stamps each feature's image thumbnail into a
fixed-size RGB tile canvas (RAWI bytes), with deterministic placement
from the feature's in-tile position. Vector tiles have one encoder,
``sources.mvt.encode_tiles_mvt``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from vtshaver_spark.functions.codecs import rawi_encode, synth_image


def render_tile_mosaic(
    df: DataFrame,
    tile_px: int = 128,
    thumb_px: int = 16,
    id_col: str = "image_id",
) -> DataFrame:
    """Raster materialization: stamp a deterministic thumbnail per
    feature into the tile canvas at its in-tile position.

    Input needs (z, x, y, lon, lat, image_id); output one RAWI blob per
    tile. Placement: fractional position of (lon,lat) inside the
    tile's bounds, so renders are resolution-independent."""
    from vtshaver_spark.functions.geo import tile_bounds

    schema = T.StructType(
        [
            T.StructField("z", T.IntegerType(), False),
            T.StructField("x", T.LongType(), False),
            T.StructField("y", T.LongType(), False),
            T.StructField("n_stamped", T.IntegerType(), False),
            T.StructField("png", T.BinaryType(), False),
        ]
    )

    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        z, x, y = key
        lon_min, lat_min, lon_max, lat_max = tile_bounds(int(z), int(x), int(y))
        canvas = np.zeros((tile_px, tile_px, 3), dtype=np.uint8)
        n = 0
        for row in pdf.sort_values(id_col).itertuples():
            if row.lon is None or row.lat is None:
                continue
            fx = (row.lon - lon_min) / max(lon_max - lon_min, 1e-12)
            fy = 1.0 - (row.lat - lat_min) / max(lat_max - lat_min, 1e-12)
            px = int(np.clip(fx, 0, 0.999) * (tile_px - thumb_px))
            py = int(np.clip(fy, 0, 0.999) * (tile_px - thumb_px))
            thumb = synth_image(str(getattr(row, id_col)), thumb_px, thumb_px)
            canvas[py : py + thumb_px, px : px + thumb_px] = thumb
            n += 1
        return pd.DataFrame(
            {
                "z": [z], "x": [x], "y": [y], "n_stamped": [n],
                "png": [rawi_encode(canvas)],
            }
        )

    return df.groupBy("z", "x", "y").applyInPandas(render, schema)
