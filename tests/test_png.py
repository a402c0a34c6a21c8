"""PNG bytes at the image router: the engine has no PNG decoder, so
``decode_image`` hands PNG to PIL when it is importable and otherwise
raises NotImplementedError naming the formats it does decode."""

import numpy as np
import pytest
from synthetic import flat_png

from vtshaver_spark.functions.codecs import HAS_PIL, decode_image


def test_router_and_spark_pipeline_png(spark):
    """With PIL, a PNG blob flows through the same multimodal operator
    as RAWI: identical phash, since it is computed on decoded pixels."""
    from vtshaver_spark.functions.codecs import rawi_encode
    from vtshaver_spark.operators.multimodal import decode_features

    b = flat_png()
    assert b[:8] == b"\x89PNG\r\n\x1a\n" and b[-8:-4] == b"IEND"
    if not HAS_PIL:
        with pytest.raises(NotImplementedError, match="PIL is unavailable"):
            decode_image(b)
        return
    rawi = rawi_encode(np.full((8, 8, 3), 128, dtype=np.uint8))
    df = spark.createDataFrame([("png", b), ("rawi", rawi)], "image_id string, bytes binary")
    fps = {r["image_id"]: r["phash_check"] for r in decode_features(df).collect()}
    assert fps["png"] == fps["rawi"]
