"""JPEG bytes at the image router: the engine has no JPEG decoder, so
``decode_image`` hands JPEG to PIL when it is importable and otherwise
raises NotImplementedError naming the formats it does decode."""

import numpy as np
import pytest
from synthetic import flat_jpeg

from vtshaver_spark.functions.codecs import HAS_PIL, decode_image


def test_router_sniffs_jpeg():
    b = flat_jpeg()
    assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
    if HAS_PIL:
        out = decode_image(b)
        assert out.shape == (8, 8, 3) and out.dtype == np.uint8
        assert np.abs(out.astype(int) - 128).max() <= 1
    else:
        with pytest.raises(NotImplementedError, match="PIL is unavailable"):
            decode_image(b)


def test_unsupported_modes_named():
    # baseline, progressive and arithmetic frames alike: no native
    # path claims JPEG, and the error lists what the engine decodes
    if HAS_PIL:
        return
    for sof in (0xC0, 0xC2, 0xC9):
        with pytest.raises(NotImplementedError) as exc:
            decode_image(flat_jpeg(sof))
        msg = str(exc.value)
        assert "RAWI/WebP-lossless" in msg
        assert "JPEG" not in msg
