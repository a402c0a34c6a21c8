"""Multimodal pipeline: generate -> decode -> feature-extract, video
frame sampling, plus codec unit checks. The RAWI codec is fully real;
PIL-backed format decode is stubbed (import-gated) per the container
constraints."""

import numpy as np
import pytest

from vtshaver_spark.functions.codecs import (
    HAS_PIL,
    rawi_decode,
    rawi_encode,
    resize_nearest,
    synth_image,
)
from vtshaver_spark.operators.multimodal import (
    decode_features,
    frame_sample,
    generate_image_bytes,
)


def test_rawi_roundtrip():
    arr = synth_image("img_x", 40, 30)
    assert arr.shape == (30, 40, 3)
    again = rawi_decode(rawi_encode(arr))
    assert np.array_equal(arr, again)


def test_rawi_rejects_unknown_format():
    # strict decoder: anything non-RAWI points at the sniffing router
    with pytest.raises(ValueError):
        rawi_decode(b"JUNKxxxx")
    # the router itself: formats it cannot decode natively (unknown
    # magic, or JPEG/GIF/TIFF: the engine has no decoder for them)
    # raise NotImplementedError unless PIL is importable
    from vtshaver_spark.functions.codecs import HAS_PIL, decode_image

    if not HAS_PIL:
        for blob in (
            b"JUNKxxxx",
            b"\xff\xd8\xff\xd9",
            b"GIF89a\x01\x00\x01\x00\x00\x00\x00;",
            b"II*\x00\x08\x00\x00\x00\x00\x00",
            b"MM\x00*\x00\x00\x00\x08\x00\x00",
        ):
            with pytest.raises(NotImplementedError):
                decode_image(blob)


def test_resize_psnr():
    # nearest-neighbour 2x down then 2x up keeps exactly the even
    # pixels, each repeated into a 2x2 block
    arr = synth_image("img_y", 64, 64)
    down_up = resize_nearest(resize_nearest(arr, 32, 32), 64, 64)
    assert np.array_equal(
        down_up, np.repeat(np.repeat(arr[::2, ::2], 2, 0), 2, 1)
    )


@pytest.fixture(scope="module")
def images(spark):
    base = spark.createDataFrame(
        [(f"img_{i:04d}",) for i in range(20)], "image_id string"
    )
    return generate_image_bytes(base).cache()


def test_generate_deterministic(spark, images):
    a = {r["image_id"]: (r["phash"], r["w"], r["h"]) for r in images.collect()}
    again = generate_image_bytes(
        spark.createDataFrame([(f"img_{i:04d}",) for i in range(20)], "image_id string")
    )
    b = {r["image_id"]: (r["phash"], r["w"], r["h"]) for r in again.collect()}
    assert a == b


def test_decode_features(spark, images):
    out = decode_features(images).collect()
    assert len(out) == 20
    for r in out:
        assert 0 <= r["mean_r"] <= 255
        assert r["phash_check"] is not None
    # phash from decode equals phash from generation (bit-exact decode)
    gen = {r["image_id"]: r["phash"] for r in images.collect()}
    for r in out:
        assert r["phash_check"] == gen[r["image_id"]]


def test_frame_sample(spark):
    frames = [rawi_encode(synth_image(f"f{i}", 8, 8)) for i in range(6)]
    video = b"".join(frames)
    df = spark.createDataFrame([("v1", video)], "video_id string, video_bytes binary")
    out = frame_sample(df, every_n=2).collect()
    assert [r["frame_idx"] for r in sorted(out, key=lambda r: r["frame_idx"])] == [0, 2, 4]
    assert all(bytes(r["bytes"])[:4] == b"RAWI" for r in out)

    # a cut-off last frame and a non-RAWI blob raise, naming the video
    # id and the byte offset, instead of yielding short or garbage frames
    video3 = b"".join(frames[:3])
    for vid, blob, where in (
        ("cut", video3[:-100], f"frame at byte {2 * len(frames[0])} needs"),
        ("png", b"\x89PNG\r\n\x1a\n" + bytes(28), "no RAWI frame header at byte 0"),
    ):
        df = spark.createDataFrame([(vid, blob)], "video_id string, video_bytes binary")
        with pytest.raises(Exception, match=f"ValueError: video '{vid}': {where}"):
            frame_sample(df, every_n=2).collect()

    # every_n < 1 samples nothing meaningful (0 divides by zero, -1
    # matches every frame), so it is refused on the driver
    for n in (0, -1):
        with pytest.raises(ValueError, match="every_n must be >= 1"):
            frame_sample(df, every_n=n)


def test_generate_video_bytes_closed_form(spark):
    """Video containers must hold exactly the per-frame closed-form
    gradient images (seed + i*997) the driver oracle replays; the
    demux -> decode -> phash chain must agree with direct numpy."""
    from vtshaver_spark.functions.codecs import synth_gradient_image
    from vtshaver_spark.operators.multimodal import (
        _phash64,
        decode_features,
        generate_video_bytes,
    )

    df = spark.createDataFrame(
        [("v1", 5, 12, 9, 40)],
        "video_id string, n_frames int, w int, h int, seed int",
    )
    blob = bytes(generate_video_bytes(df).collect()[0]["video_bytes"])
    assert len(blob) == 5 * (12 + 12 * 9 * 3)
    sampled = frame_sample(
        generate_video_bytes(df).select("video_id", "video_bytes"), every_n=2
    )
    got = {
        r["frame_idx"]: r["phash_check"]
        for r in decode_features(sampled).collect()
    }
    want = {
        i: _phash64(synth_gradient_image(40 + i * 997, 12, 9))
        for i in (0, 2, 4)
    }
    assert got == want


def test_pil_stub_flag():
    # container truth: PIL absent => decode path must be the gated stub
    assert HAS_PIL is False
