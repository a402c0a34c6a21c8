"""Pure stdlib+numpy PNG codec (functions/codecs.py): wire format,
all five scanline filters, every legal IHDR depth/color combination
(sub-byte gray + palette, 16-bit, Adam7 interlace via hand-built
fixtures), CRC verification, and the sniffing router feeding the
multimodal operators — the 'real image formats' capability without
PIL."""

import struct
import zlib

import numpy as np
import pytest

from vtshaver_spark.functions.codecs import (
    _ADAM7,
    PNG_MAGIC,
    _png_chunk,
    _png_filter_row,
    decode_image,
    png_decode,
    png_encode,
    synth_image,
)


def _chunks(b):
    pos, out = 8, []
    while pos < len(b):
        (ln,) = struct.unpack(">I", b[pos:pos + 4])
        out.append((b[pos + 4:pos + 8], b[pos + 8:pos + 8 + ln]))
        pos += 12 + ln
    return out


def _make(color, rows, w, h, extra=b""):
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    raw = b"".join(b"\x00" + rows[y].tobytes() for y in range(h))
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + extra
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_roundtrip_every_filter(ft):
    # encoder forward filters and decoder inverse filters are
    # independent implementations; a roundtrip pins both
    arr = synth_image("png_t", 23, 17)
    out = png_decode(png_encode(arr, filter_type=ft))
    assert np.array_equal(out, arr)


def test_wire_format_filter0_scanlines():
    """Filter-0 IDAT must decompress to exactly the raw scanlines with
    a 0 filter byte each — the RFC 2083 layout, so third-party readers
    can consume our output."""
    arr = synth_image("png_w", 9, 5)
    b = png_encode(arr, filter_type=0)
    idat = b"".join(d for t, d in _chunks(b) if t == b"IDAT")
    want = b"".join(b"\x00" + arr[y].tobytes() for y in range(5))
    assert zlib.decompress(idat) == want
    assert [t for t, _ in _chunks(b)] == [b"IHDR", b"IDAT", b"IEND"]


def test_gray_graya_rgba_palette_decode():
    g = np.arange(12, dtype=np.uint8).reshape(3, 4)
    want_g = np.repeat(g[:, :, None], 3, axis=2)
    assert np.array_equal(png_decode(_make(0, g[:, :, None], 4, 3)), want_g)

    ga = np.dstack([g, np.full((3, 4), 7, np.uint8)])
    assert np.array_equal(png_decode(_make(4, ga, 4, 3)), want_g)

    rgb = synth_image("png_c", 4, 3)
    rgba = np.dstack([rgb, np.full((3, 4), 9, np.uint8)])
    assert np.array_equal(png_decode(_make(6, rgba, 4, 3)), rgb)

    pal = np.arange(30, dtype=np.uint8).reshape(10, 3)
    idx = (np.arange(12, dtype=np.uint8) % 10).reshape(3, 4)
    got = png_decode(
        _make(3, idx[:, :, None], 4, 3, extra=_png_chunk(b"PLTE", pal.tobytes()))
    )
    assert np.array_equal(got, pal[idx])


def test_crc_corruption_detected():
    b = bytearray(png_encode(synth_image("png_crc", 8, 8)))
    b[40] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        png_decode(bytes(b))


# --- hand-built fixtures for depths 1/2/4/16 and Adam7 ------------------
# (the product encoder is 8-bit RGB non-interlaced by design, so these
# streams are packed by the test from the RFC 2083 wire layout)


def _build(w, h, depth, color, interlace, scan, plte=None):
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    out = PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _png_chunk(b"PLTE", plte)
    return out + _png_chunk(b"IDAT", zlib.compress(scan)) + _png_chunk(
        b"IEND", b"")


def _pack_rows(samples, w, h, depth, ch):
    """(h, w*ch) sample values -> filter-0 scanlines at any depth
    (MSB-first bit packing, big-endian 16-bit)."""
    out = bytearray()
    for y in range(h):
        out.append(0)
        if depth == 8:
            out += bytes(int(v) for v in samples[y])
        elif depth == 16:
            for v in samples[y]:
                out += struct.pack(">H", int(v))
        else:
            bits = []
            for v in samples[y]:
                bits += [int(v) >> (depth - 1 - i) & 1 for i in range(depth)]
            while len(bits) % 8:
                bits.append(0)
            for i in range(0, len(bits), 8):
                byte = 0
                for b in bits[i:i + 8]:
                    byte = (byte << 1) | b
                out.append(byte)
    return bytes(out)


def _adam7_scan(img, w, h, depth, ch):
    scan = bytearray()
    for x0, y0, xs, ys in _ADAM7:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue
        sub = img[y0::ys, x0::xs].reshape(ph, pw * ch)
        scan += _pack_rows(sub, pw, ph, depth, ch)
    return bytes(scan)


@pytest.mark.parametrize("depth,scale", [(1, 255), (2, 85), (4, 17)])
def test_subbyte_gray_decode(depth, scale):
    rng = np.random.default_rng(depth)
    sam = rng.integers(0, 1 << depth, (7, 13))
    out = png_decode(_build(13, 7, depth, 0, 0, _pack_rows(sam, 13, 7, depth, 1)))
    assert (out[..., 0] == sam * scale).all()
    assert (out[..., 0] == out[..., 1]).all() and (out[..., 0] == out[..., 2]).all()


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_subbyte_palette_decode(depth):
    """Palette indices must stay RAW at sub-byte depths (no gray
    scaling) — they index PLTE."""
    rng = np.random.default_rng(depth + 10)
    n = 1 << depth
    pal = rng.integers(0, 256, (n, 3)).astype(np.uint8)
    idx = rng.integers(0, n, (7, 13))
    out = png_decode(
        _build(13, 7, depth, 3, 0, _pack_rows(idx, 13, 7, depth, 1),
               plte=pal.tobytes()))
    assert (out == pal[idx]).all()


def test_16bit_decode_keeps_high_byte():
    rng = np.random.default_rng(16)
    sam = rng.integers(0, 65536, (7, 13 * 3))
    out = png_decode(_build(13, 7, 16, 2, 0, _pack_rows(sam, 13, 7, 16, 3)))
    assert (out == (sam >> 8).reshape(7, 13, 3)).all()
    ga = rng.integers(0, 65536, (7, 13 * 2))
    out = png_decode(_build(13, 7, 16, 4, 0, _pack_rows(ga, 13, 7, 16, 2)))
    want = (ga >> 8).reshape(7, 13, 2)[:, :, 0]
    assert (out[..., 0] == want).all() and (out[..., 2] == want).all()


def test_16bit_filtered_rows():
    """Filters operate on BYTES with bpp = 6 for 16-bit RGB; forward
    via the encoder-side _png_filter_row (independent of the decoder's
    inverses)."""
    rng = np.random.default_rng(61)
    sam = rng.integers(0, 65536, (9, 11 * 3))
    raw_rows = [
        np.frombuffer(_pack_rows(sam[y:y + 1], 11, 1, 16, 3)[1:], np.uint8)
        for y in range(9)
    ]
    scan = bytearray()
    prev = np.zeros(11 * 6, dtype=np.uint8)
    for y, row in enumerate(raw_rows):
        ft = y % 5
        scan.append(ft)
        scan += _png_filter_row(ft, row, prev, 6).tobytes()
        prev = row
    out = png_decode(_build(11, 9, 16, 2, 0, bytes(scan)))
    assert (out == (sam >> 8).reshape(9, 11, 3)).all()


def test_adam7_interlaced_rgb():
    rng = np.random.default_rng(7)
    for (w, h) in [(11, 9), (1, 1), (2, 2), (3, 1), (1, 5), (4, 4), (16, 16)]:
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        out = png_decode(_build(w, h, 8, 2, 1, _adam7_scan(img, w, h, 8, 3)))
        assert (out == img).all(), (w, h)


def test_adam7_interlaced_1bit_gray():
    """Each Adam7 pass packs its own sub-byte rows (pass-width bit
    padding, not image-width)."""
    rng = np.random.default_rng(17)
    sam = rng.integers(0, 2, (6, 10))
    out = png_decode(_build(10, 6, 1, 0, 1, _adam7_scan(sam, 10, 6, 1, 1)))
    assert (out[..., 0] == sam * 255).all()


def test_illegal_ihdr_combinations_rejected():
    # sub-byte RGB and 16-bit palette are illegal per RFC 2083 §4.1.1
    for depth, color in [(2, 2), (4, 6), (16, 3), (3, 0)]:
        ihdr = struct.pack(">IIBBBBB", 4, 3, depth, color, 0, 0, 0)
        b = PNG_MAGIC + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
        with pytest.raises(ValueError, match="bit depth|color type"):
            png_decode(b)
    # interlace methods beyond 0/1
    ihdr = struct.pack(">IIBBBBB", 4, 3, 8, 2, 0, 0, 2)
    b = PNG_MAGIC + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="interlace"):
        png_decode(b)


def test_truncated_pass_data_rejected():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (9, 11, 3)).astype(np.uint8)
    scan = _adam7_scan(img, 11, 9, 8, 3)
    with pytest.raises(ValueError, match="size mismatch"):
        png_decode(_build(11, 9, 8, 2, 1, scan[:-20]))
    with pytest.raises(ValueError, match="size mismatch"):
        png_decode(_build(11, 9, 8, 2, 1, scan + b"\x00" * 8))


def test_router_and_spark_pipeline_png(spark):
    """PNG blobs must flow through the SAME multimodal operators as
    RAWI: identical phash (it is computed on decoded pixels)."""
    from vtshaver_spark.functions.codecs import rawi_encode
    from vtshaver_spark.operators.multimodal import decode_features

    arrs = {f"i{i}": synth_image(f"i{i}", 24 + i, 18 + i) for i in range(4)}
    rows = [(k, png_encode(a)) for k, a in arrs.items()] + [
        (k + "_rawi", rawi_encode(a)) for k, a in arrs.items()
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")

    fps = {
        r["image_id"]: r["phash_check"] for r in decode_features(df).collect()
    }
    for k in arrs:
        assert fps[k] == fps[k + "_rawi"], k
