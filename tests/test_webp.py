"""WebP lossless (VP8L) codec: exact round-trips through every encoder
feature, hand-crafted bitstreams for the decode-only feature set (2D
neighborhood distances, meta prefix groups, all 14 predictor modes
checked against an independent spec-formula forward pass), container
sniffing in the image router, format-preserving resize, and PIL-gated
libwebp interop (functions/webp.py)."""

import hashlib
import struct

import numpy as np
import pytest

from vtshaver_spark.functions import webp as W
from vtshaver_spark.functions.codecs import HAS_PIL, decode_image
from vtshaver_spark.functions.webp import webp_decode, webp_encode


def _noise(h, w, ch=3, seed=7):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, ch)).astype(np.uint8)


def _grad(h, w):
    g = np.add.outer(np.arange(h) * 3, np.arange(w) * 2).astype(np.uint8)
    return np.stack([g, g[::-1], (g.astype(int) * 2 % 256).astype(np.uint8)],
                    axis=2)


# ---------------------------------------------------------------------------
# Encoder feature round-trips (exact equality — it's lossless)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "kwargs",
    [
        {},
        {"subtract_green": True},
        {"predictor": 1},
        {"predictor": 2},
        {"predictor": 3},
        {"predictor": 4},
        {"predictor": 7},
        {"predictor": 11},
        {"predictor": 12},
        {"color_transform": (5, 250, 3)},
        {"cache_bits": 6},
        {"lz77": False},
        {"subtract_green": True, "predictor": 7, "cache_bits": 4},
    ],
    ids=lambda kw: "+".join(f"{k}={v}" for k, v in kw.items()) or "plain",
)
def test_roundtrip_features(kwargs):
    for arr in (_noise(37, 53), _grad(29, 41)):  # non-multiple-of-16 dims
        out = webp_decode(webp_encode(arr, **kwargs))
        assert out.shape == (*arr.shape[:2], 4)
        assert (out[..., :3] == arr).all()
        assert (out[..., 3] == 255).all()


def test_roundtrip_rgba_alpha():
    rgba = _noise(23, 31, ch=4, seed=11)
    enc = webp_encode(rgba)
    assert (webp_decode(enc) == rgba).all()
    # alpha-hint bit in the VP8L header (bit 28 of the stream after
    # the signature byte: 14+14 size bits, LSB-first)
    r = W._LSBReader(enc[21:])
    r.read_bits(28)
    assert r.read_bit() == 1
    opaque = _noise(23, 31, seed=12)
    r = W._LSBReader(webp_encode(opaque)[21:])
    r.read_bits(28)
    assert r.read_bit() == 0


@pytest.mark.parametrize("n_colors", [2, 4, 13, 200])
def test_roundtrip_palette_bundling(n_colors):
    """Color indexing at every sub-byte bundling width (8/4/2/1
    indices per green byte for <=2/<=4/<=16/<=256 colors)."""
    rng = np.random.default_rng(n_colors)
    pal = rng.integers(0, 256, (n_colors, 3)).astype(np.uint8)
    # widths that do NOT divide the packing factor, to hit the ragged
    # last packed byte in each row
    arr = pal[rng.integers(0, n_colors, (19, 31))]
    out = webp_decode(webp_encode(arr, palette=True))
    assert (out[..., :3] == arr).all()


def test_degenerate_all_same_length_table():
    """A plane whose symbols all take the same code length makes the
    inner code-length code single-symbol — a ZERO-bit code. The writer
    emitting 1 bit per entry here desyncs the whole stream (regression:
    subtract-green residuals covering all 256 blue values)."""
    g = np.add.outer(np.arange(29) * 3, np.arange(41) * 2).astype(np.uint8)
    arr = np.stack(
        [g, g[::-1], (g.astype(int) * 2 % 256).astype(np.uint8)], axis=2)
    out = webp_decode(webp_encode(arr, subtract_green=True))
    assert (out[..., :3] == arr).all()


def test_degenerate_single_symbol_above_255():
    """An all-cache-hit stream's only green symbol is 280+key (> 255,
    so the simple form can't carry it): the normal form must write it
    as a zero-bit code. First pixel 0x00000000 hits the zero-initialized
    cache, so a fully transparent-black image with lz77 off is exactly
    this stream."""
    rgba = np.zeros((9, 7, 4), dtype=np.uint8)
    out = webp_decode(webp_encode(rgba, cache_bits=4, lz77=False))
    assert (out == rgba).all()


def test_palette_rejects_too_many_colors_and_transform_mix():
    with pytest.raises(ValueError, match="256 colors"):
        webp_encode(_noise(32, 32), palette=True)
    with pytest.raises(ValueError, match="exclusive"):
        webp_encode(_grad(8, 8), palette=True, subtract_green=True)


def test_encode_deterministic_golden():
    """Byte-level determinism pin: the encoder has no entropy source,
    so a fixed input must produce fixed bytes across calls."""
    arr = _grad(24, 40)
    e1, e2 = webp_encode(arr), webp_encode(arr)
    assert e1 == e2
    assert hashlib.md5(e1).hexdigest() == "af473d5cd34b20bd803dd01d375ebca4"


def test_container_structure():
    arr = _grad(10, 200)  # w-1 = 199 needs >7 bits of the 14-bit field
    enc = webp_encode(arr)
    assert enc[:4] == b"RIFF" and enc[8:12] == b"WEBP"
    assert enc[12:16] == b"VP8L"
    (riff_len,) = struct.unpack("<I", enc[4:8])
    assert riff_len == len(enc) - 8
    (chunk_len,) = struct.unpack("<I", enc[16:20])
    assert len(enc) == 20 + chunk_len + (chunk_len % 2)
    assert enc[20] == 0x2F  # VP8L signature byte
    r = W._LSBReader(enc[21:])
    assert r.read_bits(14) + 1 == 200
    assert r.read_bits(14) + 1 == 10


def test_decode_pixel_cap_overridable():
    """Corrupt 14-bit header dims can demand 16384^2 pixels from a
    tiny stream (zero-bit codes consume no input) — the cap rejects
    that by name; a caller with a real big image can raise it."""
    arr = _grad(8, 8)
    enc = webp_encode(arr)
    with pytest.raises(ValueError, match="max_pixels"):
        webp_decode(enc, max_pixels=16)
    assert (webp_decode(enc, max_pixels=64)[..., :3] == arr).all()


def test_decode_rejects_non_vp8l():
    with pytest.raises(ValueError, match="RIFF/WEBP"):
        webp_decode(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)
    lossy = b"RIFF" + struct.pack("<I", 12) + b"WEBPVP8 " + b"\x00" * 4
    with pytest.raises(NotImplementedError, match="VP8 "):
        webp_decode(lossy)


# ---------------------------------------------------------------------------
# Hand-crafted bitstreams: decoder features the encoder never emits.
# The builders below write container + headers with the module's bit
# writer but choose symbols/structure themselves.
# ---------------------------------------------------------------------------


def _container(wpx, hpx, body_fn):
    wr = W._LSBWriter()
    wr.write(wpx - 1, 14)
    wr.write(hpx - 1, 14)
    wr.write(0, 1)  # alpha hint
    wr.write(0, 3)  # version
    body_fn(wr)
    payload = b"\x2f" + wr.flush()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) % 2:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _write_group(wr, freqs, cache_size=0):
    codes = []
    for f, alphabet in zip(freqs, (256 + 24 + cache_size, 256, 256, 256, 40)):
        f = dict(f) or {0: 1}
        lengths = W._huff_lengths(f, max_len=15)
        lengths += [0] * (alphabet - len(lengths))
        codes.append(W._write_prefix_code(wr, lengths))
    return codes


def _emit(wr, codemap, sym):
    code, ln = codemap[sym]
    if ln:
        wr.write_code(code, ln)


def test_decode_2d_neighborhood_distance():
    """Plane code 1 -> (dx=0, dy=1): a 12-pixel copy at 'one row up'
    must replicate the literal first row three times. The encoder only
    emits plain-coded distances, so this is decode-only territory."""
    row = [0xFF000000 | (c << 16) | ((c * 3 & 0xFF) << 8) | (c * 7 & 0xFF)
           for c in (10, 99, 200, 31)]
    lcode, lextra, lebits = W._lz77_code(12)

    def body(wr):
        wr.write(0, 1)  # no transforms
        wr.write(0, 1)  # no color cache (cache-info precedes meta bit)
        wr.write(0, 1)  # no meta prefix codes
        gf = {}
        for p in row:
            gf[(p >> 8) & 0xFF] = gf.get((p >> 8) & 0xFF, 0) + 1
        gf[256 + lcode] = 1
        g, r, b, a, d = _write_group(
            wr,
            (gf, {(p >> 16) & 0xFF: 1 for p in row},
             {p & 0xFF: 1 for p in row}, {255: 4}, {0: 1}),
        )
        for p in row:
            _emit(wr, g, (p >> 8) & 0xFF)
            _emit(wr, r, (p >> 16) & 0xFF)
            _emit(wr, b, p & 0xFF)
            _emit(wr, a, 255)
        _emit(wr, g, 256 + lcode)
        if lebits:
            wr.write(lextra, lebits)
        _emit(wr, d, 0)  # dist symbol 0 -> plane value 1 -> (0, 1)

    out = webp_decode(_container(4, 4, body))
    want = np.zeros((4, 4, 4), np.uint8)
    for x, p in enumerate(row):
        want[:, x] = [(p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF, 255]
    assert (out == want).all()


def test_decode_meta_prefix_groups():
    """Meta prefix codes (huffman image): an 8x4 image with meta_bits=2
    selects per-16px-tile code groups; the left tile's group only knows
    literal 0xAA, the right tile's only 0x55 — a decoder ignoring the
    group map cannot produce this output."""

    def body(wr):
        wr.write(0, 1)  # no transforms
        wr.write(0, 1)  # top level: no color cache (precedes meta bit)
        wr.write(1, 1)  # meta prefix codes present
        wr.write(0, 3)  # meta_bits = 2 -> 4x4 tiles, 2x1 meta image
        wr.write(0, 1)  # meta substream: no color cache
        g, r, b, a, d = _write_group(
            wr, ({0: 1, 1: 1}, {0: 1}, {0: 1}, {255: 1}, {0: 1}))
        for gid in (0, 1):  # meta pixel's green byte = group id
            _emit(wr, g, gid)
            _emit(wr, r, 0)
            _emit(wr, b, 0)
            _emit(wr, a, 255)
        groups = [
            _write_group(wr, ({lit: 1}, {lit: 1}, {lit: 1}, {255: 1}, {0: 1}))
            for lit in (0xAA, 0x55)
        ]
        for _y in range(4):
            for x in range(8):
                gid = 0 if x < 4 else 1
                g, r, b, a, d = groups[gid]
                lit = 0xAA if gid == 0 else 0x55
                _emit(wr, g, lit)
                _emit(wr, r, lit)
                _emit(wr, b, lit)
                _emit(wr, a, 255)

    out = webp_decode(_container(8, 4, body))
    assert (out[:, :4, :3] == 0xAA).all()
    assert (out[:, 4:, :3] == 0x55).all()
    assert (out[..., 3] == 255).all()


# --- decode-only predictor modes vs an INDEPENDENT spec forward pass ----


def _avg2(a, b):
    return (a + b) >> 1


def _spec_pred(m, L, T, TL, TR):
    """Predictor modes transcribed from the VP8L spec prose in this
    test — independent of the module's _inv_predictor, so a transcription
    error on either side breaks the round-trip below."""
    if m == 0:
        return (255, 0, 0, 0)
    if m == 1:
        return L
    if m == 2:
        return T
    if m == 3:
        return TR
    if m == 4:
        return TL
    if m == 5:
        return tuple(_avg2(_avg2(L[i], TR[i]), T[i]) for i in range(4))
    if m == 6:
        return tuple(_avg2(L[i], TL[i]) for i in range(4))
    if m == 7:
        return tuple(_avg2(L[i], T[i]) for i in range(4))
    if m == 8:
        return tuple(_avg2(TL[i], T[i]) for i in range(4))
    if m == 9:
        return tuple(_avg2(T[i], TR[i]) for i in range(4))
    if m == 10:
        return tuple(_avg2(_avg2(L[i], TL[i]), _avg2(T[i], TR[i]))
                     for i in range(4))
    if m == 11:  # Select: p = L+T-TL; nearer of T, L by L1 distance
        pL = sum(abs(T[i] - TL[i]) for i in range(4))  # == |p - L|
        pT = sum(abs(L[i] - TL[i]) for i in range(4))  # == |p - T|
        return T if pT <= pL else L
    if m == 12:  # ClampAddSubtractFull
        return tuple(min(255, max(0, L[i] + T[i] - TL[i])) for i in range(4))
    if m == 13:  # ClampAddSubtractHalf
        return tuple(
            min(255, max(0, _avg2(L[i], T[i])
                         + int((_avg2(L[i], T[i]) - TL[i]) / 2)))
            for i in range(4))
    raise ValueError(m)


def _forward_residuals(rgba, modes, bits):
    h, w = rgba.shape[:2]
    A = rgba[..., 3].astype(int)
    R = rgba[..., 0].astype(int)
    G = rgba[..., 1].astype(int)
    B = rgba[..., 2].astype(int)

    def px(y, x):
        return (A[y, x], R[y, x], G[y, x], B[y, x])

    res = [p.copy() for p in (A, R, G, B)]
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                p = (255, 0, 0, 0)
            elif y == 0:
                p = px(0, x - 1)
            elif x == 0:
                p = px(y - 1, 0)
            else:
                m = modes[y >> bits, x >> bits]
                L, T, TL = px(y, x - 1), px(y - 1, x), px(y - 1, x - 1)
                # rightmost column: TR wraps to the current row's first
                # pixel (the spec's contiguous-buffer rule)
                TR = px(y - 1, x + 1) if x + 1 < w else px(y, 0)
                p = _spec_pred(m, L, T, TL, TR)
            for i, plane in enumerate(res):
                plane[y, x] = (plane[y, x] - p[i]) & 0xFF
    return res  # (a, r, g, b)


def _predictor_stream(rgba, modes, size_bits):
    h, w = rgba.shape[:2]
    ra, rr, rg, rb = _forward_residuals(rgba, modes, size_bits)

    def body(wr):
        wr.write(1, 1)  # transform present
        wr.write(0, 2)  # predictor transform
        wr.write(size_bits - 2, 3)
        mode_pix = (0xFF000000 | (modes.astype(np.uint32) << 8)).reshape(-1)
        W._encode_substream(wr, mode_pix, cache_bits=0, lz77=True)
        wr.write(0, 1)  # end of transforms
        flat = (
            (np.asarray(ra, np.uint32) << 24)
            | (np.asarray(rr, np.uint32) << 16)
            | (np.asarray(rg, np.uint32) << 8)
            | np.asarray(rb, np.uint32)
        ).reshape(-1)
        W._encode_substream(wr, flat, cache_bits=0, lz77=True,
                            top_level=True)

    return _container(w, h, body)


@pytest.mark.parametrize("mode", [0, 5, 6, 8, 9, 10, 13])
def test_decode_only_predictor_modes(mode):
    """The encoder supports modes 1/2/3/4/7/11/12; these seven are
    decode-only. Residuals come from the test's own spec-formula
    forward pass, so decode == original proves the inverse."""
    rgba = _noise(13, 19, ch=4, seed=3)
    tw, th = (19 + 3) >> 2, (13 + 3) >> 2
    modes = np.full((th, tw), mode, dtype=np.int32)
    out = webp_decode(_predictor_stream(rgba, modes, size_bits=2))
    assert (out == rgba).all(), f"predictor mode {mode}"


def test_decode_mixed_tile_predictor_modes():
    """Every tile gets a different random mode — pins the per-tile
    (y>>bits, x>>bits) mode lookup, not just the formulas."""
    rng = np.random.default_rng(3)
    rgba = _noise(13, 19, ch=4, seed=3)
    tw, th = (19 + 3) >> 2, (13 + 3) >> 2
    modes = rng.integers(0, 14, (th, tw)).astype(np.int32)
    out = webp_decode(_predictor_stream(rgba, modes, size_bits=2))
    assert (out == rgba).all()


# ---------------------------------------------------------------------------
# Router + pipeline integration
# ---------------------------------------------------------------------------


def test_router_sniffs_vp8l():
    arr = _grad(16, 24)
    out = decode_image(webp_encode(arr))
    assert out.shape == arr.shape and (out == arr).all()


@pytest.mark.skipif(HAS_PIL, reason="error contract without PIL only")
def test_router_lossy_vp8_raises_by_name_without_pil():
    lossy = b"RIFF" + struct.pack("<I", 12) + b"WEBPVP8 " + b"\x00" * 4
    with pytest.raises(NotImplementedError, match="VP8"):
        decode_image(lossy)


def test_router_does_not_confuse_wav_riff():
    """WAV is also RIFF — the router must not hand RIFF/WAVE bytes to
    the WebP decoder."""
    wav = b"RIFF" + struct.pack("<I", 12) + b"WAVEfmt " + b"\x00" * 4
    with pytest.raises(NotImplementedError, match="unrecognized"):
        decode_image(wav)


@pytest.mark.skipif(not HAS_PIL, reason="PIL not installed")
def test_pil_cross_decoder_parity():
    """Wire-level interop when libwebp (PIL) is present: our bytes
    must decode identically in libwebp, and libwebp's lossless output
    (which uses the 2D distance table our encoder avoids) must decode
    identically in ours."""
    import io

    from PIL import Image

    arr = _grad(40, 56)
    theirs = np.asarray(
        Image.open(io.BytesIO(webp_encode(arr))).convert("RGB"))
    assert (theirs == arr).all()

    buf = io.BytesIO()
    Image.fromarray(arr).save(buf, format="WEBP", lossless=True)
    assert (webp_decode(buf.getvalue())[..., :3] == arr).all()
