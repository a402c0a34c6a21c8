"""Byte-edge image and audio codecs, in plain numpy and stdlib.

The reference touches bytes only at the edges (gzip sniff on input,
optional gzip on output — /root/reference/src/shave.cpp:242-247,
289-295; that gzip handling lives in sources/mvt.py). The functions
here are called from the multimodal operators' Arrow-batched kernels,
after all relational pruning.

Image handling: PNG is decoded/encoded natively (pure stdlib zlib +
numpy — chunk parsing with CRC verification, all five scanline
filters, gray/RGB/palette/alpha color types), so the most common
lossless interchange format needs no third-party libs. The engine's
own ``RAWI`` format (12-byte header + uint8 RGB payload) remains the
zero-cost test interchange. WebP-lossless also decodes natively
(functions/webp.py); there is no JPEG, GIF or TIFF decoder. Remaining
formats (JPEG, GIF, TIFF, lossy WebP, ...) fall back to PIL when
importable and raise NotImplementedError otherwise — ``decode_image``
is the sniffing router.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

RAWI_MAGIC = b"RAWI"

try:  # optional real-format codecs (absent in this container)
    from PIL import Image  # noqa: F401

    HAS_PIL = True
except ImportError:
    HAS_PIL = False


# ---------------------------------------------------------------------------
# RAWI image codec (deterministic; the in-container test interchange)
# ---------------------------------------------------------------------------

def rawi_encode(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> RAWI bytes."""
    h, w, c = arr.shape
    assert c == 3
    return RAWI_MAGIC + struct.pack("<II", w, h) + arr.astype(np.uint8).tobytes()


def rawi_decode(b: bytes) -> np.ndarray:
    if bytes(b[:4]) != RAWI_MAGIC:
        raise ValueError(
            "expected RAWI bytes; for format-sniffing decode (RAWI/PNG/"
            "PIL-backed) use decode_image"
        )
    w, h = struct.unpack("<II", bytes(b[4:12]))
    return np.frombuffer(bytes(b[12:]), dtype=np.uint8).reshape(h, w, 3)


def synth_image(image_id: str, w: int, h: int) -> np.ndarray:
    """Deterministic synthetic pixels for an image id (seeded gradient +
    hash-noise; no RNG state)."""
    seed = zlib.crc32(image_id.encode()) & 0xFFFFFFFF
    yy, xx = np.mgrid[0:h, 0:w]
    base = (xx * 255 // max(w - 1, 1)).astype(np.uint8)
    grad = (yy * 255 // max(h - 1, 1)).astype(np.uint8)
    noise = ((xx * 31 + yy * 17 + seed) % 251).astype(np.uint8)
    return np.stack([base, grad, noise], axis=-1)


def synth_gradient_image(seed: int, w: int, h: int) -> np.ndarray:
    """Deterministic gradient+noise pixels from an INTEGER seed — the
    oracle-replayable sibling of :func:`synth_image` (whose crc32 seed
    has no SQL twin). Every channel is integer arithmetic on
    (x, y, seed), so a closed-form SQL expression can reproduce any
    pixel — and hence the average-hash — exactly (the video_frame_phash
    oracle does)."""
    yy, xx = np.mgrid[0:h, 0:w]
    base = (xx * 255 // max(w - 1, 1)).astype(np.uint8)
    grad = (yy * 255 // max(h - 1, 1)).astype(np.uint8)
    noise = ((xx * 131 + yy * 197 + int(seed)) % 251).astype(np.uint8)
    return np.stack([base, grad, noise], axis=-1)


# ---------------------------------------------------------------------------
# PNG codec (pure stdlib zlib + numpy — no PIL required)
# ---------------------------------------------------------------------------

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# color type -> legal bit depths (RFC 2083 §4.1.1); sub-byte depths
# exist only for grayscale and palette images
_PNG_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}

# Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_filter_row(ft: int, row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Forward scanline filter (encoder side), RFC 2083 §6."""
    cur = row.astype(np.int32)
    left = np.zeros_like(cur)
    left[bpp:] = cur[:-bpp]
    up = prev.astype(np.int32)
    upleft = np.zeros_like(up)
    upleft[bpp:] = up[:-bpp]
    if ft == 0:
        return row
    if ft == 1:
        return ((cur - left) & 0xFF).astype(np.uint8)
    if ft == 2:
        return ((cur - up) & 0xFF).astype(np.uint8)
    if ft == 3:
        return ((cur - ((left + up) >> 1)) & 0xFF).astype(np.uint8)
    if ft == 4:
        p = left + up - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
        pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
        return ((cur - pred) & 0xFF).astype(np.uint8)
    raise ValueError(f"bad PNG filter type {ft}")


def _png_unfilter_row(ft: int, row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Inverse scanline filter (decoder side). None/Sub/Up vectorize
    (Sub is a per-lane prefix sum mod 256); Average/Paeth carry a
    sequential left dependency and fall back to a per-byte loop."""
    if ft == 0:
        return row
    if ft == 2:
        return ((row.astype(np.int32) + prev) & 0xFF).astype(np.uint8)
    if ft == 1:
        out = np.empty_like(row)
        for lane in range(bpp):
            out[lane::bpp] = (
                np.cumsum(row[lane::bpp], dtype=np.int64) & 0xFF
            ).astype(np.uint8)
        return out
    out = np.empty_like(row)
    if ft == 3:
        for i in range(len(row)):
            a = int(out[i - bpp]) if i >= bpp else 0
            out[i] = (int(row[i]) + ((a + int(prev[i])) >> 1)) & 0xFF
        return out
    if ft == 4:
        for i in range(len(row)):
            a = int(out[i - bpp]) if i >= bpp else 0
            b = int(prev[i])
            c = int(prev[i - bpp]) if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (int(row[i]) + pred) & 0xFF
        return out
    raise ValueError(f"bad PNG filter type {ft}")


def png_encode(arr: np.ndarray, filter_type: int = 0, level: int = 6) -> bytes:
    """(h, w, 3) uint8 RGB -> PNG bytes (color type 2, bit depth 8,
    non-interlaced). ``filter_type`` applies one filter to every
    scanline — 0 (None) is the deterministic default; 1-4 exist so the
    decoder's inverse filters are testable against an independent
    forward implementation."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    bpp = 3
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.uint8)
    for y in range(h):
        row = arr[y].reshape(-1)
        raw.append(filter_type)
        raw += _png_filter_row(filter_type, row, prev, bpp).tobytes()
        prev = row
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), level))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter_pass(raw, pos, w, h, depth, ch):
    """Unfilter one (sub)image of ``h`` scanlines starting at byte
    ``pos`` of the decompressed stream and expand it to 8-bit samples
    (h, w*ch). Sub-byte depths unpack MSB-first and grayscale-scale
    (255/(2^d - 1)); palette indices stay raw; 16-bit reduces to the
    high byte. Returns (samples, next_pos)."""
    rowbytes = (w * ch * depth + 7) >> 3
    bpp = max(1, (depth * ch) >> 3)
    need = (1 + rowbytes) * h
    if pos + need > raw.size:
        raise ValueError("PNG pixel data size mismatch")
    rows = raw[pos:pos + need].reshape(h, 1 + rowbytes)
    out = np.empty((h, rowbytes), dtype=np.uint8)
    prev = np.zeros(rowbytes, dtype=np.uint8)
    for y in range(h):
        prev = _png_unfilter_row(int(rows[y, 0]), rows[y, 1:], prev, bpp)
        out[y] = prev
    if depth == 8:
        samples = out
    elif depth == 16:
        samples = out.reshape(h, rowbytes >> 1, 2)[:, :, 0]
    else:  # 1 / 2 / 4: MSB-first packed samples
        bits = np.unpackbits(out, axis=1)[:, : w * ch * depth]
        vals = bits.reshape(h, w * ch, depth)
        # raw sample values; grayscale range-scaling happens in the
        # caller (palette indices must stay raw)
        samples = np.zeros((h, w * ch), dtype=np.uint8)
        for i in range(depth):
            samples = (samples << 1) | vals[:, :, i]
    return np.ascontiguousarray(samples), pos + need


def png_decode(b: bytes, max_pixels: int = 1 << 26) -> np.ndarray:
    """PNG bytes -> (h, w, 3) uint8 RGB. Pure stdlib+numpy: supports
    every legal IHDR combination — color types 0/2/3/4/6 (gray, RGB,
    palette, gray+A, RGBA — alpha dropped, gray broadcast, palette
    resolved via PLTE), bit depths 1/2/4/8/16 (sub-byte gray scaled to
    full range, 16-bit reduced to the high byte), all five scanline
    filters, and both interlace methods (Adam7 passes each unfilter as
    their own sub-image, then scatter into the pass grid). Chunk CRCs
    are verified. ``max_pixels`` bounds the canvas allocation (the
    decompression-bomb guard); raise it for legitimately larger images
    — the same escape hatch webp_decode exposes (ADVICE r5)."""
    b = bytes(b)
    if b[:8] != PNG_MAGIC:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos < len(b):
        (length,) = struct.unpack(">I", b[pos:pos + 4])
        ctype = b[pos + 4:pos + 8]
        data = b[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack(">I", b[pos + 8 + length:pos + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        pos += 12 + length
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if color not in _PNG_CHANNELS:
        raise ValueError(f"bad PNG color type {color}")
    if depth not in _PNG_DEPTHS[color]:
        raise ValueError(f"PNG bit depth {depth} illegal for color type {color}")
    if comp != 0 or filt != 0:
        raise ValueError("bad PNG compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    if color == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    ch = _PNG_CHANNELS[color]
    # decompression-bomb guards:
    # corrupt IHDR dims must not drive a multi-GB canvas allocation,
    # and IDAT must not inflate past the exact scanline budget — the
    # expected size is computable from the header, so decompress with
    # that bound instead of materializing unbounded output first
    if w * h > max_pixels:
        raise ValueError(f"PNG {w}x{h} exceeds pixel cap")
    if interlace == 0:
        passes = [(0, 0, 1, 1, w, h)]
    else:
        passes = []
        for x0, y0, xs, ys in _ADAM7:
            pw = (w - x0 + xs - 1) // xs
            ph = (h - y0 + ys - 1) // ys
            if pw > 0 and ph > 0:
                passes.append((x0, y0, xs, ys, pw, ph))
    expected = sum(
        (1 + ((pw * ch * depth + 7) >> 3)) * ph
        for _x0, _y0, _xs, _ys, pw, ph in passes
    )
    d = zlib.decompressobj()
    raw = np.frombuffer(d.decompress(bytes(idat), expected + 1), dtype=np.uint8)
    if raw.size != expected:
        raise ValueError("PNG pixel data size mismatch")
    if interlace == 0:
        out, pos = _png_unfilter_pass(raw, 0, w, h, depth, ch)
    else:  # Adam7: seven independently-filtered sub-images
        out = np.zeros((h, w * ch), dtype=np.uint8)
        pos = 0
        for x0, y0, xs, ys, pw, ph in passes:
            sub, pos = _png_unfilter_pass(raw, pos, pw, ph, depth, ch)
            grid = out.reshape(h, w, ch)
            grid[y0::ys, x0::xs] = sub.reshape(ph, pw, ch)
    if pos != raw.size:
        raise ValueError("PNG pixel data size mismatch")
    if depth < 8 and color == 0:
        out = out * (255 // ((1 << depth) - 1))  # 1->255, 2->85, 4->17
    px = out.reshape(h, w, ch)
    if color == 2:
        return px
    if color == 6:
        return np.ascontiguousarray(px[:, :, :3])
    if color == 0:
        return np.repeat(px, 3, axis=2)
    if color == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    return plte[px[:, :, 0]]  # color == 3


def decode_image(b: bytes) -> np.ndarray:
    """Sniff-and-decode an image blob to (h, w, 3) uint8 RGB.
    RAWI, PNG and WebP-lossless decode natively (no third-party
    libs); anything else, JPEG, GIF and TIFF included, falls back to
    PIL when present, else raises NotImplementedError naming the
    missing capability."""
    b = bytes(b)
    if b[:4] == RAWI_MAGIC:
        return rawi_decode(b)
    if b[:8] == PNG_MAGIC:
        return png_decode(b)
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        if b[12:16] == b"VP8L":
            from vtshaver_spark.functions.webp import webp_decode

            return webp_decode(b)[..., :3]
        if not HAS_PIL:
            raise NotImplementedError(
                f"WebP chunk {bytes(b[12:16])!r} (lossy VP8 / extended "
                "VP8X need a VP8 decoder) and PIL is unavailable"
            )
    if HAS_PIL:
        import io

        from PIL import Image

        return np.asarray(Image.open(io.BytesIO(b)).convert("RGB"))
    raise NotImplementedError(
        "unrecognized image format (not RAWI/PNG/WebP-lossless) "
        "and PIL is unavailable"
    )


# ---------------------------------------------------------------------------
# WAV codec (RIFF PCM, pure stdlib struct + numpy — the audio modality)
# ---------------------------------------------------------------------------

WAV_MAGIC = b"RIFF"


def wav_encode(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """int16 PCM -> WAV bytes. ``samples`` is (n,) mono or
    (n, channels); little-endian RIFF/WAVE with a canonical 16-byte
    fmt chunk — readable by every audio tool."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * ch * 2, ch * 2, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(b: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> ((n, channels) int16 array, sample_rate). Supports
    PCM (format tag 1) at 16-bit depth; walks the RIFF chunk list, so
    extra chunks (LIST/INFO metadata, fact) are skipped correctly.
    Compressed WAV (non-PCM tags) raises NotImplementedError."""
    b = bytes(b)
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(b):
        ctype = b[pos:pos + 4]
        (ln,) = struct.unpack("<I", b[pos + 4:pos + 8])
        payload = b[pos + 8:pos + 8 + ln]
        if ctype == b"fmt ":
            fmt = struct.unpack("<HHIIHH", payload[:16])
        elif ctype == b"data":
            data = payload
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    tag, ch, rate, _, _, depth = fmt
    if tag != 1:
        raise NotImplementedError(f"WAV format tag {tag} (only PCM=1)")
    if depth != 16:
        raise NotImplementedError(f"WAV bit depth {depth} (only 16)")
    arr = np.frombuffer(data, dtype="<i2")
    return arr.reshape(-1, ch), rate


def synth_wave(seed: int, n: int, sample_rate: int = 16000) -> np.ndarray:
    """Deterministic int16 mono test tone: two integer-frequency
    harmonics + integer hash noise, all closed-form in (seed, t)."""
    t = np.arange(n, dtype=np.float64)
    f1 = 110.0 + (seed % 13) * 55.0
    f2 = 220.0 + (seed % 7) * 110.0
    wave = (
        9000.0 * np.sin(2 * np.pi * f1 * t / sample_rate)
        + 5000.0 * np.sin(2 * np.pi * f2 * t / sample_rate)
    )
    noise = ((t.astype(np.int64) * 48271 + seed) % 997) - 498
    return np.clip(wave + noise * 4.0, -32768, 32767).astype(np.int16)


def resize_nearest(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    h, w = arr.shape[:2]
    xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    return arr[yi][:, xi]
