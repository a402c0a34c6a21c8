"""Byte-edge image and audio codecs, in plain numpy and stdlib.

The reference touches bytes only at the edges (gzip sniff on input,
optional gzip on output — /root/reference/src/shave.cpp:242-247,
289-295; that gzip handling lives in sources/mvt.py). The functions
here are called from the multimodal operators' Arrow-batched kernels,
after all relational pruning.

Image handling: the engine's own ``RAWI`` format (12-byte header +
uint8 RGB payload) is the one image format every driver query makes
and decodes. WebP-lossless also decodes natively (functions/webp.py);
there is no PNG, JPEG, GIF or TIFF decoder. Those formats and lossy
WebP fall back to PIL when importable and raise NotImplementedError
otherwise — ``decode_image`` is the sniffing router.
"""

from __future__ import annotations

import io
import struct
import zlib

import numpy as np

RAWI_MAGIC = b"RAWI"

try:  # optional: the only decoder of PNG, JPEG, GIF, TIFF and lossy WebP
    from PIL import Image

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
            "expected RAWI bytes; for format-sniffing decode (RAWI/"
            "WebP-lossless/PIL-backed) use decode_image"
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


def decode_image(b: bytes) -> np.ndarray:
    """Sniff-and-decode an image blob to (h, w, 3) uint8 RGB.
    RAWI and WebP-lossless decode natively (no third-party libs);
    anything else, PNG, JPEG, GIF and TIFF included, falls back to
    PIL when present, else raises NotImplementedError naming the
    missing capability."""
    b = bytes(b)
    if b[:4] == RAWI_MAGIC:
        return rawi_decode(b)
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
        return np.asarray(Image.open(io.BytesIO(b)).convert("RGB"))
    raise NotImplementedError(
        "unrecognized image format (not RAWI/WebP-lossless) "
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
