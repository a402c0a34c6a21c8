"""Malformed-input robustness across every native codec: a pipeline
ingesting web-scale blobs feeds decoders arbitrary garbage, so every
decode must terminate promptly with a clean exception family
(ValueError / NotImplementedError / struct.error / zlib.error /
OverflowError / Index-ish errors from truncation) — never hang, never
return a wrong-shape array silently.

Strategy: take one small valid stream per format, then (a) truncate at
every prefix length, (b) flip bytes at deterministic positions, and
assert each decode either reproduces a valid image contract (correct
dtype/up-to-3-dim shape) or raises from the allowed family within the
per-test alarm budget (conftest arms SIGALRM)."""

import struct
import zlib

import numpy as np
import pytest
from synthetic import flat_gif, flat_jpeg, flat_png, flat_tiff, sf_tile_rows

from vtshaver_spark.functions.codecs import (
    decode_image,
    rawi_encode,
    synth_image,
    wav_decode,
    wav_encode,
)
from vtshaver_spark.functions.webp import webp_encode
from vtshaver_spark.sources.mvt import (
    MVTError,
    _write_varint,
    decode_geometry,
    rows_to_tile,
    tile_to_rows,
)

# every exception a decoder may legitimately raise on garbage: the
# explicit validation family plus the unavoidable low-level errors of
# parsing truncated/corrupt buffers with stdlib/numpy primitives
ALLOWED = (
    ValueError,
    NotImplementedError,
    struct.error,
    zlib.error,
    OverflowError,
    IndexError,
    KeyError,
    EOFError,
)


def _streams():
    img = synth_image("fuzz", 16, 12)
    pal = (np.arange(16 * 12) % 5 * 50).astype(np.uint8).reshape(12, 16)
    pal3 = np.stack([pal, pal, pal], axis=2)
    return {
        "rawi": rawi_encode(img),
        "png": flat_png(),
        "jpeg": flat_jpeg(),
        "gif": flat_gif(),
        "tiff": flat_tiff(),
        "webp": webp_encode(pal3, palette=True),
        "webp_pred": webp_encode(img, predictor=2, cache_bits=4),
    }


def _check(blob):
    try:
        out = decode_image(blob)
    except ALLOWED:
        return
    assert isinstance(out, np.ndarray) and out.dtype == np.uint8
    assert out.ndim == 3 and out.shape[2] == 3


@pytest.mark.parametrize("fmt", sorted(_streams()))
def test_truncation_every_prefix(fmt):
    blob = _streams()[fmt]
    step = max(1, len(blob) // 160)  # ~160 prefixes per format
    for n in range(0, len(blob), step):
        _check(blob[:n])


@pytest.mark.parametrize("fmt", sorted(_streams()))
def test_byte_flips(fmt):
    blob = bytearray(_streams()[fmt])
    rng = np.random.default_rng(hash(fmt) & 0xFFFF)
    positions = rng.integers(0, len(blob), 220)
    xors = rng.integers(1, 256, 220)
    for pos, x in zip(positions, xors):
        mut = bytearray(blob)
        mut[int(pos)] ^= int(x)
        _check(bytes(mut))


def test_wav_truncation_and_flips():
    pcm = (np.sin(np.arange(800) / 10) * 12000).astype(np.int16)
    blob = wav_encode(pcm, sample_rate=8000)
    for n in range(0, len(blob), max(1, len(blob) // 120)):
        try:
            out = wav_decode(blob[:n])
        except ALLOWED:
            continue
        assert isinstance(out[0], np.ndarray)
    rng = np.random.default_rng(99)
    for pos in rng.integers(0, len(blob), 120):
        mut = bytearray(blob)
        mut[int(pos)] ^= 0x55
        try:
            wav_decode(bytes(mut))
        except ALLOWED:
            pass


def test_mvt_truncation_and_flips():
    """Fuzz the real SF fixture tile through tile_to_rows: every
    truncation/flip either decodes to a row list or raises MVTError
    (a ValueError) — the single-exception contract decode_tiles'
    on_error='skip' relies on."""
    from vtshaver_spark.sources.mvt import tile_to_rows

    with open(
        "/root/reference/test/fixtures/tiles/sf_16_10465_25329.vector.pbf",
        "rb",
    ) as f:
        blob = f.read()
    for n in range(0, len(blob), max(1, len(blob) // 120)):
        try:
            rows = tile_to_rows(blob[:n])
        except ALLOWED:
            continue
        assert isinstance(rows, list)
    rng = np.random.default_rng(7)
    for pos in rng.integers(0, len(blob), 200):
        mut = bytearray(blob)
        mut[int(pos)] ^= 0xFF
        try:
            rows = tile_to_rows(bytes(mut))
        except ALLOWED:
            continue
        assert isinstance(rows, list)


def _command_stream(geom_type, i):
    """Packed MVT geometry for feature ``i``: a MoveTo point, a
    three-vertex LineString or a closed four-vertex Polygon ring."""
    def zz(n):
        return (n << 1) ^ (n >> 31)

    x0, y0 = 64 * i % 4000, 4000 - 48 * i % 4000
    out = bytearray()
    _write_varint(out, (1 << 3) | 1)  # MoveTo(1)
    _write_varint(out, zz(x0))
    _write_varint(out, zz(y0))
    if geom_type == "Point":
        return bytes(out)
    steps = [(30, 0), (0, -30), (-30, 0)][: 2 if geom_type == "LineString" else 3]
    _write_varint(out, (len(steps) << 3) | 2)  # LineTo(n)
    for dx, dy in steps:
        _write_varint(out, zz(dx))
        _write_varint(out, zz(dy))
    if geom_type == "Polygon":
        _write_varint(out, (1 << 3) | 7)  # ClosePath
    return bytes(out)


def _fuzz_tiles():
    """A raw and a gzip tile of the synthetic SF census: 7 layers,
    real command-stream geometry, int and string values, and no id on
    every fifth feature besides the census's own id-less one."""
    rows = []
    for i, (_, _, _, layer, fid, geom_type, *_, props, _) in enumerate(sf_tile_rows()):
        rows.append({
            "layer": layer,
            "feature_id": None if i % 5 == 0 else fid,
            "geom_type": geom_type,
            "geometry": _command_stream(geom_type, i),
            "props": props,
            "prop_types": {
                k: "int" if v.isdigit() else "string" for k, v in props.items()
            },
        })
    return {"raw": rows_to_tile(rows), "gzip": rows_to_tile(rows, compress=True)}


def _check_tile(blob):
    """Decode ``blob`` and every decoded geometry: each either
    succeeds or raises MVTError, the one exception decode_tiles'
    on_error="skip" catches."""
    try:
        for r in tile_to_rows(blob):
            decode_geometry(r["geometry"])
    except MVTError:
        pass


def test_mvt_truncation_and_flips_in_repo():
    """Every truncation prefix and seeded one- to three-byte flips of
    both tiles decode or raise MVTError, and nothing else."""
    rng = np.random.default_rng(11)
    for blob in _fuzz_tiles().values():
        rows = tile_to_rows(blob)
        assert len({r["layer"] for r in rows}) == 7
        assert any(r["feature_id"] is None for r in rows)
        for n in range(len(blob)):
            _check_tile(blob[:n])
        for _ in range(1500):
            mut = bytearray(blob)
            for pos in rng.integers(0, len(blob), rng.integers(1, 4)):
                mut[int(pos)] ^= int(rng.integers(1, 256))
            _check_tile(bytes(mut))
