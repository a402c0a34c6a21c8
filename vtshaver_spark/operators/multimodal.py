"""Multimodal (image/audio/video-as-binary) pipeline operators.

Opaque ``binary`` columns + typed metadata, processed with
``mapInPandas`` kernels (Arrow batches, vectorized numpy inside — no
per-row Python objects beyond the unavoidable bytes). RAWI and
WebP-lossless decode natively (functions/codecs.py, functions/webp.py
— stdlib + numpy, no PIL); PNG, JPEG, GIF, TIFF and lossy WebP decode
only through PIL when it is importable. The engine's RAWI interchange
format keeps the full pipeline executable and testable at zero codec
cost:

    generate -> decode -> feature-extract (mean RGB, luma, phash)

Scale notes: kernels are placed AFTER all relational pruning (decode-
last discipline, mirroring the reference's layer-prune-before-feature-
decode — /root/reference/src/shave.cpp:260-276); batch size is bounded
by spark.sql.execution.arrow.maxRecordsPerBatch so executor memory is
bytes-per-image x batch, independent of partition row count.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from vtshaver_spark.functions.codecs import (
    RAWI_MAGIC,
    decode_image,
    rawi_encode,
    resize_nearest,
    synth_gradient_image,
    synth_image,
)


def generate_image_bytes(df: DataFrame) -> DataFrame:
    """Materialize deterministic RAWI bytes + dims for each row
    (synthetic corpus bootstrap; real pipelines read bytes from the
    lake). Reads ``image_id``; adds: bytes, w, h, fmt, phash."""
    schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("bytes", T.BinaryType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("phash", T.LongType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            blobs, ws, hs, phs = [], [], [], []
            for iid in pdf["image_id"].astype(str):
                w = 32 + (int.from_bytes(iid.encode()[-4:], "big") % 97)
                h = 32 + (int.from_bytes(iid.encode()[-4:], "little") % 73)
                arr = synth_image(iid, w, h)
                blobs.append(rawi_encode(arr))
                ws.append(w)
                hs.append(h)
                phs.append(_phash64(arr))
            pdf = pdf.copy()
            pdf["bytes"] = blobs
            pdf["w"] = np.array(ws, dtype=np.int32)
            pdf["h"] = np.array(hs, dtype=np.int32)
            pdf["fmt"] = "rawi"
            pdf["phash"] = np.array(phs, dtype=np.int64)
            yield pdf

    return df.mapInPandas(kernel, schema=schema)


def _phash64(arr: np.ndarray) -> int:
    """Average-hash perceptual fingerprint: downsample luma to 8x8,
    threshold at the mean (sign-folded into int64)."""
    luma = arr.astype(np.float64).mean(axis=2)
    small = resize_nearest(luma[..., None].astype(np.uint8), 8, 8)[..., 0]
    bits = (small.astype(np.float64) >= small.mean()).flatten()
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def decode_features(df: DataFrame) -> DataFrame:
    """Decode the ``bytes`` column and feature-extract: mean RGB, luma
    stats, phash — the typed-metadata extraction stage. Every other
    column rides through; ``bytes`` is dropped."""
    schema = T.StructType(
        [f for f in df.schema.fields if f.name != "bytes"]
        + [
            T.StructField("mean_r", T.DoubleType()),
            T.StructField("mean_g", T.DoubleType()),
            T.StructField("mean_b", T.DoubleType()),
            T.StructField("luma_std", T.DoubleType()),
            T.StructField("phash_check", T.LongType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            stats = {k: [] for k in ("mean_r", "mean_g", "mean_b", "luma_std", "phash_check")}
            for blob in pdf["bytes"]:
                arr = decode_image(blob)
                means = arr.reshape(-1, 3).mean(axis=0)
                stats["mean_r"].append(float(means[0]))
                stats["mean_g"].append(float(means[1]))
                stats["mean_b"].append(float(means[2]))
                stats["luma_std"].append(float(arr.astype(np.float64).mean(axis=2).std()))
                stats["phash_check"].append(_phash64(arr))
            out = pdf.drop(columns=["bytes"]).copy()
            for k, v in stats.items():
                out[k] = v
            yield out

    return df.mapInPandas(kernel, schema=schema)


def frame_sample(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Video frame sampling: emit every n-th frame of each
    ``video_bytes`` blob as its own (video_id, frame_idx, bytes) row;
    ``every_n < 1`` raises ValueError before any job runs.

    The one container demuxed is a RAWI concatenation (the
    deterministic interchange ``generate_video_bytes`` writes): each
    frame is a 12-byte ``RAWI`` header (magic, u32le w, u32le h) and
    ``w*h*3`` RGB bytes. A frame without the magic, with a short
    header or with a payload past the end of the blob raises
    ValueError naming the video id and the frame's byte offset, so
    other containers (GIF, mp4, ...) and truncated videos fail instead
    of yielding garbage frames."""
    if every_n < 1:
        raise ValueError(f"frame_sample: every_n must be >= 1, got {every_n}")
    schema = T.StructType(
        [
            T.StructField("video_id", T.StringType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("bytes", T.BinaryType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for vid, blob in zip(pdf["video_id"], pdf["video_bytes"]):
                blob = bytes(blob)
                off = 0
                i = 0
                while off < len(blob):
                    head = blob[off : off + 12]
                    if len(head) < 12 or head[:4] != RAWI_MAGIC:
                        raise ValueError(
                            f"video {vid!r}: no RAWI frame header at byte {off}"
                        )
                    w, h = struct.unpack("<II", head[4:])
                    size = 12 + w * h * 3
                    if off + size > len(blob):
                        raise ValueError(
                            f"video {vid!r}: frame at byte {off} needs "
                            f"{size} bytes, {len(blob) - off} left"
                        )
                    if i % every_n == 0:
                        ids.append(vid)
                        idxs.append(i)
                        frames.append(blob[off : off + size])
                    off += size
                    i += 1
            if ids:
                yield pd.DataFrame(
                    {"video_id": ids, "frame_idx": np.array(idxs, dtype=np.int32), "bytes": frames}
                )

    return df.mapInPandas(kernel, schema=schema)


def generate_video_bytes(df: DataFrame) -> DataFrame:
    """Materialize a deterministic RAWI-concatenation "video" per row
    (the container shape frame_sample demuxes). Expects columns
    ``video_id, n_frames, w, h, seed``; adds ``video_bytes``. Frame
    ``i`` is ``synth_gradient_image(seed + i*997, w, h)`` — integer
    closed-form pixels, so a SQL oracle can replay any frame's
    average-hash exactly (the video_frame_phash driver query does)."""
    schema = T.StructType(
        df.schema.fields + [T.StructField("video_bytes", T.BinaryType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            blobs = []
            for _, r in pdf.iterrows():
                blobs.append(b"".join(
                    rawi_encode(synth_gradient_image(
                        int(r["seed"]) + i * 997, int(r["w"]), int(r["h"])
                    ))
                    for i in range(int(r["n_frames"]))
                ))
            pdf = pdf.copy()
            pdf["video_bytes"] = blobs
            yield pdf

    return df.mapInPandas(kernel, schema=schema)


def generate_audio_bytes(df: DataFrame) -> DataFrame:
    """Materialize deterministic WAV bytes for each clip row
    (synthetic corpus bootstrap; real pipelines read blobs from the
    lake). Expects columns ``clip_id, n_samples, sample_rate,
    n_channels, seed, scale`` and adds ``audio_bytes``.

    The waveform is pure integer arithmetic so an SQL oracle can
    replay every sample exactly (no trig, no RNG):

        raw[t, c]  = ((t*48271 + seed + c*1013) % 19997) - 9998
        pcm[t, c]  = clip(raw * scale, -32768, 32767)

    ``scale`` >= 4 drives peaks past full scale, exercising the
    clip-ratio path."""
    schema = T.StructType(
        df.schema.fields + [T.StructField("audio_bytes", T.BinaryType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from vtshaver_spark.functions.codecs import wav_encode

        for pdf in batches:
            if pdf.empty:
                continue
            blobs = []
            for _, r in pdf.iterrows():
                n, ch = int(r["n_samples"]), int(r["n_channels"])
                t = np.arange(n, dtype=np.int64)
                chans = [
                    (t * 48271 + int(r["seed"]) + c * 1013) % 19997 - 9998
                    for c in range(ch)
                ]
                pcm = np.clip(
                    np.stack(chans, axis=1) * int(r["scale"]), -32768, 32767
                ).astype(np.int16)
                blobs.append(wav_encode(pcm, int(r["sample_rate"])))
            pdf = pdf.copy()
            pdf["audio_bytes"] = blobs
            yield pdf

    return df.mapInPandas(kernel, schema=schema)


def audio_features(df: DataFrame) -> DataFrame:
    """Decode ``audio_bytes`` WAV blobs (native RIFF/PCM codec — no
    third-party libs)
    and emit typed audio metadata: sample rate, channels, duration,
    RMS level, zero-crossing rate, clipping ratio. The audio member of
    the decode-last multimodal family: runs AFTER relational pruning,
    Arrow-batched, executor memory bounded by bytes-per-clip x batch."""
    schema = T.StructType(
        [f for f in df.schema.fields if f.name != "audio_bytes"]
        + [
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_channels", T.IntegerType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("zero_cross_rate", T.DoubleType()),
            T.StructField("clip_ratio", T.DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from vtshaver_spark.functions.codecs import wav_decode

        for pdf in batches:
            if pdf.empty:
                continue
            cols = {k: [] for k in (
                "sample_rate", "n_channels", "n_samples", "duration_s",
                "rms", "zero_cross_rate", "clip_ratio",
            )}
            for blob in pdf["audio_bytes"]:
                arr, rate = wav_decode(blob)
                mono = arr.astype(np.float64).mean(axis=1)
                n = len(mono)
                cols["sample_rate"].append(rate)
                cols["n_channels"].append(arr.shape[1])
                cols["n_samples"].append(n)
                cols["duration_s"].append(n / rate)
                cols["rms"].append(float(np.sqrt(np.mean(mono ** 2))) if n else 0.0)
                cols["zero_cross_rate"].append(
                    float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
                    if n > 1 else 0.0
                )
                # int32 first: np.abs(int16(-32768)) overflows back to
                # -32768 and a hard-clipped negative peak would be missed
                cols["clip_ratio"].append(
                    float(np.mean(np.abs(arr.astype(np.int32)) >= 32767))
                    if n else 0.0
                )
            out = pdf.drop(columns=["audio_bytes"]).copy()
            for k, v in cols.items():
                out[k] = v
            yield out

    return df.mapInPandas(kernel, schema=schema)

