"""Synthetic video/audio containers — the multimodal columns' fake codecs.

The brief's multimodal contract: image/audio/video ride as opaque BINARY
columns; the Spark-side plumbing (schema, partitioning, Arrow batch shape)
is real and tested, while the *real* decoders (ffmpeg/libsndfile) are
honestly gated — these deterministic containers stand in so every operator
downstream of decode can be exercised end-to-end.

Formats (little-endian):
  video "GSV1": magic + u16 n_frames, then per frame u32 length + a GSI1
                image blob (sources/images.py codec) — a keyframe-only
                container, one seekable blob per frame like MJPEG.
  audio "GSA1": magic + u32 sample_rate + u32 n_samples, then s16le PCM.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from geomesa_spark.sources.images import encode_image

VIDEO_MAGIC = b"GSV1"
AUDIO_MAGIC = b"GSA1"


def encode_video(seed: int, n_frames: int, w: int = 16, h: int = 12) -> bytes:
    """Deterministic multi-frame container; frame i is the GSI1 image for
    seed*1000+i (so any frame is independently reproducible)."""
    parts = [VIDEO_MAGIC + int(n_frames).to_bytes(2, "little")]
    for i in range(n_frames):
        blob = encode_image(seed * 1000 + i, w, h, "png")
        parts.append(len(blob).to_bytes(4, "little") + blob)
    return b"".join(parts)


def decode_video_frames(blob: bytes) -> list[bytes]:
    """All frame blobs (GSI1 each).  Raises on foreign containers — real
    MP4/H.264 decode needs ffmpeg, unavailable here."""
    if blob[:4] != VIDEO_MAGIC:
        raise NotImplementedError(
            "not a GSV1 blob: real video decode requires ffmpeg, "
            "unavailable in this container")
    n = int.from_bytes(blob[4:6], "little")
    out, off = [], 6
    for _ in range(n):
        ln = int.from_bytes(blob[off:off + 4], "little")
        off += 4
        out.append(blob[off:off + ln])
        off += ln
    return out


def encode_audio(seed: int, n_samples: int, sample_rate: int = 8000) -> bytes:
    """Deterministic PCM: a seed-keyed mix of two tones + LCG noise."""
    rng = np.arange(n_samples, dtype=np.float64)
    f1 = 100.0 + (seed * 37 % 300)
    f2 = 400.0 + (seed * 91 % 1200)
    sig = (0.5 * np.sin(2 * np.pi * f1 * rng / sample_rate)
           + 0.3 * np.sin(2 * np.pi * f2 * rng / sample_rate))
    # LCG noise (deterministic, library-free; python ints wrap explicitly)
    s = seed * 2654435761 % (1 << 63) + 1
    a, c, m = 6364136223846793005, 1442695040888963407, (1 << 64)
    states = np.empty(n_samples, dtype=np.float64)
    for i in range(n_samples):
        s = (s * a + c) % m
        states[i] = s
    sig = sig + (states / float(1 << 64) - 0.5) * 0.05
    pcm = np.clip(sig * 32767.0, -32768, 32767).astype("<i2")
    return (AUDIO_MAGIC + int(sample_rate).to_bytes(4, "little")
            + int(n_samples).to_bytes(4, "little") + pcm.tobytes())


def decode_audio(blob: bytes) -> tuple[int, np.ndarray]:
    """(sample_rate, float64 samples in [-1, 1])."""
    if blob[:4] != AUDIO_MAGIC:
        raise NotImplementedError(
            "not a GSA1 blob: real audio decode requires libsndfile/ffmpeg, "
            "unavailable in this container")
    rate = int.from_bytes(blob[4:8], "little")
    n = int.from_bytes(blob[8:12], "little")
    pcm = np.frombuffer(blob[12:12 + 2 * n], dtype="<i2")
    return rate, pcm.astype(np.float64) / 32767.0


def synthetic_videos(spark: SparkSession, n: int,
                     max_frames: int = 12) -> DataFrame:
    """(video_id, n_frames, bytes) — driver-side generation, parallelized
    by Spark after a repartition (blobs are KBs; generation is cheap)."""
    rows = []
    for i in range(n):
        nf = 2 + (i * 7) % (max_frames - 1)
        rows.append((i, nf, bytearray(encode_video(i, nf))))
    return spark.createDataFrame(rows, "video_id long, n_frames int, bytes binary")


def synthetic_audio(spark: SparkSession, n: int,
                    max_samples: int = 4000) -> DataFrame:
    rows = []
    for i in range(n):
        ns = 500 + (i * 131) % (max_samples - 500)
        rows.append((i, bytearray(encode_audio(i, ns))))
    return spark.createDataFrame(rows, "audio_id long, bytes binary")
