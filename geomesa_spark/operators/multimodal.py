"""Multimodal (image) column operators — Arrow-batched, schema-typed.

Images are opaque ``binary`` columns + typed metadata (w, h, fmt), per the
input_hint. The Spark-side plumbing (schemas, batch iteration, partitioning)
is real; the pixel codec is the engine's deterministic GSI1 codec
(sources/images.py) because this container has no PIL/libjpeg — real
PNG/JPEG support is gated behind an import-try and raises
NotImplementedError with a clear message otherwise.

Operators:
* decode_stats     — per-image pixel statistics (mean/std per channel)
* transcode        — decode -> re-encode (fmt change); the lossy path is the
                     PSNR>=40dB verification surface
* resize           — nearest-neighbor resize (numpy), new bytes + w/h
* avg_hash         — 64-bit average-hash over the luma channel (a real
                     perceptual hash for dedup joins)
* frame_sample     — every-n-th video frame fan-out (GSV1 keyframe
                     container; real MP4 gated on ffmpeg) — each frame an
                     image blob feeding the operators above
* audio_features   — duration / RMS / zero-crossings per clip (GSA1 PCM
                     container; real wav/mp3 gated on libsndfile)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geomesa_spark.sources.images import decode_image, psnr


def _decode(blob: bytes) -> np.ndarray:
    """Decode an image column value. GSI1 native; PNG/JPEG only with PIL."""
    if blob[:4] == b"GSI1":
        return decode_image(blob)
    try:
        import io

        from PIL import Image  # noqa: F401  (absent in this container)
        return np.asarray(Image.open(io.BytesIO(blob)).convert("RGB"))
    except ImportError as e:
        raise NotImplementedError(
            "real PNG/JPEG decoding requires PIL/libjpeg which is not "
            "installed; engine blobs (GSI1) decode natively") from e


def _reencode(px: np.ndarray, fmt: str, seed: int = 0) -> bytes:
    h, w = px.shape[:2]
    if fmt == "jpeg":
        q = ((px // 4) * 4 + 2).astype(np.uint8)
        import zlib
        return (b"GSI1j" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
                + zlib.compress(q.tobytes(), level=1))
    import zlib
    return (b"GSI1p" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + zlib.compress(px.tobytes(), level=1))


def decode_stats(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Adds mean_r/mean_g/mean_b/std_lum columns via mapInPandas."""
    from pyspark.sql.types import DoubleType, StructField, StructType
    schema = StructType(df.schema.fields + [
        StructField("mean_r", DoubleType()), StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()), StructField("std_lum", DoubleType())])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = np.zeros((len(pdf), 4))
            for i, b in enumerate(pdf[bytes_col]):
                px = _decode(bytes(b)).astype(np.float64)
                lum = px.mean(axis=2)
                stats[i] = (px[..., 0].mean(), px[..., 1].mean(),
                            px[..., 2].mean(), lum.std())
            pdf = pdf.copy()
            pdf["mean_r"], pdf["mean_g"], pdf["mean_b"], pdf["std_lum"] = stats.T
            yield pdf

    return df.mapInPandas(gen, schema)


def transcode(df: DataFrame, to_fmt: str, bytes_col: str = "bytes") -> DataFrame:
    """decode -> re-encode every image; bytes/fmt columns replaced."""
    schema = df.schema

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for b in pdf[bytes_col]:
                px = _decode(bytes(b))
                out.append(_reencode(px, to_fmt))
            pdf = pdf.copy()
            pdf[bytes_col] = out
            if "fmt" in pdf.columns:
                pdf["fmt"] = to_fmt
            yield pdf

    return df.mapInPandas(gen, schema)


def resize(df: DataFrame, new_w: int, new_h: int, bytes_col: str = "bytes") -> DataFrame:
    """Nearest-neighbor resize; updates bytes + w/h columns."""
    schema = df.schema

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for b, fmt in zip(pdf[bytes_col], pdf.get("fmt", ["png"] * len(pdf))):
                px = _decode(bytes(b))
                ys = (np.arange(new_h) * px.shape[0] // new_h)
                xs = (np.arange(new_w) * px.shape[1] // new_w)
                rp = px[ys][:, xs]
                out.append(_reencode(rp, fmt))
            pdf = pdf.copy()
            pdf[bytes_col] = out
            if "w" in pdf.columns:
                pdf["w"] = np.int32(new_w)
            if "h" in pdf.columns:
                pdf["h"] = np.int32(new_h)
            yield pdf

    return df.mapInPandas(gen, schema)


def avg_hash(df: DataFrame, bytes_col: str = "bytes",
             out_col: str = "ahash") -> DataFrame:
    """64-bit average hash of the luma channel (8x8 grid) — the engine's
    real perceptual hash for near-duplicate joins."""

    def fn(blobs: pd.Series) -> pd.Series:
        out = np.zeros(len(blobs), dtype=np.int64)
        for i, b in enumerate(blobs):
            px = _decode(bytes(b)).astype(np.float64).mean(axis=2)
            h, w = px.shape
            ys = (np.arange(8) * h // 8)
            xs = (np.arange(8) * w // 8)
            grid = px[ys][:, xs]
            bits = (grid > grid.mean()).ravel()
            v = 0
            for bit in bits:
                v = (v << 1) | int(bit)
            out[i] = np.int64(np.uint64(v).astype(np.int64))
        return pd.Series(out)

    from pyspark.sql.types import LongType
    return df.withColumn(out_col, F.pandas_udf(fn, LongType())(F.col(bytes_col)))


def verify_fidelity(original: DataFrame, processed: DataFrame, *,
                    key: str = "image_id", min_psnr: float = 40.0) -> DataFrame:
    """Per-row fidelity check (the north rule's verification invariant):
    decoded-pixel PSNR >= 40 dB for lossy rows / exact for lossless, plus
    caption equality. Returns per-row (key, psnr_db, caption_ok, fidelity_ok).
    """
    a = original.select(F.col(key), F.col("bytes").alias("bytes_a"),
                        F.col("caption").alias("caption_a"))
    b = processed.select(F.col(key), F.col("bytes").alias("bytes_b"),
                         F.col("caption").alias("caption_b"),
                         F.col("fmt").alias("fmt_b"))
    joined = a.join(b, key)

    def fn(ba: pd.Series, bb: pd.Series) -> pd.Series:
        vals = np.zeros(len(ba))
        for i, (x, y) in enumerate(zip(ba, bb)):
            vals[i] = psnr(_decode(bytes(x)), _decode(bytes(y)))
        return pd.Series(vals)

    from pyspark.sql.types import DoubleType
    out = joined.withColumn("psnr_db", F.pandas_udf(fn, DoubleType())("bytes_a", "bytes_b"))
    return (out
            .withColumn("caption_ok", F.col("caption_a") == F.col("caption_b"))
            .withColumn("fidelity_ok",
                        F.col("caption_ok")
                        & (F.col("psnr_db") >= F.when(F.col("fmt_b") == "jpeg",
                                                      F.lit(min_psnr)).otherwise(F.lit(1e9))
                           ).cast("boolean"))
            .select(key, "psnr_db", "caption_ok", "fidelity_ok"))


def frame_sample(df: DataFrame, every_n: int, bytes_col: str = "bytes",
                 id_col: str = "video_id") -> DataFrame:
    """Video frame sampling over the GSV1 keyframe container: every
    ``every_n``-th frame (always including frame 0) emitted as its own
    row ``(id, frame_idx, frame_bytes)`` — the standard fan-out shape for
    a frame-level training pipeline (each output frame is a GSI1 image
    blob that feeds decode_stats/resize/avg_hash directly).

    Arrow-batched ``mapInPandas``: one python pass per batch, partition-
    preserving (no shuffle — frame fan-out happens inside the task, and a
    downstream repartition can rebalance if frames/video is skewed).
    Real MP4/H.264 input raises NotImplementedError inside the decoder
    (ffmpeg/PyAV not installed); the container format is the only stubbed
    layer — schema, batching, and fan-out are the production plumbing."""
    from geomesa_spark.sources.media import decode_video_frames

    out_schema = f"{id_col} long, frame_idx int, frame_bytes binary"

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, blobs = [], [], []
            for vid, blob in zip(pdf[id_col], pdf[bytes_col]):
                frames = decode_video_frames(bytes(blob))
                for i in range(0, len(frames), every_n):
                    ids.append(vid)
                    idxs.append(i)
                    blobs.append(frames[i])
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "frame_idx": pd.Series(idxs, dtype="int32"),
                                "frame_bytes": blobs})

    return df.select(id_col, bytes_col).mapInPandas(sample, out_schema)


def audio_features(df: DataFrame, bytes_col: str = "bytes",
                   id_col: str = "audio_id") -> DataFrame:
    """Per-clip audio features over the GSA1 PCM container: duration,
    RMS energy, zero-crossing count — the standard cheap quality/language
    gating features for an audio training pipeline.  Arrow-batched
    ``mapInPandas``, partition-preserving; real formats (wav/mp3/flac)
    raise NotImplementedError inside the decoder (libsndfile/ffmpeg not
    installed) — only the codec layer is stubbed."""
    from geomesa_spark.sources.media import decode_audio

    out_schema = (f"{id_col} long, sample_rate int, n_samples int, "
                  "duration_ms long, rms_milli long, zero_crossings long")

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, blob in zip(pdf[id_col], pdf[bytes_col]):
                rate, x = decode_audio(bytes(blob))
                n = len(x)
                rms = float(np.sqrt(np.mean(x * x))) if n else 0.0
                zc = int(np.count_nonzero(np.signbit(x[1:]) !=
                                          np.signbit(x[:-1]))) if n > 1 else 0
                rows.append((aid, rate, n, n * 1000 // rate,
                             int(rms * 1000), zc))
            yield pd.DataFrame(rows, columns=[id_col, "sample_rate",
                                              "n_samples", "duration_ms",
                                              "rms_milli", "zero_crossings"])

    return df.select(id_col, bytes_col).mapInPandas(feats, out_schema)
