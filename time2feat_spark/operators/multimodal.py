"""Multimodal (image/audio/video) operators over binary media columns.

Each operator is one Arrow-batched `mapInPandas` stage:
- `image_features`: per blob, its size and the mean, std and
  thumbnail (8x8 by default) of a pseudo-decoded grayscale image;
- `video_frame_sample`: one row per sampled frame (every k-th of a
  frame count derived from blob size, capped), with that frame's
  pseudo-decoded mean and std;
- `audio_frame_stats`: decodes PCM WAV (8- or 16-bit, channels
  averaged) with the stdlib `wave` module and emits one RMS row per
  frame; other formats raise.

The pseudo-decode of image and video is deterministic and content
derived: the digest is computed JVM-side (`xxhash64(substring(media,
1, 64))`), so the heavy binary column is pruned before rows cross the
Arrow boundary and the Python stage sees (id, seed, n_bytes) only; the
pixels are one whole-batch numpy splitmix64 pass over a (rows x pixels)
uint64 matrix, with no Python loop per row. Audio needs the bytes, so
its WAV decode is the one per-blob step (the codec boundary); framing
and RMS are vectorized per blob.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_GOLD = np.uint64(0x9E3779B97F4A7C15)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized over a uint64 array."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _fake_decode_matrix(seeds: np.ndarray, n: int) -> np.ndarray:
    """Deterministic content-derived pseudo-bytes for a whole batch:
    rows = one media blob (identified by its JVM xxhash64 seed), columns =
    n pseudo-byte positions. One vectorized splitmix64 pass — stands in
    for a codec so downstream math is testable at real batch shapes."""
    s = seeds.astype(np.uint64, copy=False)[:, None]
    j = (np.arange(n, dtype=np.uint64) + np.uint64(1))[None, :]
    return (_mix64(s + _GOLD * j) & np.uint64(0xFF)).astype(np.uint8)


def _with_media_digest(df: DataFrame, blob_col: str, id_col: str) -> DataFrame:
    """JVM-side digest + size; prunes the binary column away before the
    Arrow boundary (media bytes dominate row size)."""
    return df.where(F.col(blob_col).isNotNull()).select(
        id_col,
        F.xxhash64(F.substring(F.col(blob_col), 1, 64)).alias("_seed"),
        F.length(F.col(blob_col)).cast("long").alias("_nb"),
    )


def image_features(
    df: DataFrame,
    blob_col: str = "media",
    id_col: str = "doc_id",
    thumb: int = 8,
) -> DataFrame:
    """Pseudo-decode -> thumb x thumb grayscale -> basic stats + a
    thumbnail vector usable for embedding-style dedup. Blobs with the
    same first 64 bytes get the same pixels. Arrow-batched; whole-batch
    numpy (no per-row Python)."""
    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("n_bytes", LongType()),
            StructField("mean_px", DoubleType()),
            StructField("std_px", DoubleType()),
            StructField("thumb_vec", ArrayType(DoubleType())),
        ]
    )
    n_px = thumb * thumb

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            px = _fake_decode_matrix(
                pdf["_seed"].to_numpy(), n_px
            ).astype(np.float64)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": pdf["_nb"],
                    "mean_px": px.mean(axis=1),
                    "std_px": px.std(axis=1),
                    "thumb_vec": list(px / 255.0),
                }
            )

    return _with_media_digest(df, blob_col, id_col).mapInPandas(run, schema)


def video_frame_sample(
    df: DataFrame,
    blob_col: str = "media",
    id_col: str = "doc_id",
    every_k: int = 10,
    max_frames: int = 8,
    thumb: int = 8,
) -> DataFrame:
    """Frame-sample a video (every k-th frame, capped) -> per-sampled-
    frame thumbnail stats. The frame count is one per 4 KB of blob, and
    each frame is the splitmix64 pseudo-decode of the blob's seed
    advanced by its index; the ragged frame expansion is
    repeat/arange. One row per (doc, frame_idx)."""
    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("frame_idx", IntegerType()),
            StructField("mean_px", DoubleType()),
            StructField("std_px", DoubleType()),
        ]
    )
    n_px = thumb * thumb
    # pseudo frame count: one frame per 4KB of media, like a ~30fps clip
    bytes_per_frame = 4096

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            nb = pdf["_nb"].to_numpy()
            seeds = pdf["_seed"].to_numpy().astype(np.uint64)
            total_frames = np.maximum(nb // bytes_per_frame, 1)
            n_sampled = np.minimum(
                (total_frames + every_k - 1) // every_k, max_frames
            ).astype(np.int64)
            doc_of = np.repeat(np.arange(len(pdf)), n_sampled)
            offs = np.concatenate(([0], np.cumsum(n_sampled)[:-1]))
            local = np.arange(len(doc_of)) - np.repeat(offs, n_sampled)
            frame_idx = (local * every_k).astype(np.int64)
            frame_seeds = seeds[doc_of] + frame_idx.astype(np.uint64)
            px = _fake_decode_matrix(frame_seeds, n_px).astype(np.float64)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[doc_of],
                    "frame_idx": frame_idx.astype(np.int32),
                    "mean_px": px.mean(axis=1),
                    "std_px": px.std(axis=1),
                }
            )

    return _with_media_digest(df, blob_col, id_col).mapInPandas(run, schema)


def audio_frame_stats(
    df: DataFrame,
    blob_col: str = "media",
    id_col: str = "doc_id",
    frame_len: int = 256,
    max_frames: int = 16,
) -> DataFrame:
    """Decode PCM WAV -> frames of `frame_len` samples -> per-frame RMS
    energy. Samples are scaled to [-1, 1) and a multi-channel clip is
    averaged across channels first. A doc gives
    min(max(samples // frame_len, 1), max_frames) frames; a clip shorter
    than one frame is zero-padded to one. Output: one row per
    (doc, frame). Compressed formats (mp3/ogg/aac) and sample widths
    other than 8 or 16 bits raise: they need a codec beyond the stdlib
    `wave` module."""
    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("frame", IntegerType()),
            StructField("rms", DoubleType()),
        ]
    )

    def run(batches):
        import io
        import wave as wave_mod

        for pdf in batches:
            if not len(pdf):
                continue
            ids, frame_ids, rms_vals = [], [], []
            for doc, blob in zip(pdf[id_col], pdf[blob_col]):
                with wave_mod.open(io.BytesIO(bytes(blob))) as w:
                    sw = w.getsampwidth()
                    nch = w.getnchannels()
                    raw = w.readframes(w.getnframes())
                if sw == 2:
                    x = (
                        np.frombuffer(raw, dtype="<i2").astype(np.float64)
                        / 32768.0
                    )
                elif sw == 1:
                    x = (
                        np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
                        - 128.0
                    ) / 128.0
                else:
                    raise NotImplementedError(
                        f"{sw*8}-bit PCM needs a codec beyond stdlib "
                        "wave (ffmpeg/soundfile)"
                    )
                if nch > 1:
                    x = x[: (len(x) // nch) * nch].reshape(-1, nch).mean(
                        axis=1
                    )
                nf = int(min(max(len(x) // frame_len, 1), max_frames))
                usable = x[: nf * frame_len]
                if len(usable) < nf * frame_len:  # sub-frame clip
                    usable = np.pad(usable, (0, nf * frame_len - len(usable)))
                segs = usable.reshape(nf, frame_len)
                r = np.sqrt((segs * segs).mean(axis=1))
                ids.extend([doc] * nf)
                frame_ids.extend(range(nf))
                rms_vals.extend(r.tolist())
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "frame": np.asarray(frame_ids, dtype=np.int32),
                    "rms": rms_vals,
                }
            )

    blobs = df.where(F.col(blob_col).isNotNull()).select(id_col, blob_col)
    return blobs.mapInPandas(run, schema)
