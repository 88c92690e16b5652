"""Streaming continuous rollup (late-data re-roll converges to the batch
result) and the multimodal operators: the deterministic pseudo-decode of
image and video, and the PCM-WAV decode of audio."""

from __future__ import annotations

import io
import wave as wave_mod

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from time2feat_spark.operators.multimodal import (
    audio_frame_stats,
    image_features,
    video_frame_sample,
)
from time2feat_spark.operators.rollup import RollupConfig, rollup_points
from time2feat_spark.streaming.continuous import ContinuousRollup

CFG = RollupConfig(tiers=[("1m", 60), ("1h", 3600)], include_raw=False,
                   compress=False,
                   features=["variance", "median", "autocorr_lag1"])


def _events(spark, n, t0="2024-01-01", seed=0):
    rng = np.random.default_rng(seed)
    ts = pd.Timestamp(t0) + pd.to_timedelta(
        np.sort(rng.integers(0, 3 * 3600 * 1000, n)), unit="ms"
    )
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "key": rng.choice(["a", "b"], n),
                "ts": ts,
                "value": np.round(rng.uniform(0, 100, n), 2),
            }
        )
    )


def test_continuous_rollup_converges_to_batch(spark, tmp_path):
    """Two micro-batches (the second overlapping the first's windows =
    late data) must produce exactly the batch rollup of all points."""
    all_df = _events(spark, 600)
    b1 = all_df.where(F.dayofyear("ts") >= 0).limit(400)  # first slice
    b2 = all_df.exceptAll(b1)  # remainder, overlaps b1's chunks

    cr = ContinuousRollup(
        str(tmp_path / "staging"), str(tmp_path / "out"), ["key"], "ts",
        "value", CFG,
    )
    cr.process_batch(b1, 0)
    cr.process_batch(b2, 1)

    got = (
        cr.read_output(spark)
        .toPandas()
        .sort_values(["key", "tier", "window_start_ms"])
        .reset_index(drop=True)
    )
    want = (
        rollup_points(all_df, ["key"], "ts", "value", CFG)
        .toPandas()
        .sort_values(["key", "tier", "window_start_ms"])
        .reset_index(drop=True)
    )
    got = got[want.columns]
    assert len(got) == len(want)
    for c in want.columns:
        g, w = got[c].to_numpy(), want[c].to_numpy()
        if np.issubdtype(w.dtype, np.floating):
            ok = (np.isnan(g) & np.isnan(w)) | (g == w)
            assert ok.all(), c
        else:
            assert (g == w).all(), c


def test_continuous_rollup_pre_1970_chunk_and_session_conf(spark, spark_conf,
                                                          tmp_path):
    """A window before 1970 lands in its own (floored) output chunk, so a
    later batch touching only 1969-12-31 keeps 1970-01-01's windows; and
    the dynamic partition overwrite does not change the session conf."""
    cfg = RollupConfig(tiers=[("1h", 3600), ("1d", 86400)], include_raw=False,
                       compress=False, features=["variance"])

    def batch(*stamps):
        return spark.createDataFrame(pd.DataFrame({
            "key": "k", "ts": pd.to_datetime(list(stamps)),
            "value": np.arange(len(stamps), dtype=np.float64),
        }))

    cr = ContinuousRollup(
        str(tmp_path / "staging"), str(tmp_path / "out"), ["key"], "ts",
        "value", cfg,
    )
    conf = "spark.sql.sources.partitionOverwriteMode"
    with spark_conf({conf: "STATIC"}):
        cr.process_batch(batch("1969-12-31 10:00", "1970-01-01 10:00"), 0)
        cr.process_batch(batch("1969-12-31 11:00"), 1)
        mode = spark.conf.get(conf)
    got = sorted(r[0] for r in cr.read_output(spark)
                 .select("window_start_ms").collect())
    assert got == [-86_400_000, -50_400_000, -46_800_000, 0, 36_000_000]
    assert mode == "STATIC"


def test_streaming_file_source_end_to_end(spark, tmp_path):
    """Real readStream (file source, availableNow) through foreachBatch."""
    src = str(tmp_path / "src")
    _events(spark, 300).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    cr = ContinuousRollup(
        str(tmp_path / "staging"), str(tmp_path / "out"), ["key"], "ts",
        "value", CFG,
    )
    q = cr.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = cr.read_output(spark)
    want = rollup_points(
        spark.read.parquet(src), ["key"], "ts", "value", CFG
    )
    assert got.count() == want.count()


def test_image_features_stub(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": ["a", "b", "c"],
            "media": [b"\x89PNG fake one", b"\x89PNG fake two", b"\x89PNG fake one"],
        }
    )
    out = image_features(spark.createDataFrame(pdf)).toPandas().sort_values("doc_id")
    assert list(out.columns) == ["doc_id", "n_bytes", "mean_px", "std_px", "thumb_vec"]
    assert (out.n_bytes > 0).all()
    assert all(len(v) == 64 for v in out.thumb_vec)
    # deterministic fake decode: identical bytes => identical features
    a, c = out.iloc[0], out.iloc[2]
    assert a.mean_px == c.mean_px and list(a.thumb_vec) == list(c.thumb_vec)


def test_video_frame_sample_stub(spark):
    pdf = pd.DataFrame(
        {"doc_id": ["a", "b"], "media": [b"\x00" * 50_000, b"\x01" * 200_000]}
    )
    out = video_frame_sample(spark.createDataFrame(pdf)).toPandas()
    assert set(out.columns) == {"doc_id", "frame_idx", "mean_px", "std_px"}
    per_doc = out.groupby("doc_id").frame_idx.agg(["count", "max"])
    # 50kB ~ 12 pseudo-frames -> ceil(12/10)=2 sampled; 200kB -> 5
    assert per_doc.loc["a", "count"] == 2 and per_doc.loc["b", "count"] == 5
    assert (out.frame_idx % 10 == 0).all()
    assert out.mean_px.between(0, 255).all()


def _wav(samples: np.ndarray, sampwidth: int, nch: int) -> bytes:
    """PCM WAV at 8 kHz holding `samples` (interleaved, in the file's
    sample dtype), written with stdlib wave."""
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(sampwidth)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def _frame_rms(num: np.ndarray, scale: int, frame_len: int, nf: int):
    """RMS of each of `nf` zero-padded frames of the samples
    `num / scale`, from exact integer sums of squares."""
    x = np.zeros(nf * frame_len, dtype=np.int64)
    x[: min(len(num), len(x))] = num[: len(x)]
    sq = (x.reshape(nf, frame_len) ** 2).sum(axis=1)
    return np.sqrt(sq / (scale * scale * frame_len))


def _wav_case(case: str):
    """(wav bytes, frame_len, expected per-frame RMS, atol) per input."""
    rng = np.random.default_rng(7)
    if case == "sine_16bit_mono":
        # 256 samples = 8.2 cycles of 440Hz at 8kHz -> RMS ~ amp/sqrt(2)
        sr, n, amp = 8000, 4096, 0.5
        t = np.arange(n) / sr
        sig = (amp * np.sin(2 * np.pi * 440 * t) * 32767).astype("<i2")
        return _wav(sig, 2, 1), 256, np.full(16, amp / np.sqrt(2)), 0.02
    if case == "8bit_mono":
        # the driver's shape: ASCII text bytes as unsigned 8-bit samples
        text = (b"the quick brown fox jumps over the lazy dog " * 30)[:1024]
        u8 = np.frombuffer(text, dtype=np.uint8)
        want = _frame_rms(u8.astype(np.int64) - 128, 128, 128, 8)
        return _wav(u8, 1, 1), 128, want, 0.0
    if case == "16bit_stereo":
        # the RMS is that of the channel mean (L + R) / 2
        lr = rng.integers(-32768, 32768, (1024, 2)).astype("<i2")
        want = _frame_rms(lr.astype(np.int64).sum(axis=1), 65536, 256, 4)
        return _wav(lr, 2, 2), 256, want, 0.0
    # shorter than one frame: one frame, zero-padded to frame_len
    v = rng.integers(-32768, 32768, 100).astype("<i2")
    return _wav(v, 2, 1), 256, _frame_rms(v.astype(np.int64), 32768, 256, 1), 0.0


@pytest.mark.parametrize(
    "case", ["sine_16bit_mono", "8bit_mono", "16bit_stereo", "short_clip"]
)
def test_audio_frame_stats_real_wav_decode(spark, case):
    """REAL audio decode via stdlib wave (PCM WAV needs no external
    codec): per-frame RMS of each input matches its expected value."""
    wav, frame_len, want, atol = _wav_case(case)
    df = spark.createDataFrame(
        [("a", bytearray(wav)), ("b", bytearray(wav))],
        "doc_id string, media binary",
    )
    out = (
        audio_frame_stats(df, frame_len=frame_len, max_frames=16)
        .toPandas()
        .sort_values(["doc_id", "frame"])
    )
    assert set(out.doc_id) == {"a", "b"}
    assert (out.groupby("doc_id").frame.count() == len(want)).all()
    assert list(out.frame) == list(range(len(want))) * 2
    np.testing.assert_allclose(out.rms, np.tile(want, 2), rtol=1e-12, atol=atol)


def test_audio_real_path_rejects_non_pcm(spark):
    df = spark.createDataFrame(
        [("a", bytearray(b"ID3\x03mp3-ish-bytes"))],
        "doc_id string, media binary",
    )
    with pytest.raises(Exception, match="Error|NotImplemented|wave|RIFF"):
        audio_frame_stats(df).collect()
