"""Decoder fuzz contracts (hypothesis): NO input may crash the task.

The decode stage's contract (operators/decode.py, the reference's
whitelist-means-decoded posture from http.go:141-170) is that every
payload becomes either a decoded row or a TYPED error row — a crash
inside the pandas UDF fails the Spark task and, with default retry
settings, eventually the whole 100 TB job. The round-8 self-review
found one such crash by hand (a crafted zero-sample-rate AIFF); these
properties systematize that search:

- arbitrary byte soup under every whitelisted codec,
- structured mutations of VALID containers (bit flips, truncations,
  size-field stomps, slice duplication) — the shapes real corruption
  takes,
- and the full per-row kernel (decode -> resample -> frames ->
  spectral), not just the parser, because resampling is where
  crafted-but-parseable headers detonate (sr=1 -> a size*16000-double
  allocation; found by this file, fixed via decode.SR_MIN/SR_MAX).

Invariants asserted on every input:
  1. decode_blob never raises; err is None or a snake_case token.
  2. ok rows: float32 pcm, sr within [SR_MIN, SR_MAX], finite samples.
  3. features_for_clip never raises and returns a full schema row with
     finite feature values whenever decode succeeded.
"""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings, strategies as st

from go_pkg_spider_spark.fixtures import audio_fixtures as fx
from go_pkg_spider_spark.operators import decode
from go_pkg_spider_spark.operators.audio_features import features_for_clip

_SETTINGS = dict(max_examples=250, deadline=None)


def _assert_contract(blob: bytes, codec: str, sr_hz) -> None:
    pcm, sr, err = decode.decode_blob(blob, codec, sr_hz)
    # the fused stage hands decode_blob a ZERO-COPY memoryview
    # (operators/fused.py _binary_views); the contract must hold for
    # both buffer types and agree on the outcome
    pcm_mv, sr_mv, err_mv = decode.decode_blob(memoryview(blob), codec, sr_hz)
    assert err_mv == err and sr_mv == sr
    if pcm is not None:
        assert np.array_equal(pcm_mv, pcm)
    if err is not None:
        assert pcm is None and sr == 0
        assert isinstance(err, str) and err and " " not in err
    else:
        assert isinstance(pcm, np.ndarray) and pcm.dtype == np.float32
        assert decode.SR_MIN <= sr <= decode.SR_MAX
        assert bool(np.isfinite(pcm).all())
    row = features_for_clip("fuzz", blob, codec, sr_hz)
    assert len(row) == 17
    if row[1] is None and err is None:  # decoded: features must be finite
        assert all(math.isfinite(v) for v in row[3]), "rms"
        assert all(math.isfinite(v) for v in row[4]), "zcr"
        assert all(math.isfinite(float(row[i])) for i in (5, 6, 7, *range(12, 17)))


@settings(**_SETTINGS)
@given(
    blob=st.binary(max_size=2048),
    codec=st.sampled_from(decode.CODEC_WHITELIST),
    sr_hz=st.none() | st.integers(-(2**31), 2**31 - 1),
)
def test_byte_soup_never_crashes(blob, codec, sr_hz):
    _assert_contract(blob, codec, sr_hz)


def _valid_pool() -> list[tuple[bytes, str]]:
    """One well-formed blob per container family / sample format —
    the mutation targets. Built from the same fixture builders whose
    outputs the frozen audio_decode_docs rows pin."""
    sig = fx._sine(800, 8000, 220.0)
    i16le = fx._i16(sig).tobytes()
    i16be = fx._i16(sig).astype(">i2").tobytes()
    return [
        (fx._wav(sig, 8000), "wav"),
        (fx._wav(sig, 8000, channels=2), "wav"),
        (fx._wav24(sig, 8000), "wav"),
        (fx._wav8(sig, 8000), "wav"),
        (fx._wavf32(sig, 8000), "wav"),
        (fx._wav_ima(fx._sine(1010, 8000, 220.0), 8000), "wav"),
        (fx._wav_ima_stereo_dup(fx._sine(1010, 8000, 220.0), 8000), "wav"),
        (
            fx._rf64(
                [(b"fmt ", fx._fmt_chunk(8000)), (b"data", i16le)]
            ),
            "wav",
        ),
        (fx._au(i16be, 8000, 3), "au"),
        (fx._aiff(i16be, 8000, 800, 16), "aiff"),
        (fx._flac(sig, 8000), "flac"),
        (i16le, "pcm_s16le"),
        (sig.astype("<f4").tobytes(), "pcm_f32le"),
    ]


_POOL = _valid_pool()


@settings(**_SETTINGS)
@given(data=st.data())
def test_mutated_valid_containers_never_crash(data):
    blob, codec = _POOL[data.draw(st.integers(0, len(_POOL) - 1))]
    b = bytearray(blob)
    kind = data.draw(st.sampled_from(["flip", "trunc", "stomp", "dup"]))
    if kind == "flip":  # single corrupted byte
        i = data.draw(st.integers(0, len(b) - 1))
        b[i] ^= data.draw(st.integers(1, 255))
    elif kind == "trunc":  # cut transfer
        b = b[: data.draw(st.integers(0, len(b)))]
    elif kind == "stomp":  # blown size/count field
        i = data.draw(st.integers(0, max(len(b) - 4, 0)))
        b[i : i + 4] = data.draw(
            st.sampled_from([b"\xff\xff\xff\xff", b"\x00\x00\x00\x00"])
        )
    else:  # duplicated slice (chunk confusion / double-write)
        i = data.draw(st.integers(0, len(b) - 1))
        j = data.draw(st.integers(i, len(b)))
        b = b[:j] + b[i:j] + b[j:]
    _assert_contract(bytes(b), codec, 8000)


def test_crafted_header_regressions():
    """Directed rows for every fuzz-found class, so the defense stays
    pinned even if the random search stops visiting it."""
    # resampler attack: valid AU header, absurd 1 Hz rate (pre-guard:
    # a size*16000-double allocation inside linear_resample)
    au = fx._au(fx._i16(fx._sine(256, 8000, 220.0)).tobytes(), 1, 3)
    _, _, err = decode.decode_blob(au, "au", None)
    assert err == "implausible_sample_rate"
    # same class through the caller-supplied rate of a raw codec
    _, _, err = decode.decode_blob(b"\x00\x01" * 64, "pcm_s16le", 2)
    assert err == "implausible_sample_rate"
    # non-finite float payload: ok=true with NaN features pre-guard
    bad = np.full(512, 0.25, dtype="<f4")
    bad[7] = np.nan
    _, _, err = decode.decode_blob(bad.tobytes(), "pcm_f32le", 16000)
    assert err == "nonfinite_samples"
    # float64 WAV whose finite samples overflow the float32 downcast
    huge = np.full(64, 1e40, dtype="<f8")
    wav64 = fx._riff(
        [
            (b"fmt ", fx._fmt_chunk(8000, bps=64, fmt=3)),
            (b"data", huge.tobytes()),
        ]
    )
    _, _, err = decode.decode_blob(wav64, "wav", None)
    assert err == "nonfinite_samples"
    # metadata-skip bignum: a FLAC with a 1 MiB PADDING block must
    # parse in O(block) time (BitReader.skip), not build an 8M-bit int
    flac = bytearray(fx._flac(fx._sine(400, 8000, 220.0), 8000))
    pad = 1 << 20
    meta = bytes([0x81]) + pad.to_bytes(3, "big") + bytes(pad)  # last|PADDING
    # clear the last-block flag on STREAMINFO (byte 4), splice PADDING
    flac[4] &= 0x7F
    blob = bytes(flac[:42]) + meta + bytes(flac[42:])
    import time

    t0 = time.perf_counter()
    pcm, sr, err = decode.decode_blob(blob, "flac", None)
    assert err is None and sr == 8000 and pcm.size == 400
    assert time.perf_counter() - t0 < 2.0
