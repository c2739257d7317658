"""FLAC codec: lossless roundtrip, subframe-type coverage, error paths.

The encoder emits verbatim subframes; the synthetic-stream tests below
hand-encode CONSTANT / FIXED / LPC subframes with Rice residuals so the
decoder's predictor paths are exercised without an external encoder
(none ships in this sandbox)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from go_pkg_spider_spark.operators import flac
from go_pkg_spider_spark.operators.decode import decode_blob

# the spec's FIXED predictor coefficients per order (the reference the
# cumsum restore is checked against)
_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _pcm(n: int, seed: int = 3) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return (rng.integers(-32768, 32768, size=n)).astype("<i2")


def test_roundtrip_exact_multi_frame():
    pcm = _pcm(4096 * 2 + 123)  # two full frames + short tail frame
    blob = flac.encode_flac_s16(pcm, 16000)
    out, sr = flac.decode_flac(blob)
    assert sr == 16000
    assert out.shape == (len(pcm),)
    np.testing.assert_array_equal(
        np.round(out * 32767.0).astype("<i2"), pcm
    )  # lossless


def test_roundtrip_tiny_and_empty():
    for n in (1, 16, 4095):
        pcm = _pcm(n, seed=n)
        out, _ = flac.decode_flac(flac.encode_flac_s16(pcm, 8000))
        np.testing.assert_array_equal(np.round(out * 32767.0).astype("<i2"), pcm)


def test_truncated_and_garbage_blobs_raise():
    pcm = _pcm(2000)
    blob = flac.encode_flac_s16(pcm, 16000)
    with pytest.raises(ValueError):
        flac.decode_flac(blob[: len(blob) // 3])
    with pytest.raises(ValueError):
        flac.decode_flac(b"fLaX" + blob[4:])


def test_decode_blob_flac_snr():
    """decode_blob('flac') must reproduce the PCM (lossless -> SNR inf;
    assert >= 30 dB like the wav case)."""
    from go_pkg_spider_spark import datagen

    sr = 16000
    ref = datagen.expected_pcm(7, sr, sr * 2)
    blob = flac.encode_flac_s16((ref * 32767.0).astype("<i2"), sr)
    pcm, sr_out, err = decode_blob(blob, "flac", sr)
    assert err is None and sr_out == sr
    noise = pcm.astype(np.float64) - ref
    snr = 10 * np.log10(np.mean(ref**2) / max(np.mean(noise**2), 1e-30))
    assert snr >= 30.0


# --- synthetic streams for the non-verbatim subframe paths ---


def _stream_header(n_samples: int, sr: int = 16000, block: int = 4096) -> bytes:
    w = flac.BitWriter()
    w.write(1, 1)
    w.write(0, 7)
    w.write(34, 24)
    w.write(block, 16)
    w.write(block, 16)
    w.write(0, 24)
    w.write(0, 24)
    w.write(sr, 20)
    w.write(0, 3)
    w.write(15, 5)
    w.write(n_samples, 36)
    for _ in range(16):
        w.write(0, 8)
    return b"fLaC" + w.bytes()


def _frame_header(n: int) -> bytearray:
    h = flac.BitWriter()
    h.write(0b11111111111110, 14)
    h.write(0, 2)
    h.write(0b0111, 4)  # 16-bit blocksize at end
    h.write(0, 4)
    h.write(0, 4)  # mono
    h.write(0b100, 3)  # 16 bps
    h.write(0, 1)
    header = bytearray(h.bytes())
    header += b"\x00"  # frame number 0
    header += struct.pack(">H", n - 1)
    header.append(flac.crc8(bytes(header)))
    return header


def _rice_write(w: flac.BitWriter, v: int, param: int) -> None:
    u = (v << 1) if v >= 0 else ((-v) << 1) - 1  # zigzag
    q, r = u >> param, u & ((1 << param) - 1)
    for _ in range(q):
        w.write(0, 1)
    w.write(1, 1)
    if param:
        w.write(r, param)


def _finish_frame(header: bytearray, w: flac.BitWriter) -> bytes:
    w.align()
    body = bytearray(header) + bytearray(w.bytes())
    body += struct.pack(">H", flac.crc16(bytes(body)))
    return bytes(body)


def test_constant_subframe():
    n = 64
    header = _frame_header(n)
    w = flac.BitWriter()
    w.write(0, 1)
    w.write(0, 6)  # CONSTANT
    w.write(0, 1)
    w.write(1234 & 0xFFFF, 16)
    blob = _stream_header(n) + _finish_frame(header, w)
    out, _ = flac.decode_flac(blob)
    np.testing.assert_array_equal(np.round(out * 32767.0).astype(int), np.full(n, 1234))


def test_fixed_order1_rice_subframe():
    """Linear ramp: order-1 fixed predictor, residuals all +3."""
    n = 64
    samples = np.arange(100, 100 + 3 * n, 3)
    header = _frame_header(n)
    w = flac.BitWriter()
    w.write(0, 1)
    w.write(0b001001, 6)  # FIXED order 1
    w.write(0, 1)
    w.write(int(samples[0]), 16)  # warm-up
    w.write(0, 2)  # rice method 0
    w.write(0, 4)  # partition order 0
    w.write(2, 4)  # rice param 2
    for _ in range(n - 1):
        _rice_write(w, 3, 2)  # residual s[i] - s[i-1] = 3
    blob = _stream_header(n) + _finish_frame(header, w)
    out, _ = flac.decode_flac(blob)
    np.testing.assert_array_equal(np.round(out * 32767.0).astype(int), samples)


def test_lpc_subframe():
    """LPC order 1, coef 2, shift 1 => predictor s[i-1] (2>>1): same ramp
    as the fixed test through the LPC path."""
    n = 32
    samples = np.arange(-50, -50 + 5 * n, 5)
    header = _frame_header(n)
    w = flac.BitWriter()
    w.write(0, 1)
    w.write(0b100000, 6)  # LPC order 1 ((stype & 31) + 1)
    w.write(0, 1)
    w.write(int(samples[0]) & 0xFFFF, 16)
    w.write(3, 4)  # precision - 1 -> 4 bits
    w.write(1, 5)  # shift 1
    w.write(2, 4)  # coef = 2
    w.write(0, 2)
    w.write(0, 4)
    w.write(3, 4)  # rice param 3
    for _ in range(n - 1):
        _rice_write(w, 5, 3)
    blob = _stream_header(n) + _finish_frame(header, w)
    out, _ = flac.decode_flac(blob)
    np.testing.assert_array_equal(np.round(out * 32767.0).astype(int), samples)


def test_unknown_total_samples_decodes_to_end():
    """STREAMINFO total_samples == 0 means UNKNOWN length per the spec,
    not an empty stream: the decoder must consume frames until the blob
    is exhausted and return the full audio."""
    pcm = _pcm(5000)
    blob = bytearray(flac.encode_flac_s16(pcm, 16000))
    # zero the 36-bit total_samples field: STREAMINFO data starts at
    # byte 8 (fLaC + 4-byte block header); bits 0..79 are block/frame
    # sizes, 80..107 are sr/ch/bps, total spans bits 108..143 ->
    # low nibble of byte 13 plus bytes 14..17
    base = 8
    blob[base + 13] &= 0xF0
    blob[base + 14 : base + 18] = b"\x00" * 4
    out, sr = flac.decode_flac(bytes(blob))
    assert sr == 16000 and len(out) == len(pcm)
    ref, _ = flac.decode_flac(flac.encode_flac_s16(pcm, 16000))
    assert np.array_equal(out, ref)


def test_unknown_total_tolerates_trailing_bytes():
    """Unknown-length stream + trailing non-frame bytes (padding/tags
    appended after the last frame): the decoder must keep the fully
    decoded audio instead of raising on the garbage tail (round-3
    advice). A KNOWN-length stream with mid-stream garbage still
    raises — that's real corruption."""
    pcm = _pcm(5000)
    blob = bytearray(flac.encode_flac_s16(pcm, 16000))
    base = 8
    blob[base + 13] &= 0xF0
    blob[base + 14 : base + 18] = b"\x00" * 4
    blob += b"\x00PADDING-NOT-A-FRAME\x00" * 3
    out, sr = flac.decode_flac(bytes(blob))
    assert sr == 16000 and len(out) == len(pcm)
    ref, _ = flac.decode_flac(flac.encode_flac_s16(pcm, 16000))
    assert np.array_equal(out, ref)


def test_restore_fixed_cumsum_equals_recurrence():
    """The k-fold-cumsum FIXED restore must equal the spec's per-sample
    recurrence for every order 0-4 (exact int64 integration)."""
    import random

    random.seed(7)

    def naive(warm, resid, order, n):
        out = list(warm)
        coefs = _FIXED_COEFS[order]
        for r_ in resid:
            out.append(r_ + sum(c * out[-1 - j] for j, c in enumerate(coefs)))
        return np.array(out[:n], dtype=np.int64)

    for order in range(5):
        for _ in range(10):
            n = random.randint(max(order, 1), 64)
            warm = [random.randint(-32768, 32767) for _ in range(order)]
            resid = [random.randint(-5000, 5000) for _ in range(n - order)]
            assert np.array_equal(
                naive(warm, resid, order, n),
                flac._restore_fixed(warm, resid, order, n),
            )


def test_encoder_subframe_types_decode_identically():
    """The round-6 encoder variants (CONSTANT / FIXED order-2 / LPC
    order-2, Rice residuals) must decode to exactly the verbatim
    encoding's samples, across block boundaries and on a tail block
    shorter than the predictor order (verbatim fallback)."""
    sr = 8000
    cases = {
        "sine": (0.6 * np.sin(2 * np.pi * 220 * np.arange(5000) / sr) * 32767),
        "tail_shorter_than_order": np.linspace(-30000, 30000, 4097),
        "tiny": np.array([5.0, -3.0, 100.0]),
        "fullscale_alt": np.array([32767.0, -32767.0] * 300),
    }
    for name, x in cases.items():
        pcm = x.astype("<i2")
        ref, ref_sr = flac.decode_flac(flac.encode_flac_s16(pcm, sr))
        for sub in ("fixed", "lpc"):
            dec, dsr = flac.decode_flac(
                flac.encode_flac_s16(pcm, sr, subframe=sub)
            )
            assert dsr == ref_sr and np.array_equal(dec, ref), (name, sub)
    const = np.full(4196, 1234, dtype="<i2")
    dec, _ = flac.decode_flac(
        flac.encode_flac_s16(const, sr, subframe="constant")
    )
    ref, _ = flac.decode_flac(flac.encode_flac_s16(const, sr))
    assert np.array_equal(dec, ref)


def test_encoder_rice_residuals_actually_compress():
    """Sanity that the fixture variants exercise real prediction: for a
    smooth signal the FIXED/LPC streams must be materially smaller than
    verbatim (Rice-coded small residuals)."""
    pcm = (0.6 * np.sin(2 * np.pi * 220 * np.arange(5000) / 8000) * 32767).astype(
        "<i2"
    )
    v = len(flac.encode_flac_s16(pcm, 8000))
    assert len(flac.encode_flac_s16(pcm, 8000, subframe="fixed")) < 0.8 * v
    assert len(flac.encode_flac_s16(pcm, 8000, subframe="lpc")) < 0.9 * v


def test_stereo_decorrelation_roundtrip_all_modes():
    """Left-side / right-side / mid-side streams (the assignments
    real-world stereo FLAC encoders emit) must decode to EXACTLY the
    mean-downmix of the two channels — truth computed independently
    here from the raw channels, not from the codec (round-7 headline:
    these modes previously raised flac_stereo_decorrelation_unsupported).
    Every mode is exercised with predictor-coded subframes on both the
    primary and the 17-bit side channel."""
    rng = np.random.default_rng(5)
    n = 4096 * 2 + 777  # two full frames + short tail
    left = rng.integers(-20000, 20000, size=n).astype(np.int64)
    right = rng.integers(-20000, 20000, size=n).astype(np.int64)
    expect = (
        np.mean(np.stack([left, right]), axis=0).astype(np.int32)
    ).astype(np.float32) / np.float32(32767.0)
    for mode in ("left_side", "right_side", "mid_side"):
        for subs in (("fixed", "lpc"), ("lpc", "fixed"), ("verbatim", "verbatim")):
            blob = flac.encode_flac_s16_stereo(
                left, right, 16000, mode=mode, subframes=subs
            )
            out, sr = flac.decode_flac(blob)
            assert sr == 16000
            assert np.array_equal(out, expect), (mode, subs)


def test_mid_side_odd_sum_parity():
    """mid = (l+r)>>1 loses the low bit of l+r; the decoder must
    recover it from side's parity ((mid<<1)|(side&1)). Exercised with
    channels whose sums are mostly ODD, including negative values
    (arithmetic-shift floor semantics)."""
    rng = np.random.default_rng(9)
    left = rng.integers(-30000, 30000, size=3000).astype(np.int64)
    right = left - 1 - 2 * rng.integers(0, 100, size=3000).astype(np.int64)
    blob = flac.encode_flac_s16_stereo(left, right, 8000, mode="mid_side")
    out, _ = flac.decode_flac(blob)
    expect = (
        np.mean(np.stack([left, right]), axis=0).astype(np.int32)
    ).astype(np.float32) / np.float32(32767.0)
    assert np.array_equal(out, expect)


def test_escape_coded_empty_first_partition_consumes_raw_bps():
    """ADVICE r6 #1 regression: partition order 4 on a 64-sample
    order-4 FIXED subframe makes the FIRST partition empty
    (64>>4 - 4 == 0); if it is escape-coded, its 5-bit raw-bps field
    must still be consumed or the rest of the frame misaligns."""
    n = 64
    samples = np.arange(100, 100 + n)  # 4th difference of a ramp = 0
    header = _frame_header(n)
    w = flac.BitWriter()
    w.write(0, 1)
    w.write(8 + 4, 6)  # FIXED order 4
    w.write(0, 1)
    for s in samples[:4]:
        w.write(int(s) & 0xFFFF, 16)
    w.write(0, 2)  # rice method 0
    w.write(4, 4)  # partition order 4 -> 16 partitions of 4
    w.write(15, 4)  # partition 0 (EMPTY): escape param
    w.write(7, 5)  # ... and its raw-bps field (must be consumed)
    for _ in range(15):  # partitions 1..15: 4 zero residuals each
        w.write(0, 4)  # rice param 0
        for _ in range(4):
            _rice_write(w, 0, 0)
    blob = _stream_header(n) + _finish_frame(header, w)
    out, _ = flac.decode_flac(blob)
    np.testing.assert_array_equal(np.round(out * 32767.0).astype(int), samples)


def test_all_sample_widths_roundtrip():
    """Every spec sample width (8/12/16/20/24/32) roundtrips through
    every subframe family — 24-bit is the real-world hi-res case
    (round 7). Widths <= 24 are bit-exact through the float32 output;
    32-bit is limited by the float32 mantissa (SNR > 130 dB)."""
    rng = np.random.default_rng(11)
    for bps in (8, 12, 16, 20, 24, 32):
        lim = (1 << (bps - 1)) - 1
        pcm = rng.integers(-lim, lim + 1, size=4596).astype(np.int64)
        for sub in ("verbatim", "fixed", "lpc"):
            blob = flac.encode_flac_pcm(pcm, 16000, bps=bps, subframe=sub)
            out, sr = flac.decode_flac(blob)
            assert sr == 16000
            if bps <= 24:
                back = np.round(out.astype(np.float64) * lim).astype(np.int64)
                assert np.array_equal(back, pcm), (bps, sub)
            else:
                ref = pcm.astype(np.float64) / lim
                snr = 10 * np.log10(
                    np.mean(ref**2)
                    / np.mean((out.astype(np.float64) - ref) ** 2)
                )
                assert snr > 130, (bps, sub, snr)
    with pytest.raises(ValueError):
        flac.encode_flac_pcm(np.array([1 << 23]), 16000, bps=24)  # range
    with pytest.raises(ValueError):
        flac.encode_flac_pcm(np.zeros(4), 16000, bps=17)  # not a spec width


def test_wide_residuals_use_rice2_not_unary_blowup():
    """Full-range 32-bit random residuals would need ~2^19 unary bits
    per sample under the method-0 param cap (14); the encoder must
    switch the partition to RICE2 (method 1, 5-bit params) — pinned by
    a stream-size bound AND by reading the method bits back."""
    rng = np.random.default_rng(3)
    lim = (1 << 31) - 1
    pcm = rng.integers(-lim, lim + 1, size=2000).astype(np.int64)
    blob = flac.encode_flac_pcm(pcm, 16000, bps=32, subframe="fixed")
    # ~36 bits/sample max under rice2; unary blow-up would be ~2^19x
    assert len(blob) < 2000 * 8
    out, _ = flac.decode_flac(blob)
    assert len(out) == 2000


def test_restore_lpc_specializations_match_naive():
    """_restore_lpc has order-1/order-2 fast branches and a generic
    loop; all must match the naive reference recurrence exactly
    (including negative shifts' floor semantics via >>)."""
    import random

    random.seed(11)

    def naive(warm, resid, coefs, shift, n):
        out = list(warm)
        for r_ in resid:
            pred = sum(c * out[-1 - j] for j, c in enumerate(coefs)) >> shift
            out.append(r_ + pred)
        return np.array(out[:n], dtype=np.int64)

    for order in (1, 2, 3, 5):
        for _ in range(10):
            n = random.randint(order + 1, 80)
            warm = [random.randint(-32768, 32767) for _ in range(order)]
            resid = [random.randint(-4000, 4000) for _ in range(n - order)]
            # keep the filter gain bounded (sum|c|/2^shift <= 1.25) so
            # 80 steps stay well inside int64 — real FLAC predictors
            # are stable by construction
            coefs = [random.randint(-4, 4) for _ in range(order)]
            shift = random.randint(4, 12)
            assert np.array_equal(
                naive(warm, resid, coefs, shift, n),
                flac._restore_lpc(warm, resid, coefs, shift, n),
            ), (order, shift)
