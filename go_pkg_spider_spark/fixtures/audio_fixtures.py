"""Frozen fixture corpus for the audio decode/features value oracle
(`audio_decode_docs`): deterministic WAV/PCM/FLAC byte blobs plus
corrupt/oversize/unknown-codec rows, with FROZEN expected outputs of
the production decode+features path (operators/decode.decode_blob
inside operators/audio_features.features_for_clip).

This is the simtext_argmax_docs pattern applied to the north-star's
audio leg (reference analog: the transcode stage http.go:157-170,
whose charset half is already value-gated via charset_rules_docs):
the DuckDB oracle returns EXPECTED as a literal truth table and the
Spark query must reproduce it through the real Arrow UDF /
mapInArrow operators, so the driver hash now gates the decode
invariant that was previously pytest-only.

Determinism rules:
- Every signal is CLOSED-FORM (sine / square / const / ramp /
  shader-hash noise) — no np.random, so the blobs cannot drift with
  numpy's generator streams.
- EXPECTED holds RAW float64 values exactly as the operators emit
  them (repr round-trips bit-exactly through the DuckDB literal, so
  any canonicalization of identical doubles agrees); the only
  rounding is what the operators themselves do (centroid/rolloff to
  3, silence to 6).

tests/test_audio_fixtures.py re-derives EXPECTED from the live
operators at test time — a silent decode-semantics change trips the
test AND the driver gate — and pins a handful of rows to arithmetic
done BY HAND (HAND_CHECKED there), breaking the decode<->decode
circularity the same way the round-5 simtext hand-ratio rows do for
difflib.
"""

from __future__ import annotations

import io
import struct
import wave

import numpy as np

# ---------------------------------------------------------------- signals


def _sine(n: int, sr: int, freq: float, amp: float = 0.6) -> np.ndarray:
    t = np.arange(n, dtype=np.float64) / sr
    return amp * np.sin(2 * np.pi * freq * t)


def _square(n: int, amp: float = 0.5) -> np.ndarray:
    # strict per-sample alternation +amp, -amp, +amp, ...
    return amp * (1.0 - 2.0 * (np.arange(n) % 2))


def _const(n: int, v: float) -> np.ndarray:
    return np.full(n, v, dtype=np.float64)


def _ramp(n: int) -> np.ndarray:
    return np.linspace(-0.9, 0.9, n)


def _hashnoise(n: int, amp: float = 0.3) -> np.ndarray:
    """Shader-style deterministic 'noise': frac(sin(k)*43758.5453)."""
    k = (np.arange(n, dtype=np.float64) + 1.0) * 12.9898
    frac = np.modf(np.sin(k) * 43758.5453123)[0]
    return amp * (2.0 * frac - 1.0)


def _i16(pcm: np.ndarray) -> np.ndarray:
    return (pcm * 32767.0).astype("<i2")


# ------------------------------------------------------------ containers


def _wav(pcm: np.ndarray, sr: int, channels: int = 1) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(_i16(pcm).tobytes())
    return buf.getvalue()


def _riff(chunks: list[tuple[bytes, bytes]]) -> bytes:
    """Hand-rolled RIFF container (for odd-size / extra-chunk cases the
    stdlib writer can't produce)."""
    body = b"WAVE"
    for cid, payload in chunks:
        body += cid + struct.pack("<I", len(payload)) + payload
        if len(payload) % 2:
            body += b"\x00"  # RIFF word alignment pad
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _rf64(chunks: list[tuple[bytes, bytes]]) -> bytes:
    """RF64/BW64 twin of _riff (EBU 3306, round 8): a leading ds64
    chunk carries the 64-bit riff/data sizes; the RIFF-level and
    data-chunk 32-bit size fields hold the 0xFFFFFFFF sentinel."""
    data_len = next(len(p) for c, p in chunks if c == b"data")
    tail = b""
    for cid, payload in chunks:
        size = 0xFFFFFFFF if cid == b"data" else len(payload)
        tail += cid + struct.pack("<I", size) + payload
        if len(payload) % 2:
            tail += b"\x00"
    ds64 = struct.pack("<QQQI", 4 + 36 + len(tail), data_len, 0, 0)
    body = b"WAVE" + b"ds64" + struct.pack("<I", len(ds64)) + ds64 + tail
    return b"RF64" + struct.pack("<I", 0xFFFFFFFF) + body


def _fmt_chunk(sr: int, channels: int = 1, bps: int = 16, fmt: int = 1) -> bytes:
    block = channels * bps // 8
    return struct.pack("<HHIIHH", fmt, channels, sr, sr * block, block, bps)


def _wav24(pcm: np.ndarray, sr: int) -> bytes:
    """24-bit PCM WAV: 3-byte little-endian signed samples, quantized
    with the SAME truncation convention as the FLAC width rows so the
    cross-container twins share exact int samples."""
    v = (pcm * 8388607).astype(np.int64) & 0xFFFFFF
    b = np.zeros((len(v), 3), dtype=np.uint8)
    b[:, 0] = v & 0xFF
    b[:, 1] = (v >> 8) & 0xFF
    b[:, 2] = (v >> 16) & 0xFF
    return _riff([(b"fmt ", _fmt_chunk(sr, bps=24)), (b"data", b.tobytes())])


def _wav8(pcm: np.ndarray, sr: int) -> bytes:
    """8-bit PCM WAV — UNSIGNED with the RIFF 128 offset."""
    v = (128 + (pcm * 127).astype(np.int64)).astype(np.uint8)
    return _riff([(b"fmt ", _fmt_chunk(sr, bps=8)), (b"data", v.tobytes())])


def _wavf32(pcm: np.ndarray, sr: int) -> bytes:
    """IEEE-float WAV (format tag 3, 32-bit)."""
    return _riff(
        [
            (b"fmt ", _fmt_chunk(sr, bps=32, fmt=3)),
            (b"data", pcm.astype("<f4").tobytes()),
        ]
    )


def _ima_encode_blocks(pcm: np.ndarray, block_align: int) -> list[tuple[int, int, bytes]]:
    """Greedy IMA ADPCM encode of whole mono blocks -> list of
    (predictor, start_index, code_bytes). The quantizer advances state
    with the DECODER's own recurrence (pinned code-for-code against the
    stdlib audioop oracle), so encode->decode drift is bounded by the
    format's quantization only."""
    from ..operators.decode import _IMA_STEPS, _ima_decode_nibbles

    v = [int(x) for x in _i16(pcm)]
    spb = 1 + 2 * (block_align - 4)
    assert len(v) % spb == 0, "fixture length must fill whole ADPCM blocks"
    blocks = []
    index = 0
    for b0 in range(0, len(v), spb):
        pred = v[b0]
        start_index = index
        nibbles = []
        for s in v[b0 + 1 : b0 + spb]:
            step = int(_IMA_STEPS[index])
            delta = s - pred
            n = 8 if delta < 0 else 0
            delta = abs(delta)
            if delta >= step:
                n |= 4
                delta -= step
            if delta >= step >> 1:
                n |= 2
                delta -= step >> 1
            if delta >= step >> 2:
                n |= 1
            nibbles.append(n)
            dec, pred, index = _ima_decode_nibbles([n], pred, index)
        code = bytearray()
        for i in range(0, len(nibbles), 2):
            code.append(nibbles[i] | (nibbles[i + 1] << 4))
        blocks.append((v[b0], start_index, bytes(code)))
    return blocks


def _wav_ima(
    pcm: np.ndarray,
    sr: int,
    block_align: int = 256,
    fact_samples: int | None = None,
) -> bytes:
    """IMA ADPCM WAV (format tag 0x11, mono): per block, a 4-byte
    header (predictor int16 = the first sample, running step index,
    reserved) then low-nibble-first 4-bit codes. Sample count must fill
    whole blocks (1 + 2*(block_align-4) samples each). When
    fact_samples is given, a 'fact' chunk advertises that dwSampleLength
    — the decoder truncates trailing padding samples to it (round 8)."""
    spb = 1 + 2 * (block_align - 4)
    out = bytearray()
    for pred, index, code in _ima_encode_blocks(pcm, block_align):
        out += struct.pack("<hBB", pred, index, 0)
        out += code
    fmt = struct.pack(
        "<HHIIHH", 0x11, 1, sr, sr * block_align // spb, block_align, 4
    )
    chunks = [(b"fmt ", fmt)]
    if fact_samples is not None:
        chunks.append((b"fact", struct.pack("<I", fact_samples)))
    chunks.append((b"data", bytes(out)))
    return _riff(chunks)


def _wav_ima_stereo_dup(pcm: np.ndarray, sr: int, block_align: int = 256) -> bytes:
    """Stereo IMA ADPCM WAV whose channels BOTH carry the mono encode
    of `pcm`: per block, two 4-byte headers (identical state) then the
    code stream interleaved as 4-byte words ch0/ch1/ch0/... with every
    word duplicated. Mean-downmix of two identical channels is the
    channel itself, so the expected features equal the mono twin's
    frozen values BY CONSTRUCTION (round 8 — the FLAC m±d precedent).
    The mono code payload must be a whole number of 4-byte words."""
    mono_blocks = _ima_encode_blocks(pcm, block_align)
    spb = 1 + 2 * (block_align - 4)
    st_align = 8 + 2 * (block_align - 4)
    out = bytearray()
    for pred, index, code in mono_blocks:
        assert len(code) % 4 == 0, "stereo dup needs whole 4-byte words"
        hdr = struct.pack("<hBB", pred, index, 0)
        out += hdr + hdr  # ch0 + ch1 headers, identical state
        for w0 in range(0, len(code), 4):
            word = code[w0 : w0 + 4]
            out += word + word  # ch0 word, ch1 word
    fmt = struct.pack(
        "<HHIIHH", 0x11, 2, sr, sr * st_align // spb, st_align, 4
    )
    return _riff([(b"fmt ", fmt), (b"data", bytes(out))])


def _au(payload: bytes, sr: int, encoding: int, channels: int = 1) -> bytes:
    """Sun/NeXT .au: 24-byte big-endian header + payload (round 8)."""
    return (
        b".snd"
        + struct.pack(">IIIII", 24, len(payload), encoding, sr, channels)
        + payload
    )


def _ieee_extended(v: int) -> bytes:
    """80-bit IEEE extended encode of a positive integer (AIFF COMM
    sample rate): exponent 16383+p for msb position p, explicit-1
    mantissa left-aligned at bit 63."""
    assert v > 0
    p = v.bit_length() - 1
    mant = v << (63 - p)
    return struct.pack(">HII", 16383 + p, (mant >> 32) & 0xFFFFFFFF, mant & 0xFFFFFFFF)


def _aiff(frames: bytes, sr: int, n_frames: int, bps: int, channels: int = 1) -> bytes:
    """Minimal AIFF: FORM/AIFF with COMM (80-bit-extended rate) and
    SSND (zero offset/blockSize) chunks (round 8)."""
    comm = struct.pack(">HIH", channels, n_frames, bps) + _ieee_extended(sr)
    ssnd = struct.pack(">II", 0, 0) + frames
    body = b"AIFF"
    for cid, payload in ((b"COMM", comm), (b"SSND", ssnd)):
        body += cid + struct.pack(">I", len(payload)) + payload
        if len(payload) % 2:
            body += b"\x00"
    return b"FORM" + struct.pack(">I", len(body)) + body


def _flac(pcm: np.ndarray, sr: int) -> bytes:
    from ..operators.flac import encode_flac_s16

    return encode_flac_s16(_i16(pcm), sr)


def _flac_sub(pcm: np.ndarray, sr: int, subframe: str) -> bytes:
    from ..operators.flac import encode_flac_s16

    return encode_flac_s16(_i16(pcm), sr, subframe=subframe)


def _flac_bps(pcm: np.ndarray, sr: int, bps: int, subframe: str) -> bytes:
    """FLAC at a non-16 sample width (24-bit = real-world hi-res); the
    float signal quantizes at the width's full scale with the same
    truncation convention as _i16."""
    from ..operators.flac import encode_flac_pcm

    lim = (1 << (bps - 1)) - 1
    return encode_flac_pcm(
        (pcm * lim).astype(np.int64), sr, bps=bps, subframe=subframe
    )


def _flac_stereo(
    mono: np.ndarray, diff: np.ndarray, sr: int, mode: str,
    subframes: tuple[str, str],
) -> bytes:
    """Decorrelated-stereo FLAC whose mean-downmix is EXACTLY `mono`:
    left = m + d, right = m - d in int16 space, so mean = m with no
    rounding (l + r = 2m is always even — mid/side loses nothing and
    the downmix mean is integral). The decoded features are therefore
    BY CONSTRUCTION identical to the mono twin row's frozen values."""
    from ..operators.flac import encode_flac_s16_stereo

    m = _i16(mono).astype(np.int64)
    d = _i16(diff).astype(np.int64)
    left, right = m + d, m - d
    assert np.abs(left).max() <= 32767 and np.abs(right).max() <= 32767
    return encode_flac_s16_stereo(left, right, sr, mode=mode, subframes=subframes)


# ------------------------------------------------------------- the corpus


def build_rows() -> list[tuple[int, bytes | None, str | None, int | None]]:
    """(fid, bytes, codec, sr_hz) — pure function, no RNG."""
    from ..operators.decode import MAX_CONTENT_LENGTH

    rows: list[tuple[int, bytes | None, str | None, int | None]] = []
    fid = 0

    def add(blob, codec, sr_hz):
        nonlocal fid
        rows.append((fid, blob, codec, sr_hz))
        fid += 1

    # -- A: wav sines across sample rates / frequencies (centroid tracks
    #    the tone; resample up + down both exercised) -- fids 0..7
    for sr, freq in [
        (8000, 110.0),
        (8000, 440.0),
        (16000, 440.0),
        (16000, 1000.0),
        (22050, 523.25),
        (44100, 1000.0),
        (44100, 3000.0),
        (48000, 997.0),
    ]:
        add(_wav(_sine(sr // 4, sr, freq), sr), "wav", sr)

    # -- B: hand-checkable wav specials -- fids 8..18
    # 8: silence — rms=peak=dc=zcr=0, every frame silent (silence_ratio 1)
    add(_wav(_const(4000, 0.0), 16000), "wav", 16000)
    # 9: const +0.5 — int16 trunc(0.5*32767)=16383, so every sample is
    #    16383/32767; rms=dc=peak=16383/32767=0.4999847...; zcr=0
    add(_wav(_const(2000, 0.5), 8000), "wav", 8000)
    # 10: per-sample square ±0.5 — |sample| = 16383/32767 everywhere so
    #     rms=peak=0.4999847...; signbit flips at EVERY step → zcr=1.0;
    #     even count of (+,-) pairs → dc=0 exactly
    add(_wav(_square(4000, 0.5), 16000), "wav", 16000)
    # 11: full-scale const 1.0 — int16 32767 → float 1.0: peak=1,
    #     clip_ratio=1 (|x|≥0.999), rms=1, dc=1
    add(_wav(_const(4000, 1.0), 16000), "wav", 16000)
    # 12: ramp, 13: deterministic noise
    add(_wav(_ramp(8000), 16000), "wav", 16000)
    add(_wav(_hashnoise(4000), 16000), "wav", 16000)
    # 14: shorter than one 25ms frame (320 samples @16k < 400) —
    #     n_frames=0, silence_ratio=1.0 (the sub-frame-clip fix)
    add(_wav(_sine(320, 16000, 440.0), 16000), "wav", 16000)
    # 15: single sample — n>1 zcr branch off, spectral under 16 samples → 0
    add(_wav(_const(1, 0.25), 16000), "wav", 16000)
    # 16: stereo downmix — L=440Hz, R=880Hz sines averaged per frame
    L, R = _sine(4000, 16000, 440.0), _sine(4000, 16000, 880.0)
    add(_wav(np.stack([L, R], axis=1).reshape(-1), 16000, channels=2), "wav", 16000)
    # 17: hand-rolled RIFF with an ODD data-chunk size (1001 bytes =
    #     500 samples + 1 trailing byte dropped) followed by another
    #     chunk — exercises the word-alignment pad walk
    odd_data = _i16(_sine(500, 8000, 220.0)).tobytes() + b"\x7f"
    add(
        _riff([(b"fmt ", _fmt_chunk(8000)), (b"data", odd_data), (b"cue ", b"\x00" * 4)]),
        "wav",
        8000,
    )
    # 18: LIST metadata chunk BEFORE fmt/data (parser must skip it)
    add(
        _riff(
            [
                (b"LIST", b"INFOIART" + struct.pack("<I", 4) + b"anon"),
                (b"fmt ", _fmt_chunk(16000)),
                (b"data", _i16(_sine(2000, 16000, 440.0)).tobytes()),
            ]
        ),
        "wav",
        16000,
    )

    # -- C: raw pcm_s16le -- fids 19..24
    add(_i16(_sine(4000, 16000, 440.0)).tobytes(), "pcm_s16le", 16000)
    add(_i16(_hashnoise(2000)).tobytes(), "pcm_s16le", 8000)
    add(_i16(_square(8000, 0.5)).tobytes(), "pcm_s16le", 44100)
    # 22: odd byte count — trailing byte dropped
    add(_i16(_sine(1000, 16000, 440.0)).tobytes() + b"\x01", "pcm_s16le", 16000)
    # 23: single byte — zero full samples → empty_pcm error
    add(b"\x01", "pcm_s16le", 16000)
    # 24: NULL sr_hz → decoder defaults to 16000
    add(_i16(_sine(2000, 16000, 440.0)).tobytes(), "pcm_s16le", None)

    # -- D: real FLAC (own verbatim encoder, own bitstream decoder) --
    #    fids 25..29
    add(_flac(_sine(2000, 8000, 220.0), 8000), "flac", 8000)
    add(_flac(_square(4000, 0.5), 16000), "flac", 16000)
    add(_flac(_hashnoise(2205), 22050), "flac", 22050)
    add(_flac(_const(4410, 0.0), 44100), "flac", 44100)
    add(_flac(_const(2000, 0.25), 16000), "flac", 16000)

    # -- E: error rows (the typed-error contract) -- fids 30..44
    add(b"", "wav", 16000)  # 30 empty_bytes
    add(None, "wav", 16000)  # 31 empty_bytes (NULL blob)
    # 32: codec outside the whitelist — 'speex' stays permanently
    #     unlisted (was 'mp3' through round 7; mp3 is whitelisted since
    #     round 8 behind the import-gated compressed-codec slot, whose
    #     error is environment-dependent and so lives in unit tests,
    #     not this frozen corpus)
    add(_wav(_sine(400, 8000, 110.0), 8000), "speex", 8000)
    add(_wav(_sine(400, 8000, 110.0), 8000), None, 8000)  # 33 NULL codec
    # 34: over the 10 MiB cap (content-length guard, http.go:61)
    add(b"\x00" * (MAX_CONTENT_LENGTH + 2), "pcm_s16le", 16000)
    add(b"JUNKJUNKJUNKJUNK" * 4, "wav", 16000)  # 35 bad_riff_header
    # 36: RIFF but not WAVE
    add(b"RIFF" + struct.pack("<I", 36) + b"AVI " + b"\x00" * 32, "wav", 16000)
    # 37: fmt only, data chunk missing
    add(_riff([(b"fmt ", _fmt_chunk(16000))]), "wav", 16000)
    # 38: data only, fmt chunk missing
    add(_riff([(b"data", b"\x00" * 64)]), "wav", 16000)
    # 39: 12-bit wav → unsupported_wav_format (8-bit DECODES since
    #     round 7 — see fid 56; 12-bit stays outside the WAV surface)
    add(
        _riff([(b"fmt ", _fmt_chunk(16000, bps=12)), (b"data", b"\x80" * 64)]),
        "wav",
        16000,
    )
    # 40: IEEE-float wav with an invalid 16-bit width (fmt tag 3 is
    #     only defined at 32/64) → unsupported_wav_format
    add(
        _riff([(b"fmt ", _fmt_chunk(16000, fmt=3)), (b"data", b"\x00" * 64)]),
        "wav",
        16000,
    )
    # 41: truncated flac (first third of a valid stream)
    good = _flac(_sine(2000, 16000, 440.0), 16000)
    add(good[: len(good) // 3], "flac", 16000)
    # 42: flac magic + garbage
    add(b"fLaC" + b"\xde\xad\xbe\xef" * 16, "flac", 16000)
    # 43: wav bytes labelled flac (magic mismatch)
    add(_wav(_sine(400, 8000, 110.0), 8000), "flac", 8000)
    # 44: flac bytes labelled wav (bad_riff_header)
    add(_flac(_sine(400, 8000, 110.0), 8000), "wav", 8000)

    # -- F: FLAC subframe-type variants (round 6) -- fids 45..48.
    #    Each encodes the SAME closed-form signal as an existing
    #    verbatim-FLAC row through a different subframe family
    #    (CONSTANT / FIXED order-2 / LPC order-2 with Rice residuals),
    #    so its expected features are BY CONSTRUCTION identical to
    #    that row's frozen values — the decoder's predictor paths are
    #    value-gated without any new hand arithmetic
    #    (test_audio_fixtures pins the cross-fid equality).
    add(_flac_sub(_sine(2000, 8000, 220.0), 8000, "fixed"), "flac", 8000)  # == 25
    add(_flac_sub(_sine(2000, 8000, 220.0), 8000, "lpc"), "flac", 8000)  # == 25
    add(_flac_sub(_const(2000, 0.25), 16000, "constant"), "flac", 16000)  # == 29
    add(_flac_sub(_hashnoise(2205), 22050, "lpc"), "flac", 22050)  # == 27

    # -- G: FLAC stereo decorrelation (round 7) -- fids 49..51, one per
    #    channel assignment (left-side / right-side / mid-side — the
    #    modes real stereo encoders emit; previously typed-error rows).
    #    Each stream's channels are m ± d, whose mean-downmix is m by
    #    construction, so the expected features equal an existing mono
    #    row's frozen values with no new arithmetic. Predictor-coded
    #    subframes sit on BOTH the primary and the 17-bit side channel.
    # 49 == 25 (sine 220Hz @8k), left/side, FIXED + LPC
    add(
        _flac_stereo(
            _sine(2000, 8000, 220.0), _hashnoise(2000, amp=0.1), 8000,
            "left_side", ("fixed", "lpc"),
        ),
        "flac", 8000,
    )
    # 50 == 27 (hashnoise @22050), right/side, LPC + FIXED
    add(
        _flac_stereo(
            _hashnoise(2205), _sine(2205, 22050, 441.0, amp=0.09), 22050,
            "right_side", ("lpc", "fixed"),
        ),
        "flac", 22050,
    )
    # 51 == 29 (const 0.25 @16k), mid/side, FIXED + LPC
    add(
        _flac_stereo(
            _const(2000, 0.25), _sine(2000, 16000, 330.0, amp=0.15), 16000,
            "mid_side", ("fixed", "lpc"),
        ),
        "flac", 16000,
    )

    # -- H: FLAC sample widths beyond 16-bit (round 7) -- fids 52..54.
    # 52: 24-bit const +0.5 (CONSTANT subframe) — hand arithmetic:
    #     trunc(0.5 * 8388607) = 4194303, decode normalizes by the
    #     24-bit full scale in float32, so every sample is exactly
    #     float32(4194303/8388607); rms=peak=dc=that, zcr=0
    add(_flac_bps(_const(2000, 0.5), 16000, 24, "constant"), "flac", 16000)
    # 53: 24-bit sine through the FIXED predictor at width 24 (17-bit
    #     residual arithmetic exercised at 24-bit warmups)
    add(_flac_bps(_sine(2000, 8000, 220.0), 8000, 24, "fixed"), "flac", 8000)
    # 54: 8-bit const +0.25 — trunc(0.25*127)=31 -> float32(31/127)
    add(_flac_bps(_const(2000, 0.25), 16000, 8, "constant"), "flac", 16000)

    # -- I: WAV sample widths beyond 16-bit (round 7) -- fids 55..58.
    #    CROSS-CONTAINER twins: 55/56/58 quantize the SAME signals at
    #    the SAME widths as FLAC rows 52/54/53, so their expected
    #    features are BY CONSTRUCTION identical to those rows' frozen
    #    values — the two container parsers are value-locked to one
    #    truth (and 52/54 to hand arithmetic).
    # 55 == 52: 24-bit PCM WAV, const +0.5
    add(_wav24(_const(2000, 0.5), 16000), "wav", 16000)
    # 56 == 54: 8-bit UNSIGNED PCM WAV, const +0.25 — byte value is
    #     128 + trunc(0.25*127) = 159; decode subtracts the 128 offset
    add(_wav8(_const(2000, 0.25), 16000), "wav", 16000)
    # 57: float32 WAV sine (IEEE float tag 3 — no int quantization;
    #     frozen via derivation, the float-path drift alarm)
    add(_wavf32(_sine(2000, 16000, 440.0), 16000), "wav", 16000)
    # 58 == 53: 24-bit PCM WAV, the FLAC-24 sine's exact int samples
    add(_wav24(_sine(2000, 8000, 220.0), 8000), "wav", 8000)

    # -- J: G.711 telephony + raw-codec twins (round 7) -- fids 59..63.
    #    The G.711 payload is the full code space bytes(0..255) x 4, so
    #    every table entry is exercised (tables pinned code-for-code
    #    against the stdlib audioop oracle in tests/test_decode.py;
    #    hand values: µ-law 0xFF/0x7F = ±0, 0x80/0x00 = ±32124; A-law
    #    0x55/0xD5 = ∓8, 0x2A/0xAA = ∓32256).
    g711 = bytes(range(256)) * 4
    # 59: µ-law WAV (format tag 7)
    add(_riff([(b"fmt ", _fmt_chunk(8000, bps=8, fmt=7)), (b"data", g711)]),
        "wav", 8000)
    # 60: A-law WAV (format tag 6)
    add(_riff([(b"fmt ", _fmt_chunk(8000, bps=8, fmt=6)), (b"data", g711)]),
        "wav", 8000)
    # 61 == 59: the same µ-law codes as a HEADERLESS pcm_mulaw blob —
    #     container-vs-raw twin (sr from the sr_hz column)
    add(g711, "pcm_mulaw", 8000)
    # 62 == 58 == 53: the 24-bit sine's exact bytes as raw pcm_s24le
    add(_wav24(_sine(2000, 8000, 220.0), 8000)[44:], "pcm_s24le", 8000)
    # 63 == 57: the float32 sine's exact bytes as raw pcm_f32le
    add(_sine(2000, 16000, 440.0).astype("<f4").tobytes(), "pcm_f32le", 16000)
    # 64: IMA ADPCM WAV (format tag 0x11) — 2 blocks x 505 samples of
    #     a 220Hz sine; lossy 4-bit compression, truth = frozen decode
    #     (the nibble recurrence is audioop-pinned; the unit test also
    #     gates encode->decode SNR)
    add(_wav_ima(_sine(1010, 8000, 220.0), 8000), "wav", 8000)

    # -- K: IMA ADPCM twins (round 8) -- fids 65..66, both frozen
    #    BY CONSTRUCTION to fid 64's values.
    # 65 == 64: STEREO IMA ADPCM carrying fid 64's exact code stream on
    #     both channels — mean-downmix of identical channels is the
    #     mono signal (VERDICT r7 #3: stereo ADPCM was a typed error)
    add(_wav_ima_stereo_dup(_sine(1010, 8000, 220.0), 8000), "wav", 8000)
    # 66 == 64: a LONGER encode of the same sine (3 whole blocks, 1515
    #     samples — _sine is prefix-stable, so blocks 1-2 are byte-
    #     identical to fid 64's) with a 'fact' chunk advertising 1010
    #     frames; the decoder truncates the padding block (ADVICE r7:
    #     without fact, partial final blocks decode phantom samples)
    add(
        _wav_ima(_sine(1515, 8000, 220.0), 8000, fact_samples=1010),
        "wav", 8000,
    )

    # -- L: AU + AIFF containers (round 8) -- fids 67..71, every decode
    #    row a CROSS-CONTAINER twin of an existing frozen truth.
    # 67 == 19: AU int16 BE of the raw pcm_s16le sine's exact samples
    add(
        _au(_i16(_sine(4000, 16000, 440.0)).astype(">i2").tobytes(), 16000, 3),
        "au", None,
    )
    # 68 == 59/61: AU G.711 µ-law over the full code space
    add(_au(g711, 8000, 1), "au", None)
    # 69 == 19 == 67: AIFF 16-bit BE, third parser on one truth
    s16 = _i16(_sine(4000, 16000, 440.0))
    add(_aiff(s16.astype(">i2").tobytes(), 16000, len(s16), 16), "aiff", None)
    # 70 == 53 == 58 == 62: AIFF 24-bit BE of the 24-bit sine — the
    #     24-bit truth now locked across FOUR parsers (FLAC/WAV/raw/AIFF)
    v24 = (_sine(2000, 8000, 220.0) * 8388607).astype(np.int64) & 0xFFFFFF
    b24 = np.zeros((len(v24), 3), dtype=np.uint8)
    b24[:, 0], b24[:, 1], b24[:, 2] = (v24 >> 16) & 0xFF, (v24 >> 8) & 0xFF, v24 & 0xFF
    add(_aiff(b24.tobytes(), 8000, len(v24), 24), "aiff", None)
    # 71: AU with an unknown encoding id -> typed error row
    add(_au(b"\x00" * 64, 8000, 99), "au", None)
    # 72 == 55 == 52: RF64 (64-bit WAV, the >4GiB production variant —
    #     encoders emit it preemptively for small files too) wrapping
    #     fid 55's exact fmt+data chunks; the data size comes from the
    #     ds64 chunk, the 32-bit field holds the 0xFFFFFFFF sentinel
    v = (_const(2000, 0.5) * 8388607).astype(np.int64) & 0xFFFFFF
    b3 = np.zeros((len(v), 3), dtype=np.uint8)
    b3[:, 0], b3[:, 1], b3[:, 2] = v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF
    add(
        _rf64([(b"fmt ", _fmt_chunk(16000, bps=24)), (b"data", b3.tobytes())]),
        "wav", 16000,
    )

    return rows


# ------------------------------------------------------------ derivation

def derive_expected() -> list[tuple]:
    """Recompute the expectation table from the LIVE operators (the
    drift alarm; EXPECTED below is this output frozen)."""
    from ..operators import audio_features as af

    out = []
    for fid, blob, codec, sr_hz in build_rows():
        (_cid, err, n_frames, _rms_a, _zcr_a, cent, roll, sil, _rs, rn, *scalars) = (
            af.features_for_clip(str(fid), blob, codec, sr_hz)
        )
        out.append((fid, err is None, err, *scalars, n_frames, cent, roll, sil, rn))
    return out


# FROZEN expectations (derive_expected() output; regenerate ONLY on an
# intentional semantics change via tools/regen_audio_fixtures.py).
EXPECTED: list[tuple] = [
    (0, True, None, 2000, 8000, 0.42424999894035936, 0.599993884563446, 0.0, 0.006940427699126304, 0.027013506753376687, 23, 200.741, 156.0, 0.0, 4000),
    (1, True, None, 2000, 8000, 0.4242491691363337, 0.599993884563446, 0.0, 0.0, 0.10955477738869435, 23, 1000.626, 440.0, 0.0, 4000),
    (2, True, None, 4000, 16000, 0.4242500966620093, 0.599993884563446, 0.0, 0.0, 0.05476369092273068, 23, 440.576, 440.0, 0.0, 4000),
    (3, True, None, 4000, 16000, 0.4242472646685879, 0.599993884563446, 0.0, 0.0, 0.12478119529882471, 23, 1000.082, 1000.0, 0.0, 4000),
    (4, True, None, 5512, 22050, 0.4242916686756972, 0.599993884563446, 0.0, 0.0005522786505474386, 0.04735982580293958, 23, 1085.706, 1540.0, 0.0, 4000),
    (5, True, None, 11025, 44100, 0.4242509950024384, 0.599993884563446, 0.0, 0.0, 0.04526487663280116, 23, 1005.63, 1000.0, 0.0, 4000),
    (6, True, None, 11025, 44100, 0.4242511800888743, 0.599963366985321, 0.0, 0.0, 0.13597605224963716, 23, 3019.548, 3000.0, 0.0, 4000),
    (7, True, None, 12000, 48000, 0.4242326373091016, 0.599993884563446, 0.0, 0.0003576768465961019, 0.041503458621551796, 23, 1522.896, 2040.0, 0.0, 4000),
    (8, True, None, 4000, 16000, 0.0, 0.0, 0.0, 0.0, 0.0, 23, 0.0, 0.0, 1.0, 4000),
    (9, True, None, 2000, 8000, 0.4999847412109375, 0.4999847412109375, 0.0, 0.4999847412109375, 0.0, 23, 0.0, 0.0, 0.0, 4000),
    (10, True, None, 4000, 16000, 0.4999847412109375, 0.4999847412109375, 0.0, 0.0, 1.0, 23, 8000.0, 8000.0, 0.0, 4000),
    (11, True, None, 4000, 16000, 1.0, 1.0, 1.0, 1.0, 0.0, 23, 0.0, 0.0, 0.0, 4000),
    (12, True, None, 8000, 16000, 0.5196669459487417, 0.8999908566474915, 0.0, 0.0, 0.00012501562695336918, 48, 1023.876, 2542.0, 0.0, 8000),
    (13, True, None, 4000, 16000, 0.45798508005110355, 0.8999298214912415, 0.0, -0.2992561341102701, 0.2948237059264816, 23, 3540.419, 6596.0, 0.0, 4000),
    (14, True, None, 320, 16000, 0.42476657604285156, 0.599993884563446, 0.0, 0.008370558638125658, 0.05329153605015674, 0, 1216.087, 2350.0, 1.0, 320),
    (15, True, None, 1, 16000, 0.24997711181640625, 0.24997711181640625, 0.0, 0.24997711181640625, 0.0, 0, 0.0, 0.0, 1.0, 1),
    (16, True, None, 4000, 16000, 0.2999897923639925, 0.5280007123947144, 0.0, 0.0, 0.10977744436109027, 23, 660.475, 880.0, 0.0, 4000),
    (17, True, None, 500, 8000, 0.4238256149127972, 0.599993884563446, 0.0, 0.007527389787137509, 0.05410821643286573, 4, 947.861, 1840.0, 0.0, 1000),
    (18, True, None, 2000, 16000, 0.4242500966620093, 0.599993884563446, 0.0, 0.0, 0.054527263631815905, 11, 440.576, 440.0, 0.0, 2000),
    (19, True, None, 4000, 16000, 0.4242500966620093, 0.599993884563446, 0.0, 0.0, 0.05476369092273068, 23, 440.576, 440.0, 0.0, 4000),
    (20, True, None, 2000, 8000, 0.45896828877187273, 0.8998077511787415, 0.0, -0.2973673969199881, 0.29964982491245623, 23, 2103.685, 4104.0, 0.0, 4000),
    (21, True, None, 8000, 44100, 0.4999847412109375, 0.4999847412109375, 0.0, 0.0, 1.0, 16, 5361.525, 6108.89, 0.0, 2902),
    (22, True, None, 1000, 16000, 0.4242500966620093, 0.599993884563446, 0.0, 0.006927395902574063, 0.05405405405405406, 4, 590.602, 608.0, 0.0, 1000),
    (23, False, 'empty_pcm', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (24, True, None, 2000, 16000, 0.4242500966620093, 0.599993884563446, 0.0, 0.0, 0.054527263631815905, 11, 440.576, 440.0, 0.0, 2000),
    (25, True, None, 2000, 8000, 0.4242500966620093, 0.599993884563446, 0.0, 0.0, 0.054527263631815905, 23, 532.046, 220.0, 0.0, 4000),
    (26, True, None, 4000, 16000, 0.4999847412109375, 0.4999847412109375, 0.0, 0.0, 1.0, 23, 8000.0, 8000.0, 0.0, 4000),
    (27, True, None, 2205, 22050, 0.45772826422361373, 0.8998077511787415, 0.0, -0.2971544220878863, 0.3017241379310345, 8, 3303.811, 6410.0, 0.0, 1600),
    (28, True, None, 4410, 44100, 0.0, 0.0, 0.0, 0.0, 0.0, 8, 0.0, 0.0, 1.0, 1600),
    (29, True, None, 2000, 16000, 0.24997711181640625, 0.24997711181640625, 0.0, 0.24997711181640625, 0.0, 11, 0.0, 0.0, 0.0, 2000),
    (30, False, 'empty_bytes', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (31, False, 'empty_bytes', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (32, False, 'codec_not_whitelisted', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (33, False, 'codec_not_whitelisted', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (34, False, 'max_content_length', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (35, False, 'bad_riff_header', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (36, False, 'bad_riff_header', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (37, False, 'bad_riff_header', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (38, False, 'missing_wav_chunk', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (39, False, 'unsupported_wav_format', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (40, False, 'unsupported_wav_format', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (41, False, 'decode_error', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (42, False, 'flac_truncated', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (43, False, 'bad_flac_header', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (44, False, 'bad_riff_header', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (45, True, None, 2000, 8000, 0.4242500966620093, 0.599993884563446, 0.0, 0.0, 0.054527263631815905, 23, 532.046, 220.0, 0.0, 4000),
    (46, True, None, 2000, 8000, 0.4242500966620093, 0.599993884563446, 0.0, 0.0, 0.054527263631815905, 23, 532.046, 220.0, 0.0, 4000),
    (47, True, None, 2000, 16000, 0.24997711181640625, 0.24997711181640625, 0.0, 0.24997711181640625, 0.0, 11, 0.0, 0.0, 0.0, 2000),
    (48, True, None, 2205, 22050, 0.45772826422361373, 0.8998077511787415, 0.0, -0.2971544220878863, 0.3017241379310345, 8, 3303.811, 6410.0, 0.0, 1600),
    (49, True, None, 2000, 8000, 0.4242500966620093, 0.599993884563446, 0.0, 0.0, 0.054527263631815905, 23, 532.046, 220.0, 0.0, 4000),
    (50, True, None, 2205, 22050, 0.45772826422361373, 0.8998077511787415, 0.0, -0.2971544220878863, 0.3017241379310345, 8, 3303.811, 6410.0, 0.0, 1600),
    (51, True, None, 2000, 16000, 0.24997711181640625, 0.24997711181640625, 0.0, 0.24997711181640625, 0.0, 11, 0.0, 0.0, 0.0, 2000),
    (52, True, None, 2000, 16000, 0.4999999403953552, 0.4999999403953552, 0.0, 0.4999999403953552, 0.0, 11, 0.0, 0.0, 0.0, 2000),
    (53, True, None, 2000, 8000, 0.42426401048076223, 0.5999999642372131, 0.0, 0.0, 0.054527263631815905, 23, 532.046, 220.0, 0.0, 4000),
    (54, True, None, 2000, 16000, 0.24409449100494385, 0.24409449100494385, 0.0, 0.24409449100494385, 0.0, 11, 0.0, 0.0, 0.0, 2000),
    (55, True, None, 2000, 16000, 0.4999999403953552, 0.4999999403953552, 0.0, 0.4999999403953552, 0.0, 11, 0.0, 0.0, 0.0, 2000),
    (56, True, None, 2000, 16000, 0.24409449100494385, 0.24409449100494385, 0.0, 0.24409449100494385, 0.0, 11, 0.0, 0.0, 0.0, 2000),
    (57, True, None, 2000, 16000, 0.42426406919016113, 0.6000000238418579, 0.0, 6.217248937900877e-18, 0.054527263631815905, 11, 440.001, 440.0, 0.0, 2000),
    (58, True, None, 2000, 8000, 0.42426401048076223, 0.5999999642372131, 0.0, 0.0, 0.054527263631815905, 23, 532.046, 220.0, 0.0, 4000),
    (59, True, None, 1024, 8000, 0.3093938061113677, 0.9803766012191772, 0.0, 0.0, 0.006842619745845552, 11, 1653.53, 4101.562, 0.0, 2048),
    (60, True, None, 1024, 8000, 0.31178710586811964, 0.9844050407409668, 0.0, 0.0, 0.006842619745845552, 11, 1191.93, 2781.25, 0.0, 2048),
    (61, True, None, 1024, 8000, 0.3093938061113677, 0.9803766012191772, 0.0, 0.0, 0.006842619745845552, 11, 1653.53, 4101.562, 0.0, 2048),
    (62, True, None, 2000, 8000, 0.42426401048076223, 0.5999999642372131, 0.0, 0.0, 0.054527263631815905, 23, 532.046, 220.0, 0.0, 4000),
    (63, True, None, 2000, 16000, 0.42426406919016113, 0.6000000238418579, 0.0, 6.217248937900877e-18, 0.054527263631815905, 11, 440.001, 440.0, 0.0, 2000),
    (64, True, None, 1010, 8000, 0.4225098396017811, 0.6080812811851501, 0.0, 0.00014793936089418903, 0.05450941526263627, 11, 1018.445, 2114.851, 0.0, 2020),
    (65, True, None, 1010, 8000, 0.4225098396017811, 0.6080812811851501, 0.0, 0.00014793936089418903, 0.05450941526263627, 11, 1018.445, 2114.851, 0.0, 2020),
    (66, True, None, 1010, 8000, 0.4225098396017811, 0.6080812811851501, 0.0, 0.00014793936089418903, 0.05450941526263627, 11, 1018.445, 2114.851, 0.0, 2020),
    (67, True, None, 4000, 16000, 0.4242500966620093, 0.599993884563446, 0.0, 0.0, 0.05476369092273068, 23, 440.576, 440.0, 0.0, 4000),
    (68, True, None, 1024, 8000, 0.3093938061113677, 0.9803766012191772, 0.0, 0.0, 0.006842619745845552, 11, 1653.53, 4101.562, 0.0, 2048),
    (69, True, None, 4000, 16000, 0.4242500966620093, 0.599993884563446, 0.0, 0.0, 0.05476369092273068, 23, 440.576, 440.0, 0.0, 4000),
    (70, True, None, 2000, 8000, 0.42426401048076223, 0.5999999642372131, 0.0, 0.0, 0.054527263631815905, 23, 532.046, 220.0, 0.0, 4000),
    (71, False, 'unsupported_au_encoding', 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0),
    (72, True, None, 2000, 16000, 0.4999999403953552, 0.4999999403953552, 0.0, 0.4999999403953552, 0.0, 11, 0.0, 0.0, 0.0, 2000),
]
