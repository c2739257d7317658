"""audio_decode_docs fixture integrity: the frozen EXPECTED table must
match (a) a live re-derivation through the production operators — so a
silent decode/features semantics change trips here before the driver
gate — and (b) the HAND_CHECKED arithmetic done independently of the
decode code (breaking decode<->decode circularity)."""

from __future__ import annotations

import numpy as np

from go_pkg_spider_spark.fixtures import audio_fixtures as ax

# column names of an EXPECTED row (audio_fixtures.derive_expected)
EXPECTED_COLUMNS = (
    "fid",
    "ok",
    "err",
    "n_samples",
    "sr_decoded",
    "rms",
    "peak",
    "clip_ratio",
    "dc_offset",
    "zcr",
    "n_frames",
    "centroid_hz",
    "rolloff_hz",
    "silence_ratio",
    "resampled_n",
)


# Hand-derived values (documented arithmetic; see
# audio_fixtures.build_rows comments).
# q15: int16 truncation of 0.5*32767 = 16383.5 -> 16383, then the
# decode normalization DIVIDES IN FLOAT32 (decode.py:79), so the exact
# constant is the float32-rounded quotient 16383/32767 =
# 0.4999847412109375 (float64 division would give ...740745262 — one
# float32 ulp away; the float32 rounding is part of the contract).
_Q15 = float(np.float32(16383.0) / np.float32(32767.0))
_Q25 = float(np.float32(8191.0) / np.float32(32767.0))  # trunc(0.25*32767)=8191
_Q23 = float(np.float32(4194303.0) / np.float32(8388607.0))  # 24-bit +0.5
_Q7 = float(np.float32(31.0) / np.float32(127.0))  # 8-bit +0.25
HAND_CHECKED: dict[int, dict[str, float | int | bool]] = {
    # silence: all-zero samples
    8: {"ok": True, "rms": 0.0, "peak": 0.0, "dc_offset": 0.0, "zcr": 0.0,
        "clip_ratio": 0.0, "n_samples": 4000, "silence_ratio": 1.0},
    # const +0.5: every sample exactly 16383/32767 (float32-exact: 16383
    # and 32767 are both < 2^24); mean/rms/peak all equal it
    9: {"ok": True, "rms": _Q15, "peak": _Q15, "dc_offset": _Q15, "zcr": 0.0,
        "n_samples": 2000},
    # ±0.5 square: |x| = 16383/32767 everywhere → rms=peak=q15; sign
    # flips every adjacent pair → zcr = 1.0; 2000 (+,-) pairs → dc = 0
    10: {"ok": True, "rms": _Q15, "peak": _Q15, "dc_offset": 0.0, "zcr": 1.0,
         "n_samples": 4000},
    # full-scale: 1.0*32767 → 32767 → 1.0 exactly
    11: {"ok": True, "rms": 1.0, "peak": 1.0, "clip_ratio": 1.0,
         "dc_offset": 1.0, "zcr": 0.0, "n_samples": 4000},
    # sub-frame clip: decodes fine but yields zero 25ms frames
    14: {"ok": True, "n_samples": 320, "n_frames": 0, "silence_ratio": 1.0},
    # single sample 0.25 → trunc(8191.75)=8191, float32 quotient
    15: {"ok": True, "n_samples": 1, "peak": _Q25, "zcr": 0.0},
    # odd data chunk: 1001 bytes → 500 samples
    17: {"ok": True, "n_samples": 500},
    # raw pcm odd byte count: 2001 bytes → 1000 samples
    22: {"ok": True, "n_samples": 1000},
    # 24-bit const +0.5: trunc(0.5*8388607)=4194303, float32 quotient
    52: {"ok": True, "rms": _Q23, "peak": _Q23, "dc_offset": _Q23,
         "zcr": 0.0, "n_samples": 2000, "sr_decoded": 16000},
    # 8-bit const +0.25: trunc(0.25*127)=31, float32 quotient
    54: {"ok": True, "rms": _Q7, "peak": _Q7, "dc_offset": _Q7,
         "zcr": 0.0, "n_samples": 2000},
}


def test_expected_matches_live_derivation():
    derived = ax.derive_expected()
    assert len(derived) == len(ax.EXPECTED) == 73
    for got, frozen in zip(derived, ax.EXPECTED):
        assert got == frozen, f"fid {frozen[0]} drifted: {got} != {frozen}"


def test_hand_checked_rows():
    cols = EXPECTED_COLUMNS
    by_fid = {r[0]: dict(zip(cols, r)) for r in ax.EXPECTED}
    for fid, checks in HAND_CHECKED.items():
        for col, want in checks.items():
            got = by_fid[fid][col]
            assert got == want, f"fid {fid} {col}: {got} != hand-derived {want}"


def test_error_rows_are_typed():
    cols = EXPECTED_COLUMNS
    by_fid = {r[0]: dict(zip(cols, r)) for r in ax.EXPECTED}
    want_errs = {
        30: "empty_bytes",
        31: "empty_bytes",
        32: "codec_not_whitelisted",
        33: "codec_not_whitelisted",
        34: "max_content_length",
        35: "bad_riff_header",
        36: "bad_riff_header",
        # 37's fmt-only container is 36 bytes — under the 44-byte RIFF
        # minimum, so the size guard fires before chunk traversal
        37: "bad_riff_header",
        38: "missing_wav_chunk",
        39: "unsupported_wav_format",  # 12-bit (8-bit decodes since r7)
        40: "unsupported_wav_format",  # float tag at an invalid 16-bit width
        44: "bad_riff_header",
    }
    for fid, err in want_errs.items():
        assert by_fid[fid]["ok"] is False and by_fid[fid]["err"] == err
    # the flac corruption family must be typed errors too (exact string
    # is decoder-internal; ok=false + nonempty err is the contract)
    for fid in (41, 42, 43):
        assert by_fid[fid]["ok"] is False and by_fid[fid]["err"]
    # every non-error row decoded (73 total, 17 error rows: fid 23
    # empty_pcm + fids 30-44 + fid 71 unsupported_au_encoding)
    n_ok = sum(1 for r in ax.EXPECTED if r[1])
    assert n_ok == 56


def test_flac_subframe_variants_match_their_verbatim_twin():
    """fids 45-48 encode the SAME closed-form signal as an existing
    verbatim-FLAC row through CONSTANT / FIXED / LPC subframes — their
    frozen features must equal the twin row's EXACTLY (the
    by-construction truth that gates the decoder's predictor paths
    without new hand arithmetic)."""
    by_fid = {r[0]: r for r in ax.EXPECTED}
    for variant, twin in ((45, 25), (46, 25), (47, 29), (48, 27)):
        assert by_fid[variant][1:] == by_fid[twin][1:], (variant, twin)
    # and the variant blobs genuinely differ from the twins' bytes
    # (otherwise this gate would be vacuous)
    blobs = {f: b for f, b, _c, _s in ax.build_rows()}
    for variant, twin in ((45, 25), (46, 25), (47, 29), (48, 27)):
        assert blobs[variant] != blobs[twin]
    # predictors compress the SMOOTH signals (sine, const); the noise
    # variant (48) is incompressible by a 2-tap predictor by design —
    # it exists to exercise large Rice residuals, not compression
    for variant, twin in ((45, 25), (46, 25), (47, 29)):
        assert len(blobs[variant]) < len(blobs[twin])


def test_stereo_decorrelation_rows_match_their_mono_twin():
    """fids 49-51 (round 7): decorrelated-stereo FLAC (left-side /
    right-side / mid-side) built as channels m ± d, whose mean-downmix
    is m by construction — the frozen features must equal the mono
    twin's row EXACTLY, value-gating the stereo reconstruction paths
    through the driver oracle."""
    by_fid = {r[0]: r for r in ax.EXPECTED}
    for variant, twin in ((49, 25), (50, 27), (51, 29)):
        assert by_fid[variant][1:] == by_fid[twin][1:], (variant, twin)
    blobs = {f: b for f, b, _c, _s in ax.build_rows()}
    for variant, twin in ((49, 25), (50, 27), (51, 29)):
        assert blobs[variant] != blobs[twin]
        # STREAMINFO really declares 2 channels (byte 20 packs
        # sr_low4 | (channels-1)<<1 | bps_hi1)
        assert (blobs[variant][20] >> 1) & 0x7 == 1
        assert (blobs[twin][20] >> 1) & 0x7 == 0


def test_wav_width_rows_match_their_flac_twin():
    """fids 55/56/58 (round 7): 24-bit and 8-bit WAV rows quantize the
    SAME signals at the SAME widths as FLAC rows 52/54/53, so the two
    container parsers must decode to IDENTICAL frozen features — one
    truth value-locks both (and 52/54 chain to hand arithmetic)."""
    by_fid = {r[0]: r for r in ax.EXPECTED}
    for wav_row, flac_row in ((55, 52), (56, 54), (58, 53)):
        assert by_fid[wav_row][1:] == by_fid[flac_row][1:], (wav_row, flac_row)
    # the float32 WAV row really decodes (no int quantization path)
    assert by_fid[57][1] is True and by_fid[57][3] == 2000
    # container-vs-raw twins (round 7 G.711/raw family): the same
    # bytes through the WAV tag path and the headerless codec path
    # must land on identical frozen features
    for raw_row, twin in ((61, 59), (62, 58), (63, 57)):
        assert by_fid[raw_row][1:] == by_fid[twin][1:], (raw_row, twin)
    # both G.711 laws decode the full code space (256 codes x 4)
    for f in (59, 60):
        assert by_fid[f][1] is True and by_fid[f][3] == 1024


def test_blobs_are_deterministic():
    a = ax.build_rows()
    b = ax.build_rows()
    assert [(f, bl, c, s) for f, bl, c, s in a] == [
        (f, bl, c, s) for f, bl, c, s in b
    ]


def test_sub_frame_clip_has_zero_frames():
    """Regression for the _frames IndexError on clips shorter than one
    25ms frame (found building these fixtures)."""
    import numpy as np

    from go_pkg_spider_spark.operators.audio_features import _frames

    assert _frames(np.zeros(32), 16000).shape[0] == 0
    assert _frames(np.zeros(399), 16000).shape[0] == 0
    assert _frames(np.zeros(400), 16000).shape[0] == 1
    assert _frames(np.zeros(0), 16000).shape[0] == 0


def test_ima_adpcm_twins_match_their_mono_twin():
    """fids 65-66 (round 8): (65) STEREO IMA ADPCM carrying fid 64's
    exact code stream on both channels — mean-downmix of identical
    channels is the mono signal; (66) a 3-block encode of the same
    prefix-stable sine with a 'fact' chunk truncating to 1010 frames.
    Both must equal fid 64's frozen row EXACTLY (by-construction
    truth: the stereo interleave and the fact truncation are
    value-gated without new hand arithmetic)."""
    by_fid = {r[0]: r for r in ax.EXPECTED}
    for variant in (65, 66):
        assert by_fid[variant][1:] == by_fid[64][1:], variant
    blobs = {f: b for f, b, _c, _s in ax.build_rows()}
    assert blobs[65] != blobs[64] and blobs[66] != blobs[64]
    # 65 really declares 2 channels in its fmt chunk (offset 22 in a
    # fmt-first RIFF: 12 riff/wave + 8 chunk header + 2 fmt tag)
    assert blobs[65][22] == 2 and blobs[64][22] == 1
    # 65's data payload is exactly double 64's (dup channel), plus one
    # extra 4-byte header per block (2 blocks)
    # 66 carries a 'fact' chunk and a LONGER data payload than 64
    assert b"fact" in blobs[66] and b"fact" not in blobs[64]
    assert len(blobs[66]) > len(blobs[64])


def test_au_aiff_rows_match_their_twins():
    """fids 67-70 (round 8): the Sun .au and AIFF containers carrying
    EXACT sample twins of existing frozen rows — 67/69 the raw
    pcm_s16le sine (fid 19, now one truth across three parsers), 68
    the full G.711 µ-law code space (fid 59), 70 the 24-bit sine
    (fid 53 — locked across FLAC/WAV/raw/AIFF). 71 pins the typed
    unknown-encoding error."""
    by_fid = {r[0]: r for r in ax.EXPECTED}
    for variant, twin in ((67, 19), (68, 59), (69, 19), (70, 53)):
        assert by_fid[variant][1:] == by_fid[twin][1:], (variant, twin)
    assert by_fid[71][1] is False and by_fid[71][2] == "unsupported_au_encoding"
    blobs = {f: b for f, b, _c, _s in ax.build_rows()}
    for f in (67, 68, 71):
        assert blobs[f][:4] == b".snd"
    for f in (69, 70):
        assert blobs[f][:4] == b"FORM" and blobs[f][8:12] == b"AIFF"
    # fid 72 (RF64): same decode as its RIFF twin 55; the blob really
    # carries the RF64 magic, a ds64 chunk, and the 32-bit sentinel
    assert by_fid[72][1:] == by_fid[55][1:]
    assert blobs[72][:4] == b"RF64" and b"ds64" in blobs[72]
    assert b"\xff\xff\xff\xff" in blobs[72]
