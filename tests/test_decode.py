"""Decode-fidelity invariant (BASELINE.json input_hint): decoded PCM
allclose vs the generator's reference signal at SNR >= 30 dB, plus the
decode-reject paths."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from go_pkg_spider_spark import datagen
from go_pkg_spider_spark.operators import decode
from go_pkg_spider_spark.operators.fused import fused_model_arrow_udf


def _fused_decode():
    """The production decode column: the fused UDF with NULL langid and
    ppl inputs, which skips both models."""
    no_text = F.lit(None).cast("string")
    return fused_model_arrow_udf(
        F.col("bytes"), F.col("codec"), F.col("sr_hz"), no_text, no_text, no_text
    )


def _snr_db(ref: np.ndarray, got: np.ndarray) -> float:
    n = min(ref.size, got.size)
    ref, got = ref[:n], got[:n]
    noise = ref - got
    p_sig = float(np.mean(ref**2))
    p_noise = float(np.mean(noise**2)) or 1e-12
    return 10.0 * np.log10(p_sig / p_noise)


def test_wav_roundtrip_snr():
    """Pure-python decode path: every generated wav/pcm row must
    reconstruct the seeded reference signal at SNR>=30dB (16-bit
    quantization gives ~90dB, so 30 is a loose gate)."""
    checked = 0
    for i in range(120):
        cid, blob, sr, dur_ms, codec, _ = datagen.make_row(i)
        if codec not in ("wav", "pcm_s16le"):
            continue
        pcm, sr_dec, err = decode.decode_blob(blob, codec, sr)
        if err is not None:
            continue  # corrupt-share rows
        ref = datagen.expected_pcm(i, sr, pcm.size)
        assert _snr_db(ref, pcm) >= 30.0, (cid, codec)
        checked += 1
    assert checked >= 50


def test_reject_paths():
    assert decode.decode_blob(None, "wav", 16000)[2] == "empty_bytes"
    assert decode.decode_blob(b"x" * 10, "speex", 16000)[2] == "codec_not_whitelisted"
    assert decode.decode_blob(b"notriff" + b"\0" * 100, "wav", 16000)[2] == "bad_riff_header"
    big = b"RIFF" + b"\0" * (decode.MAX_CONTENT_LENGTH + 1)
    assert decode.decode_blob(big, "wav", 16000)[2] == "max_content_length"
    # malformed flac container -> typed decode error (real decoder now)
    assert decode.decode_blob(b"fLaC" + b"\0" * 32, "flac", 16000)[2] == "bad_flac_header"


def test_decode_udf_in_spark(spark, clips_path):
    df = spark.read.parquet(clips_path)
    out = df.select("clip_id", "codec", _fused_decode().alias("audio"))
    rows = out.collect()
    ok = [r for r in rows if r.audio.ok]
    assert len(ok) > len(rows) * 0.4
    for r in ok[:20]:
        assert r.audio.n_samples > 0
        assert 0.0 <= r.audio.rms <= 1.0


def test_prefilter_pushdown(spark, clips_path):
    """The codec/size guards must appear as data filters (pushdown to the
    scan), so rejected rows never reach the Arrow batch."""
    df = spark.read.parquet(clips_path).filter(decode.decode_prefilter())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "Filter" in plan
    assert df.count() > 0


def test_wav_sample_width_family():
    """Round 7: real-world WAV widths decode — 24-bit PCM (bit-exact
    vs independent int quantization), 8-bit unsigned (128 offset),
    float32/float64 (tag 3, no scaling), 32-bit PCM, stereo 24-bit
    downmix, and WAVE_FORMAT_EXTENSIBLE wrapping; 12-bit stays a typed
    error."""
    import struct

    import numpy as np

    from go_pkg_spider_spark.fixtures.audio_fixtures import (
        _fmt_chunk,
        _riff,
        _sine,
        _wav8,
        _wav24,
        _wavf32,
    )

    sig = _sine(3000, 16000, 440.0)
    # 24-bit: decode equals the independent quantization exactly
    pcm, sr = decode.decode_wav(_wav24(sig, 16000))
    want = ((sig * 8388607).astype(np.int64)).astype(np.float32) / np.float32(
        8388607.0
    )
    assert sr == 16000 and np.array_equal(pcm, want)
    # 8-bit unsigned round-trips through the 128 offset
    pcm8, _ = decode.decode_wav(_wav8(sig, 16000))
    want8 = ((sig * 127).astype(np.int64)).astype(np.float32) / np.float32(127.0)
    assert np.array_equal(pcm8, want8)
    # float32: samples pass through exactly
    pf, _ = decode.decode_wav(_wavf32(sig, 16000))
    assert np.array_equal(pf, sig.astype("<f4"))
    # float64
    blob64 = _riff(
        [(b"fmt ", _fmt_chunk(16000, bps=64, fmt=3)),
         (b"data", sig.astype("<f8").tobytes())]
    )
    p64, _ = decode.decode_wav(blob64)
    assert np.allclose(p64, sig, atol=1e-7)
    # 32-bit PCM
    v32 = (sig * 2147483647).astype("<i4")
    blob32 = _riff([(b"fmt ", _fmt_chunk(16000, bps=32)), (b"data", v32.tobytes())])
    p32, _ = decode.decode_wav(blob32)
    assert np.allclose(p32, sig, atol=1e-6)
    # stereo 24-bit downmix: mean of m+d / m-d is exactly m
    m = (sig * 4000000).astype(np.int64)
    d = (_sine(3000, 16000, 333.0) * 2000000).astype(np.int64)
    fr = np.empty(6000, dtype=np.int64)
    fr[0::2], fr[1::2] = m + d, m - d
    b3 = np.zeros((6000, 3), dtype=np.uint8)
    u = fr & 0xFFFFFF
    b3[:, 0], b3[:, 1], b3[:, 2] = u & 0xFF, (u >> 8) & 0xFF, (u >> 16) & 0xFF
    st = _riff(
        [(b"fmt ", _fmt_chunk(16000, channels=2, bps=24)), (b"data", b3.tobytes())]
    )
    ps, _ = decode.decode_wav(st)
    assert np.array_equal(ps, m.astype(np.float32) / np.float32(8388607.0))
    # WAVE_FORMAT_EXTENSIBLE (0xFFFE) wrapping PCM 24-bit
    base = _fmt_chunk(16000, bps=24, fmt=0xFFFE)
    ext = base + struct.pack("<HHI", 22, 24, 0x4) + struct.pack("<H", 1) + b"\x00" * 14
    v = (sig * 8388607).astype(np.int64) & 0xFFFFFF
    bx = np.zeros((len(v), 3), dtype=np.uint8)
    bx[:, 0], bx[:, 1], bx[:, 2] = v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF
    ex = _riff([(b"fmt ", ext), (b"data", bx.tobytes())])
    pe, _ = decode.decode_wav(ex)
    assert np.array_equal(pe, want)
    # 12-bit rejected with the typed reason
    bad = _riff([(b"fmt ", _fmt_chunk(16000, bps=12)), (b"data", b"\x00" * 32)])
    try:
        decode.decode_wav(bad)
        raise AssertionError("12-bit wav must be rejected")
    except ValueError as e:
        assert str(e) == "unsupported_wav_format"


def test_g711_tables_match_stdlib_oracle():
    """Round 7: the G.711 expansion tables (computed from the ITU
    arithmetic) must match the stdlib audioop oracle CODE-FOR-CODE for
    all 256 values in both laws, plus the published hand values.

    audioop left the stdlib in 3.13 (PEP 594): skip there — the frozen
    fixture rows (tests/test_audio_fixtures.py) remain the truth; this
    test is the extra code-for-code pin where the oracle exists."""
    import warnings

    import numpy as np
    import pytest

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        audioop = pytest.importorskip("audioop")

    from go_pkg_spider_spark.operators.decode import _ALAW_TABLE, _ULAW_TABLE

    codes = bytes(range(256))
    assert np.array_equal(
        _ULAW_TABLE, np.frombuffer(audioop.ulaw2lin(codes, 2), dtype="<i2")
    )
    assert np.array_equal(
        _ALAW_TABLE, np.frombuffer(audioop.alaw2lin(codes, 2), dtype="<i2")
    )
    # hand values from the ITU tables: µ-law ±0 / ±max, A-law has no
    # zero code — ∓8 at the center, ∓32256 at the extremes
    assert (_ULAW_TABLE[0xFF], _ULAW_TABLE[0x7F]) == (0, 0)
    assert (_ULAW_TABLE[0x80], _ULAW_TABLE[0x00]) == (32124, -32124)
    assert (_ALAW_TABLE[0x55], _ALAW_TABLE[0xD5]) == (-8, 8)
    assert (_ALAW_TABLE[0x2A], _ALAW_TABLE[0xAA]) == (-32256, 32256)


def test_g711_and_raw_codec_paths():
    """WAV format tags 6/7 and the headerless codecs decode to the same
    samples; raw pcm variants honor sr_hz and typed-error on empties."""
    import numpy as np

    from go_pkg_spider_spark.fixtures.audio_fixtures import _fmt_chunk, _riff
    from go_pkg_spider_spark.operators.decode import (
        _ULAW_TABLE,
        decode_blob,
        decode_pcm_raw,
    )

    g711 = bytes(range(256)) * 2
    wav_mu = _riff([(b"fmt ", _fmt_chunk(8000, bps=8, fmt=7)), (b"data", g711)])
    p_wav, sr, err = decode_blob(wav_mu, "wav", None)
    assert err is None and sr == 8000
    p_raw, sr2, err2 = decode_blob(g711, "pcm_mulaw", 8000)
    assert err2 is None and sr2 == 8000
    assert np.array_equal(p_wav, p_raw)
    want = _ULAW_TABLE[np.frombuffer(g711, np.uint8)].astype(
        np.float32
    ) / np.float32(32767.0)
    assert np.array_equal(p_raw, want)
    # raw 24-bit and float32 paths
    sig = np.linspace(-0.9, 0.9, 300)
    v = (sig * 8388607).astype(np.int64) & 0xFFFFFF
    b3 = np.zeros((300, 3), np.uint8)
    b3[:, 0], b3[:, 1], b3[:, 2] = v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF
    p24, _ = decode_pcm_raw(b3.tobytes(), "pcm_s24le", 16000)
    assert np.allclose(p24, sig, atol=2e-7)
    pf, _ = decode_pcm_raw(sig.astype("<f4").tobytes(), "pcm_f32le", 16000)
    assert np.array_equal(pf, sig.astype("<f4"))
    # empties stay typed errors
    for codec in ("pcm_s24le", "pcm_f32le", "pcm_mulaw", "pcm_alaw"):
        _, _, e = decode_blob(b"", codec, 8000)
        assert e == "empty_bytes"
        _, _, e2 = decode_blob(b"\x01", "pcm_s24le", 8000)
        assert e2 == "empty_pcm"


def test_ima_adpcm_recurrence_matches_stdlib_and_roundtrips():
    """Round 7: the IMA ADPCM nibble recurrence must match the stdlib
    audioop DVI decoder EXACTLY (same step/index tables — audioop reads
    the HIGH nibble first, so the comparison feeds that order), and a
    full WAV encode->decode roundtrip of a smooth sine must land above
    a lossy-format SNR floor with the exact sample count.

    audioop left the stdlib in 3.13 (PEP 594): skip there — the frozen
    fixture rows remain the truth (see test_g711_tables docstring)."""
    import warnings

    import numpy as np
    import pytest

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        audioop = pytest.importorskip("audioop")

    from go_pkg_spider_spark.fixtures.audio_fixtures import _sine, _wav_ima
    from go_pkg_spider_spark.operators.decode import _ima_decode_nibbles

    # deterministic byte soup covering many codes/state paths
    data = bytes((i * 37 + 11) % 256 for i in range(400))
    want = np.frombuffer(audioop.adpcm2lin(data, 2, None)[0], dtype="<i2")
    nibbles = []
    for b in data:  # audioop nibble order: high, then low
        nibbles += [b >> 4, b & 0x0F]
    got, _, _ = _ima_decode_nibbles(nibbles, 0, 0)
    assert np.array_equal(np.array(got, dtype=np.int16), want)

    sig = _sine(1010, 8000, 220.0)
    pcm, sr, err = decode.decode_blob(_wav_ima(sig, 8000), "wav", 8000)
    assert err is None and sr == 8000 and len(pcm) == 1010
    snr = 10 * np.log10(
        np.mean(sig**2) / np.mean((pcm.astype(np.float64) - sig) ** 2)
    )
    assert snr > 18.0, snr  # 4-bit greedy IMA on a smooth sine
    # stereo DECODES since round 8; a block_align too small to hold the
    # per-channel headers stays the typed error, not garbage
    from go_pkg_spider_spark.fixtures.audio_fixtures import _riff
    import struct as _s

    fmt2 = _s.pack("<HHIIHH", 0x11, 2, 8000, 8000, 7, 4)
    _, _, e = decode.decode_blob(
        _riff([(b"fmt ", fmt2), (b"data", b"\x00" * 256)]), "wav", 8000
    )
    assert e == "unsupported_wav_format"


def test_stereo_ima_adpcm_decodes_and_downmixes():
    """Round 8 (VERDICT r7 #3): stereo IMA ADPCM — per-channel 4-byte
    headers then interleaved 4-byte code words — decodes with mean
    downmix; a dup-channel stream must equal its mono twin exactly."""
    import numpy as np

    from go_pkg_spider_spark.fixtures.audio_fixtures import (
        _sine,
        _wav_ima,
        _wav_ima_stereo_dup,
    )

    sig = _sine(1010, 8000, 220.0)
    mono, sr_m, err_m = decode.decode_blob(_wav_ima(sig, 8000), "wav", 8000)
    st, sr_s, err_s = decode.decode_blob(
        _wav_ima_stereo_dup(sig, 8000), "wav", 8000
    )
    assert err_m is None and err_s is None and sr_m == sr_s == 8000
    assert len(st) == len(mono) == 1010
    assert np.array_equal(st, mono)


def test_ima_adpcm_fact_chunk_truncates_padding():
    """ADVICE r7: a partially-filled final ADPCM block decodes padding
    nibbles as phantom trailing samples unless the 'fact' chunk's
    dwSampleLength truncates them. Without fact: 1515 samples (3 whole
    blocks); with fact=1010: exactly 1010, equal to the short encode's
    prefix."""
    import numpy as np

    from go_pkg_spider_spark.fixtures.audio_fixtures import _sine, _wav_ima

    sig = _sine(1515, 8000, 220.0)
    full, _, err = decode.decode_blob(_wav_ima(sig, 8000), "wav", 8000)
    assert err is None and len(full) == 1515
    cut, _, err = decode.decode_blob(
        _wav_ima(sig, 8000, fact_samples=1010), "wav", 8000
    )
    assert err is None and len(cut) == 1010
    assert np.array_equal(cut, full[:1010])
    # prefix-stability vs the independent 2-block encode
    short, _, _ = decode.decode_blob(
        _wav_ima(_sine(1010, 8000, 220.0), 8000), "wav", 8000
    )
    assert np.array_equal(cut, short)


def test_ima_lane_decode_matches_scalar():
    """Round 9 of the ADPCM story (VERDICT r7 'what's wrong' #3): the
    block-vectorized lane decoder must be BIT-IDENTICAL to the scalar
    recurrence the audioop oracle pins — random nibble lanes with
    ragged valid lengths, random initial (pred, index) states."""
    import numpy as np

    from go_pkg_spider_spark.operators.decode import (
        _decode_ima_adpcm,
        _ima_decode_lanes,
        _ima_decode_nibbles,
    )

    rng = np.random.default_rng(0xADF)
    lanes, n_pos = 17, 253
    nib = rng.integers(0, 16, size=(lanes, n_pos), dtype=np.uint8)
    lens = rng.integers(0, n_pos + 1, size=lanes)
    preds = rng.integers(-32768, 32768, size=lanes).astype(np.int64)
    idxs = rng.integers(0, 89, size=lanes).astype(np.int64)
    got = _ima_decode_lanes(nib, preds, idxs)
    for i in range(lanes):
        k = int(lens[i])
        want, _, _ = _ima_decode_nibbles(
            nib[i, :k].tolist(), int(preds[i]), int(idxs[i])
        )
        # padding past k must not affect the valid prefix (state flows
        # forward only)
        assert np.array_equal(got[i, :k], np.array(want, dtype=np.int64))

    # end-to-end: random code stream through the block assembler vs a
    # per-block scalar walk (mono ragged tail + stereo word interleave)
    import struct

    def scalar_decode(data: bytes, block_align: int, n_ch: int) -> np.ndarray:
        per_ch = [[] for _ in range(n_ch)]
        hdr = 4 * n_ch
        for off in range(0, len(data) - (hdr - 1), block_align):
            block = data[off : off + block_align]
            payload = np.frombuffer(block[hdr:], dtype=np.uint8)
            if n_ch > 1:
                n_words = payload.size // (4 * n_ch)
                words = payload[: n_words * 4 * n_ch].reshape(-1, n_ch, 4)
            for ch in range(n_ch):
                pred = struct.unpack_from("<h", block, 4 * ch)[0]
                index = max(0, min(88, block[4 * ch + 2]))
                per_ch[ch].append(pred)
                chb = payload if n_ch == 1 else words[:, ch, :].reshape(-1)
                nb = np.empty(chb.size * 2, dtype=np.uint8)
                nb[0::2] = chb & 0x0F
                nb[1::2] = chb >> 4
                dec, _, _ = _ima_decode_nibbles(nb.tolist(), pred, index)
                per_ch[ch].extend(dec)
        if n_ch == 1:
            return np.array(per_ch[0], dtype=np.int16)
        n = min(len(c) for c in per_ch)
        return np.stack(
            [np.array(c[:n], dtype=np.int16) for c in per_ch], axis=1
        ).mean(axis=1)

    mono = rng.integers(0, 256, size=3 * 512 + 100, dtype=np.uint8).tobytes()
    assert np.array_equal(
        _decode_ima_adpcm(mono, 512, 1), scalar_decode(mono, 512, 1)
    )
    stereo = rng.integers(0, 256, size=2 * 256 + 77, dtype=np.uint8).tobytes()
    assert np.array_equal(
        _decode_ima_adpcm(stereo, 256, 2), scalar_decode(stereo, 256, 2)
    )


def test_pcm8_normalization_contract():
    """ADVICE r7, documented as contract: every integer width divides
    by its POSITIVE full scale, so the most-negative code overshoots
    -1.0 slightly — byte 0 at 8 bits lands at exactly
    float32(-128/127) ~= -1.0079, and clip_ratio counts both rails."""
    import numpy as np
    import struct as _s

    from go_pkg_spider_spark.fixtures.audio_fixtures import _fmt_chunk, _riff

    # bytes: full-negative, center, full-positive
    blob = _riff(
        [(b"fmt ", _fmt_chunk(8000, bps=8)), (b"data", bytes([0, 128, 255]))]
    )
    pcm, sr, err = decode.decode_blob(blob, "wav", 8000)
    assert err is None
    assert pcm[0] == np.float32(-128.0 / 127.0)  # the documented overshoot
    assert pcm[1] == 0.0
    assert pcm[2] == np.float32(127.0 / 127.0) == 1.0
    # 16-bit shares the convention: int16 min overshoots by 1/32767
    blob16 = _riff(
        [(b"fmt ", _fmt_chunk(8000)), (b"data", _s.pack("<hh", -32768, 32767))]
    )
    pcm16, _, err = decode.decode_blob(blob16, "wav", 8000)
    assert err is None and pcm16[0] == np.float32(-32768.0 / 32767.0)
    # both rails count as clipped under the |x| >= 0.999 gate
    from go_pkg_spider_spark.operators.decode import _features

    assert _features(pcm, sr)[4] == 2.0 / 3.0  # clip_ratio


def test_compressed_codecs_are_whitelisted_with_typed_no_codec_rows():
    """Round 8 (VERDICT r7 #1): mp3/vorbis/opus/aac pass the whitelist
    and decode through the import-gated soundfile/ffmpeg slot; with no
    library installed the row is the TYPED no_codec:<codec> error, not
    the catch-all codec_not_whitelisted."""
    import pytest

    from go_pkg_spider_spark.operators.decode import _FFMPEG_BIN, _soundfile

    for c in decode.COMPRESSED_CODECS:
        assert c in decode.CODEC_WHITELIST
    if _soundfile is not None or _FFMPEG_BIN is not None:
        pytest.skip("codec library present: no_codec rows not reachable")
    for c in decode.COMPRESSED_CODECS:
        pcm, sr, err = decode.decode_blob(b"\xff\xfb\x90" * 40, c, 16000)
        assert pcm is None and err == f"no_codec:{c}"
    # guards still outrank the slot
    assert decode.decode_blob(b"", "mp3", 16000)[2] == "empty_bytes"
    assert (
        decode.decode_blob(
            b"\x00" * (decode.MAX_CONTENT_LENGTH + 1), "mp3", 16000
        )[2]
        == "max_content_length"
    )


def test_compressed_codec_rows_flow_through_decode_udf(spark):
    """e2e through the production UDF surface, the fused Arrow UDF (the
    187edbe FLAC-test pattern): an mp3-labelled row reaches the decode
    stage, passes decode_prefilter (whitelisted!), and lands as a typed
    error row in this library-less sandbox."""
    import pytest

    from go_pkg_spider_spark.operators.decode import (
        _FFMPEG_BIN,
        _soundfile,
        decode_prefilter,
    )

    if _soundfile is not None or _FFMPEG_BIN is not None:
        pytest.skip("codec library present: no_codec rows not reachable")
    df = spark.createDataFrame(
        [("a", b"\xff\xfb\x90" * 10, "mp3", 44100),
         ("b", b"OggS" + b"\x00" * 40, "vorbis", 48000),
         ("c", b"\x00" * 50, "speex", 16000)],
        "clip_id string, bytes binary, codec string, sr_hz int",
    )
    out = {
        r["clip_id"]: r
        for r in df.select("clip_id", _fused_decode().alias("audio"))
        .select("clip_id", "audio.ok", "audio.err")
        .collect()
    }
    assert out["a"]["err"] == "no_codec:mp3"
    assert out["b"]["err"] == "no_codec:vorbis"
    assert out["c"]["err"] == "codec_not_whitelisted"
    # prefilter admits the compressed rows (they're in contract) and
    # still rejects the unlisted codec
    kept = df.filter(decode_prefilter()).select("clip_id").collect()
    assert sorted(r[0] for r in kept) == ["a", "b"]


def test_au_and_aiff_containers():
    """Round 8: Sun .au and AIFF decode — stereo mean downmix, AIFF-C
    'sowt' little-endian twin equals the big-endian stream, the 80-bit
    extended sample rate round-trips, and malformed/unsupported
    containers stay typed errors."""
    import struct as _s

    import numpy as np

    from go_pkg_spider_spark.fixtures.audio_fixtures import (
        _aiff,
        _au,
        _i16,
        _ieee_extended,
        _sine,
    )
    from go_pkg_spider_spark.operators.decode import _parse_ieee_extended

    # 80-bit extended: encode->parse round-trips common rates exactly
    for sr in (8000, 16000, 22050, 44100, 48000, 96000):
        assert _parse_ieee_extended(_ieee_extended(sr)) == float(sr)

    sig = _sine(2000, 16000, 440.0)
    s16 = _i16(sig)

    # AU stereo int16 BE: mean of (m+d, m-d) frames is exactly m
    d = _i16(_sine(2000, 16000, 333.0) * 0.4)
    fr = np.empty(4000, dtype=np.int16)
    fr[0::2], fr[1::2] = s16 + d, s16 - d
    st, sr, err = decode.decode_blob(
        _au(fr.astype(">i2").tobytes(), 16000, 3, channels=2), "au", None
    )
    assert err is None and sr == 16000
    assert np.array_equal(st, s16.astype(np.float32) / np.float32(32767.0))

    # AIFF-C sowt == AIFF BE (same samples, swapped bytes)
    be = decode.decode_aiff(_aiff(s16.astype(">i2").tobytes(), 16000, 2000, 16))
    comm = _s.pack(">HIH", 1, 2000, 16) + _ieee_extended(16000) + b"sowt"
    ssnd = _s.pack(">II", 0, 0) + s16.astype("<i2").tobytes()
    body = b"AIFC"
    for cid, payload in ((b"COMM", comm), (b"SSND", ssnd)):
        body += cid + _s.pack(">I", len(payload)) + payload
    sowt = b"FORM" + _s.pack(">I", len(body)) + body
    le = decode.decode_aiff(sowt)
    assert np.array_equal(be[0], le[0]) and be[1] == le[1] == 16000

    # AU float32 BE passes through; AU signed int8 divides by 127
    f32, _, err = decode.decode_blob(
        _au(sig.astype(">f4").tobytes(), 22050, 6), "au", None
    )
    assert err is None and np.array_equal(f32, sig.astype("<f4"))
    i8 = np.array([-127, 0, 127], dtype=np.int8)
    p8, _, err = decode.decode_blob(_au(i8.tobytes() * 40, 8000, 2), "au", None)
    assert err is None and p8[0] == np.float32(-1.0) and p8[2] == np.float32(1.0)

    # typed errors: bad magic, unknown AIFF compression, missing chunk
    assert decode.decode_blob(b"JUNK" + b"\x00" * 40, "au", None)[2] == "bad_au_header"
    assert (
        decode.decode_blob(b"FORM" + _s.pack(">I", 4) + b"WAVE", "aiff", None)[2]
        == "bad_aiff_header"
    )
    comm_bad = _s.pack(">HIH", 1, 10, 16) + _ieee_extended(8000) + b"ima4"
    body = b"AIFC" + b"COMM" + _s.pack(">I", len(comm_bad)) + comm_bad
    blob = b"FORM" + _s.pack(">I", len(body)) + body
    assert decode.decode_blob(blob, "aiff", None)[2] == "missing_aiff_chunk"


def test_compressed_slot_soundfile_stub(monkeypatch):
    """The soundfile branch of the compressed slot, exercised with a
    stub module (the real library is absent in this sandbox): decode
    returns the library's frames mean-downmixed; a library failure
    with no ffmpeg fallback is the typed decode_error (corrupt
    payload), NOT no_codec."""
    import numpy as np

    from go_pkg_spider_spark.operators import decode as d

    class _StubSF:
        def read(self, fh, dtype, always_2d):
            payload = fh.read()
            if payload.startswith(b"BAD"):
                raise RuntimeError("unsupported format")
            n = 1000
            data = np.stack(
                [np.linspace(-0.5, 0.5, n), np.linspace(0.5, -0.5, n)], axis=1
            ).astype(dtype)
            return data, 44100

    monkeypatch.setattr(d, "_soundfile", _StubSF())
    monkeypatch.setattr(d, "_FFMPEG_BIN", None)
    pcm, sr, err = d.decode_blob(b"\xff\xfb" * 100, "mp3", None)
    assert err is None and sr == 44100 and len(pcm) == 1000
    # mean of the two mirrored channels is exactly 0
    assert np.allclose(pcm, 0.0, atol=1e-7)
    assert d.decode_blob(b"BAD" + b"x" * 50, "mp3", None)[2] == "decode_error"


def test_compressed_slot_ffmpeg_stub(tmp_path, monkeypatch):
    """The ffmpeg-CLI branch, exercised with a stub executable that
    emits a real WAV on stdout (the transcode-to-WAV-pipe contract —
    our own decode_wav parses the result): decode succeeds with the
    WAV's own rate; a nonzero exit is the typed decode_error."""
    import numpy as np

    from go_pkg_spider_spark.fixtures.audio_fixtures import _sine, _wav
    from go_pkg_spider_spark.operators import decode as d

    wav = _wav(_sine(500, 22050, 440.0), 22050)
    wav_path = tmp_path / "canned.wav"
    wav_path.write_bytes(wav)
    stub = tmp_path / "ffmpeg"
    stub.write_text(
        "#!/bin/sh\n"
        "cat > /dev/null\n"  # drain stdin (the payload pipe)
        f'exec cat "{wav_path}"\n'
    )
    stub.chmod(0o755)
    monkeypatch.setattr(d, "_soundfile", None)
    monkeypatch.setattr(d, "_FFMPEG_BIN", str(stub))
    pcm, sr, err = d.decode_blob(b"\xff\xfb" * 100, "mp3", None)
    assert err is None and sr == 22050 and len(pcm) == 500
    want, _ = d.decode_wav(wav)
    assert np.array_equal(pcm, want)

    bad = tmp_path / "ffmpeg_fail"
    bad.write_text("#!/bin/sh\ncat > /dev/null\nexit 1\n")
    bad.chmod(0o755)
    monkeypatch.setattr(d, "_FFMPEG_BIN", str(bad))
    assert d.decode_blob(b"\xff\xfb" * 100, "mp3", None)[2] == "decode_error"


def test_zero_sample_rate_is_typed_error_not_crash():
    """Round-8 self-review (reproduced): a zero/sub-0.5 sample rate
    passed decode and crashed downstream resampling with
    ZeroDivisionError — a TASK failure, not a typed row. Both container
    parsers must reject it at decode time."""
    import struct as _s

    from go_pkg_spider_spark.fixtures.audio_fixtures import (
        _fmt_chunk,
        _riff,
        _sine,
        _i16,
    )
    from go_pkg_spider_spark.operators.audio_features import features_for_clip

    # WAV with fmt sr=0
    blob = _riff([(b"fmt ", _fmt_chunk(0)), (b"data", b"\x00\x01" * 100)])
    assert decode.decode_blob(blob, "wav", 16000)[2] == "unsupported_wav_format"
    # AIFF whose 80-bit COMM rate encodes 0.25 (exp 16381, msb mantissa):
    # passes a naive sr <= 0 check but rounds to 0
    rate_quarter = _s.pack(">HII", 16381, 0x80000000, 0)
    comm = _s.pack(">HIH", 1, 100, 16) + rate_quarter
    ssnd = _s.pack(">II", 0, 0) + _i16(_sine(100, 8000, 100.0)).astype(">i2").tobytes()
    body = b"AIFF"
    for cid, payload in ((b"COMM", comm), (b"SSND", ssnd)):
        body += cid + _s.pack(">I", len(payload)) + payload
    blob = b"FORM" + _s.pack(">I", len(body)) + body
    assert decode.decode_blob(blob, "aiff", None)[2] == "unsupported_aiff_format"
    # and the full features path never sees a zero rate (the original
    # crash site): both rows are ok=false typed rows end-to-end
    # AUDIO_FEATURES_SCHEMA: (clip_id, ok=err-string-or-NULL, ...)
    row = features_for_clip("x", blob, "aiff", None)
    assert row[0] == "x" and row[1] == "unsupported_aiff_format"


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_signalling_nan_is_nonfinite_under_any_warnings_filter():
    """A float32 signalling NaN (0x7f800001) used to reach the no-op
    `/ 1.0` scale, which warned; with warnings as errors the typed
    nonfinite_samples row turned into decode_error. Every float source
    now rejects it before any arithmetic, so neither happens."""
    import struct

    from go_pkg_spider_spark.fixtures.audio_fixtures import _au, _fmt_chunk, _riff

    snan = b"\x01\x00\x80\x7f"  # little-endian float32 sNaN
    snan64 = struct.pack("<Q", 0x7FF0000000000001)
    cases = [
        (snan * 8, "pcm_f32le"),
        (_riff([(b"fmt ", _fmt_chunk(16000, bps=32, fmt=3)), (b"data", snan * 8)]), "wav"),
        (_riff([(b"fmt ", _fmt_chunk(16000, bps=64, fmt=3)), (b"data", snan64 * 8)]), "wav"),
        (
            _riff([(b"fmt ", _fmt_chunk(16000, channels=2, bps=32, fmt=3)),
                   (b"data", snan * 8)]),
            "wav",
        ),
        (_au(snan[::-1] * 8, 16000, 6), "au"),
    ]
    for blob, codec in cases:
        assert decode.decode_blob(blob, codec, 16000)[2] == "nonfinite_samples", codec


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_stereo_float32_near_max_downmixes_under_any_warnings_filter():
    """Stereo float32 samples of 3e38 are finite, but their float32 sum
    is not: a float32 downmix accumulator overflowed and warned, so the
    row was nonfinite_samples normally and decode_error with warnings
    as errors. _downmix accumulates in float64, so the per-frame mean is
    the finite 3e38 and the row decodes under any warnings filter."""
    import struct

    from go_pkg_spider_spark.fixtures.audio_fixtures import _au, _fmt_chunk, _riff

    n = 16
    cases = [
        (
            _riff([(b"fmt ", _fmt_chunk(16000, channels=2, bps=32, fmt=3)),
                   (b"data", struct.pack(f"<{2 * n}f", *[3e38] * (2 * n)))]),
            "wav",
        ),
        (_au(struct.pack(f">{2 * n}f", *[3e38] * (2 * n)), 16000, 6, channels=2), "au"),
    ]
    for blob, codec in cases:
        pcm, sr, err = decode.decode_blob(blob, codec, 16000)
        assert err is None, (codec, err)
        assert sr == 16000 and pcm.dtype == np.float32
        assert pcm.size == n and (pcm == np.float32(3e38)).all(), codec
        feats = decode._features(pcm, sr)
        assert all(np.isfinite(v) for v in feats), codec
