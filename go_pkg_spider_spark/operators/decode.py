"""Audio decode kernel: binary `bytes` -> PCM -> per-clip features.

The Spark recast of the reference's response-decode stage
(/root/reference/http.go:124-173: content-type whitelist ->
charset-detect -> transcode). For audio: codec whitelist -> container
parse -> PCM decode -> per-clip features. decode_blob + _features run
inside the ONE fused Arrow UDF (operators/fused.py), so the blob is
decoded exactly once per row (the reference's single-pass computeInfo
idiom) and the PCM never leaves the stage — only scalar features cross
the (potential) shuffle boundary downstream (SURVEY.md §4.3
spill-safety: PCM is ~100x input, never materialized as a column).

Codecs: 'wav' (RIFF + RF64/BW64 64-bit sizes: PCM 8/16/24/32-bit,
IEEE float 32/64, G.711 A-law/µ-law tags, IMA ADPCM mono+stereo with
'fact'-chunk truncation, EXTENSIBLE unwrap), raw 'pcm_s16le' /
'pcm_s24le' / 'pcm_f32le' /
'pcm_mulaw' / 'pcm_alaw', 'au' (Sun/NeXT: G.711 both laws, int8/16,
float32 BE), 'aiff' (AIFF + AIFF-C NONE/sowt, widths 8-32), and
'flac' (pure-Python/numpy bitstream decoder, operators/flac.py: all
spec widths + stereo decorrelation) —
every self-contained codec the whitelist advertises actually decodes,
matching the reference's whitelist-means-decoded contract
(http.go:141-170). The lossy-compressed family (mp3/vorbis/opus/aac)
decodes through an import-gated library slot (soundfile / ffmpeg CLI)
and degrades to TYPED no_codec:<codec> error rows when no library is
installed (round 8).
"""

from __future__ import annotations

import shutil
import struct
import subprocess

import numpy as np
from pyspark.sql import Column, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# Lossy-compressed codecs decode through an IMPORT-GATED library slot
# (soundfile if importable, else the ffmpeg CLI if on PATH):
# whitelisted because a real crawl-derived audio corpus is
# predominantly compressed, but when no codec library is installed the
# row becomes a TYPED error (err="no_codec:<codec>") rather than the
# catch-all codec_not_whitelisted — callers can tell "install a codec"
# apart from "this codec is out of contract" (round 8, VERDICT r7 #1).
COMPRESSED_CODECS = ("mp3", "vorbis", "opus", "aac")

CODEC_WHITELIST = (  # the textContentTypes analog
    "wav",
    "pcm_s16le",
    "flac",
    "pcm_s24le",
    "pcm_f32le",
    "pcm_mulaw",  # G.711 telephony (round 7)
    "pcm_alaw",
    "au",  # Sun/NeXT .au/.snd (round 8)
    "aiff",  # AIFF / AIFF-C NONE+sowt (round 8)
) + COMPRESSED_CODECS
MAX_CONTENT_LENGTH = 10 * 1024 * 1024  # http.go MaxContentLength 10 MiB

# Codecs whose payload bytes can decode to non-finite float samples
# (WAV/AU float formats, raw float32, library-decoded compressed).
_FLOAT_SOURCE_CODECS = frozenset(
    ("wav", "au", "pcm_f32le") + COMPRESSED_CODECS
)

# Plausible decoded sample-rate band. A syntactically valid container
# claiming an absurd rate is an attack on the RESAMPLER, not the
# parser: sr=1 with a 5 MiB payload makes linear_resample allocate
# size*16000 doubles (hundreds of GB -> MemoryError task failure, not a
# typed row). The floor bounds the 16 kHz upsample expansion at 16x;
# the ceiling sits above FLAC's 655350 Hz spec maximum. Found by the
# round-8 decoder fuzz (tests/test_fuzz_decode.py).
SR_MIN, SR_MAX = 1_000, 1_000_000

try:  # library slot for compressed audio (absent in this sandbox)
    import soundfile as _soundfile  # type: ignore
except Exception:  # noqa: BLE001
    _soundfile = None

_FFMPEG_BIN = shutil.which("ffmpeg")  # CLI slot (absent in this sandbox)


def _gather_s24(data: bytes, big_endian: bool = False) -> np.ndarray:
    """3-byte packed signed 24-bit -> int64 samples (one byte-gather +
    sign extension). ONE source of truth for every 24-bit container
    path (WAV, raw s24le, AIFF) — the frozen fixtures pin all of them
    to this exact arithmetic."""
    usable = len(data) - (len(data) % 3)
    raw = np.frombuffer(data[:usable], dtype=np.uint8).reshape(-1, 3)
    lo, mid, hi = (
        (raw[:, 2], raw[:, 1], raw[:, 0]) if big_endian else
        (raw[:, 0], raw[:, 1], raw[:, 2])
    )
    v = (
        lo.astype(np.int64)
        | (mid.astype(np.int64) << 8)
        | (hi.astype(np.int64) << 16)
    )
    return v - ((v >> 23) << 24)


def _finite_floats(pcm: np.ndarray) -> np.ndarray:
    """Raw float samples, rejected before any arithmetic when one is NaN
    or Inf. isfinite reads a signalling NaN without raising the invalid
    flag, so no later cast, downmix or divide warns, and the typed error
    does not depend on the warnings filter."""
    if not np.isfinite(pcm).all():
        raise ValueError("nonfinite_samples")
    return pcm


def _downmix(pcm: np.ndarray, n_ch: int) -> np.ndarray:
    """Interleaved frames -> mono by per-frame mean (trailing partial
    frame dropped). ONE source of truth for every multi-channel path;
    runs BEFORE the float32/scale conversion (the frozen fixtures pin
    that op order). Accumulates in float64, so the mean of finite
    float32 samples is finite; a float32 accumulator overflows (and
    warns) on samples near 3e38."""
    if n_ch <= 1:
        return pcm
    return (
        pcm[: (len(pcm) // n_ch) * n_ch]
        .reshape(-1, n_ch)
        .mean(axis=1, dtype=np.float64)
    )


def _decode_compressed(blob: bytes, codec: str) -> tuple[np.ndarray, int]:
    """mp3/vorbis/opus/aac via the import-gated slots. soundfile decodes
    in-memory (its own normalization convention, /2^(n-1)); the ffmpeg
    fallback transcodes to a WAV pipe that our own decode_wav parses
    (16-bit quantization — the CLI slot's documented precision). With a
    slot installed, a failure means the payload is corrupt
    (decode_error); with NO slot installed the typed no_codec:<codec>
    row tells the operator to install one."""
    if _soundfile is not None:  # pragma: no cover — lib absent here
        import io

        try:
            data, sr = _soundfile.read(
                io.BytesIO(blob), dtype="float32", always_2d=True
            )
            if data.shape[0] == 0:
                raise ValueError("empty_pcm")
            return data.mean(axis=1).astype(np.float32), int(sr)
        except ValueError:
            raise
        except Exception:  # noqa: BLE001 — unsupported by this libsndfile
            if _FFMPEG_BIN is None:
                raise ValueError("decode_error") from None
    if _FFMPEG_BIN is not None:  # pragma: no cover — CLI absent here
        proc = subprocess.run(
            [
                _FFMPEG_BIN, "-v", "error",
                "-i", "pipe:0",
                "-f", "wav", "-acodec", "pcm_s16le", "pipe:1",
            ],
            input=blob,
            capture_output=True,
            timeout=60,
            check=False,
        )
        if proc.returncode != 0 or len(proc.stdout) < 44:
            raise ValueError("decode_error")
        return decode_wav(proc.stdout)
    raise ValueError(f"no_codec:{codec}")


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """G.711 decode tables (ITU-T G.711; the classic public-domain
    expansion arithmetic), computed once at import: code byte ->
    int16-scale linear sample. µ-law: complement, then
    magnitude = ((mant<<3)+0x84)<<exp - 0x84, sign bit 0x80 of the
    complemented code means NEGATIVE (0xFF/0x7F are ±0, 0x80/0x00 are
    ±32124). A-law: XOR 0x55, segment 0 adds 8, higher segments add
    0x108 then shift; the sign bit means POSITIVE (no zero code —
    0x55/0xD5 are ∓8; extremes ±32256). Every entry is pinned against
    the stdlib audioop oracle in tests/test_decode.py."""
    codes = np.arange(256, dtype=np.int64)
    u = ~codes & 0xFF
    mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)) - 0x84
    ulaw = np.where(u & 0x80, -mag, mag).astype(np.int16)

    a = codes ^ 0x55
    mant = (a & 0x0F) << 4
    seg = (a >> 4) & 0x07
    t = np.where(
        seg == 0, mant + 8, (mant + 0x108) << np.maximum(seg - 1, 0)
    )
    alaw = np.where(a & 0x80, t, -t).astype(np.int16)
    return ulaw, alaw


_ULAW_TABLE, _ALAW_TABLE = _g711_tables()

# IMA/DVI ADPCM (WAV format tag 0x11) — the classic 4-bit speech
# compression. Public tables (IMA ADPCM reference algorithm; the same
# core recurrence as the stdlib audioop DVI variant, which pins it in
# tests/test_decode.py).
_IMA_STEPS = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
        41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
        190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
        724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
        2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
        6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
        16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
    ],
    dtype=np.int64,
)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int64)

# The per-sample update depends on the state ONLY through the step
# index, so the whole transition precomputes into two 89x16 tables
# keyed by code = (index << 4) | nibble: the SIGNED predictor delta and
# the next step index. The lane decoder then does two gathers + add +
# clip per position instead of re-deriving the shift cascade.
_IMA_NIBS = np.arange(16, dtype=np.int64)
_IMA_SDIFF = (
    (_IMA_STEPS[:, None] >> 3)
    + np.where(_IMA_NIBS & 1, _IMA_STEPS[:, None] >> 2, 0)
    + np.where(_IMA_NIBS & 2, _IMA_STEPS[:, None] >> 1, 0)
    + np.where(_IMA_NIBS & 4, _IMA_STEPS[:, None], 0)
) * np.where(_IMA_NIBS & 8, -1, 1)  # (89, 16) signed delta
_IMA_SDIFF_FLAT = _IMA_SDIFF.reshape(-1).copy()
_IMA_NEXT_FLAT = (
    np.clip(np.arange(89)[:, None] + _IMA_INDEX[_IMA_NIBS & 7], 0, 88)
    .reshape(-1)
    .copy()
)  # (89*16,) next step index


def _ima_decode_nibbles(nibbles, pred: int, index: int) -> tuple[list[int], int, int]:
    """Decode a sequence of 4-bit IMA codes from (pred, index) state.
    Inherently sequential (the step index evolves per sample), so this
    is a bounded per-block Python loop — the same confinement as the
    FLAC LPC recurrence; blocks are independent and short (block_align
    bytes), and ADPCM only appears on cold ingest paths."""
    out = []
    steps, idxtab = _IMA_STEPS, _IMA_INDEX
    for n in nibbles:
        step = int(steps[index])
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        pred = pred - diff if n & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        out.append(pred)
        index = max(0, min(88, index + int(idxtab[n & 7])))
    return out, pred, index


def _ima_decode_lanes(
    nib: np.ndarray, pred: np.ndarray, index: np.ndarray
) -> np.ndarray:
    """Vectorized-across-lanes IMA recurrence: `nib` is (L, N) uint8
    4-bit codes (one lane per independent (block, channel) state,
    zero-padded past a lane's valid length — the caller slices), `pred`
    / `index` the (L,) initial states from the block headers. The
    recurrence is sequential PER LANE but lanes are independent, so the
    Python loop runs over nibble POSITIONS (bounded by block_align)
    while numpy sweeps all lanes per step — decode cost is
    O(nibbles_per_block) interpreter steps regardless of file length,
    vs O(total_nibbles) for the scalar loop (VERDICT r7 "what's wrong"
    #3). Bit-identical to _ima_decode_nibbles, pinned by
    tests/test_decode.py::test_ima_lane_decode_matches_scalar."""
    lanes, n_pos = nib.shape
    out = np.empty((lanes, n_pos), dtype=np.int64)
    pred = pred.astype(np.int64, copy=True)
    index = index.astype(np.int64, copy=True)
    nibs = nib.astype(np.int64)  # one upfront widen, column-sliced below
    sdiff, nxt = _IMA_SDIFF_FLAT, _IMA_NEXT_FLAT
    for j in range(n_pos):
        code = (index << 4) | nibs[:, j]
        pred += sdiff[code]
        np.clip(pred, -32768, 32767, out=pred)
        out[:, j] = pred
        index = nxt[code]
    return out


def _decode_ima_adpcm(data: bytes, block_align: int, n_ch: int = 1) -> np.ndarray:
    """WAV IMA ADPCM data chunk -> int16 frames, channels downmixed by
    mean (the same posture as every other multi-channel path). Block
    layout per the IMA/Microsoft spec: one 4-byte header PER CHANNEL
    (predictor int16 LE = that channel's FIRST sample, step-index u8,
    reserved), then the code stream interleaves 4-BYTE WORDS per
    channel — 8 samples of ch0, 8 samples of ch1, ... (round 8,
    VERDICT r7 #3: stereo was a typed unsupported_wav_format edge).
    Nibbles within each byte are low-first. Blocks are self-contained
    (each header resets the predictor state), so all (block, channel)
    lanes decode in one vectorized sweep (_ima_decode_lanes); only the
    trailing block may be ragged."""
    if n_ch < 1 or block_align < 4 * n_ch + (1 if n_ch == 1 else 0):
        raise ValueError("unsupported_wav_format")
    hdr = 4 * n_ch
    starts = range(0, len(data) - (hdr - 1), block_align)
    n_blocks = len(starts)
    if n_blocks == 0:
        return np.zeros(0, dtype=np.int16)
    preds = np.empty((n_blocks, n_ch), dtype=np.int64)
    idxs = np.empty((n_blocks, n_ch), dtype=np.int64)
    lane_bytes: list[np.ndarray] = []  # per block: (n_ch, k) code bytes
    for bi, off in enumerate(starts):
        block = data[off : off + block_align]
        payload = np.frombuffer(block[hdr:], dtype=np.uint8)
        for ch in range(n_ch):
            preds[bi, ch] = struct.unpack_from("<h", block, 4 * ch)[0]
            idxs[bi, ch] = max(0, min(88, block[4 * ch + 2]))
        if n_ch == 1:
            # mono code bytes are NOT word-grouped: use every byte
            lane_bytes.append(payload.reshape(1, -1))
        else:
            # drop a trailing partial interleave group (corrupt/truncated)
            n_words = payload.size // (4 * n_ch)
            words = payload[: n_words * 4 * n_ch].reshape(-1, n_ch, 4)
            lane_bytes.append(words.transpose(1, 0, 2).reshape(n_ch, -1))
    lens = np.array([lb.shape[1] * 2 for lb in lane_bytes], dtype=np.int64)
    max_n = int(lens.max())
    nib = np.zeros((n_blocks, n_ch, max_n), dtype=np.uint8)
    for bi, lb in enumerate(lane_bytes):
        k = lb.shape[1]
        nib[bi, :, 0 : 2 * k : 2] = lb & 0x0F  # low nibble first per spec
        nib[bi, :, 1 : 2 * k : 2] = lb >> 4
    decoded = _ima_decode_lanes(
        nib.reshape(n_blocks * n_ch, max_n),
        preds.reshape(-1),
        idxs.reshape(-1),
    ).reshape(n_blocks, n_ch, max_n)
    # assemble: per block, the header predictor IS the first sample,
    # then that block's decoded run (ragged tail sliced by lens)
    total = int(n_blocks + lens.sum())
    chans = np.empty((n_ch, total), dtype=np.int64)
    pos = 0
    for bi in range(n_blocks):
        chans[:, pos] = preds[bi]
        k = int(lens[bi])
        chans[:, pos + 1 : pos + 1 + k] = decoded[bi, :, :k]
        pos += 1 + k
    if n_ch == 1:
        return chans[0].astype(np.int16)
    return chans.astype(np.int16).mean(axis=0)

DECODE_SCHEMA = StructType(
    [
        StructField("ok", BooleanType()),
        StructField("err", StringType()),
        StructField("n_samples", IntegerType()),
        StructField("sr_decoded", IntegerType()),
        StructField("rms", DoubleType()),
        StructField("peak", DoubleType()),
        StructField("clip_ratio", DoubleType()),  # samples at full-scale
        StructField("dc_offset", DoubleType()),
        StructField("zero_cross_rate", DoubleType()),
    ]
)

from . import flac as _flac


# (format_tag, bits) -> full-scale divisor. WAV supports PCM (tag 1;
# 8-bit is UNSIGNED with a 128 offset per the RIFF spec, wider widths
# signed LE), IEEE float (tag 3, already in [-1, 1] -> divisor 1), and
# the G.711 telephony companding laws (tag 6 A-law / tag 7 µ-law,
# 8-bit codes expanding to int16 scale).
#
# Normalization CONTRACT (ADVICE r7, documented rather than changed):
# every integer width divides by its POSITIVE full scale (2^(n-1)-1),
# so the most-negative code lands slightly below -1.0 — -1.00003 at 16
# bits, -1.0079 at 8 bits (the only width where the overshoot is
# visible at 3 decimals). clip_ratio's |x| >= 0.999 gate counts both
# rails at every width, which is the intended semantics; switching
# 8-bit to /128 would make it the one width whose normalization
# convention differs AND would invalidate the frozen fid 54/56 fixture
# rows for no behavioral gain. Pinned in
# tests/test_decode.py::test_pcm8_normalization_contract.
_WAV_FORMATS = {
    (1, 8): 127.0,
    (1, 16): 32767.0,
    (1, 24): 8388607.0,
    (1, 32): 2147483647.0,
    (3, 32): 1.0,
    (3, 64): 1.0,
    (6, 8): 32767.0,
    (7, 8): 32767.0,
    (0x11, 4): 32767.0,  # IMA ADPCM (4-bit block-compressed speech)
}


def decode_wav(blob: bytes) -> tuple[np.ndarray, int]:
    """Minimal RIFF/WAVE parser (numpy, no per-sample Python) for the
    real-world sample formats: PCM 8(unsigned)/16/24/32-bit and IEEE
    float 32/64 (production studio audio is routinely 24-bit PCM or
    float32 — round 7, the WAV twin of the FLAC width work). Raises
    ValueError on malformed containers. The 16-bit path keeps its
    historical exact op order (int16 -> [mean] -> float32 -> /32767),
    so frozen fixtures are unaffected."""
    magic = blob[:4]
    if (
        len(blob) < 44
        or magic not in (b"RIFF", b"RF64", b"BW64")
        or blob[8:12] != b"WAVE"
    ):
        raise ValueError("bad_riff_header")
    pos, fmt, sr, n_ch, bps, block_align, data = 12, None, None, None, None, 0, None
    fact_samples = None
    ds64_data_size = None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        (size,) = struct.unpack_from("<I", blob, pos + 4)
        if cid == b"ds64" and size >= 16 and magic != b"RIFF":
            # RF64/BW64 (EBU 3306): 32-bit chunk sizes overflow past
            # 4 GiB, so the leading ds64 chunk carries the real 64-bit
            # riff/data sizes and the data chunk's own size field is
            # the 0xFFFFFFFF sentinel (round 8 — encoders emit RF64
            # preemptively even for small files, so the seam matters
            # under the 10 MiB cap too)
            (ds64_data_size,) = struct.unpack_from("<Q", blob, pos + 8 + 8)
        if cid == b"data" and size == 0xFFFFFFFF and ds64_data_size is not None:
            size = min(ds64_data_size, len(blob) - pos - 8)
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            fmt, n_ch, sr, _, block_align, bps = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if fmt == 0xFFFE and len(body) >= 26:
                # WAVE_FORMAT_EXTENSIBLE: the real tag leads the GUID
                (fmt,) = struct.unpack_from("<H", body, 24)
            if (fmt, bps) not in _WAV_FORMATS:
                raise ValueError("unsupported_wav_format")
        elif cid == b"fact" and len(body) >= 4:
            # dwSampleLength: frames (samples per channel) actually
            # encoded — mandatory for compressed formats, where the
            # final block may be partially filled (ADVICE r7: without
            # it, padding nibbles decode as phantom trailing samples)
            (fact_samples,) = struct.unpack_from("<I", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if sr is None or data is None or n_ch is None:
        raise ValueError("missing_wav_chunk")
    if sr == 0 or n_ch == 0:
        # a zero rate would crash downstream resampling (ZeroDivision
        # inside the features UDF — a task failure, not a typed row);
        # reject it HERE so the contract (ok=false, never crash) holds
        raise ValueError("unsupported_wav_format")
    if fmt == 0x11:  # IMA ADPCM: block-structured, mono or stereo
        pcm = _decode_ima_adpcm(data, block_align, n_ch)
        if fact_samples is not None:
            pcm = pcm[:fact_samples]
        return pcm.astype(np.float32) / np.float32(32767.0), int(sr)
    step = bps // 8
    usable = len(data) - (len(data) % step)  # trailing partial sample dropped
    if bps == 24:  # 3-byte little-endian signed
        pcm = _gather_s24(data)
    elif (fmt, bps) == (1, 8):
        pcm = np.frombuffer(data, dtype=np.uint8).astype(np.int16) - 128
    elif fmt in (6, 7):  # G.711: one table gather per byte
        table = _ALAW_TABLE if fmt == 6 else _ULAW_TABLE
        pcm = table[np.frombuffer(data, dtype=np.uint8)]
    else:
        dtype = {(1, 16): "<i2", (1, 32): "<i4", (3, 32): "<f4", (3, 64): "<f8"}[
            (fmt, bps)
        ]
        pcm = np.frombuffer(data[:usable], dtype=dtype)
        if fmt == 3:
            pcm = _finite_floats(pcm)
    pcm = _downmix(pcm, n_ch)
    # float32 halves the bandwidth of the hottest loop in the pipeline;
    # <=24-bit sources lose nothing (float32 has 24 mantissa bits).
    # float64 samples beyond float32 range overflow to inf BY CONTRACT:
    # the downstream nonfinite_samples check rejects the clip (pinned by
    # tests/test_fuzz_decode.py); errstate keeps production logs quiet.
    with np.errstate(over="ignore"):
        return pcm.astype(np.float32) / np.float32(_WAV_FORMATS[(fmt, bps)]), int(sr)


def decode_au(blob: bytes) -> tuple[np.ndarray, int]:
    """Sun/NeXT .au (.snd) container (round 8): big-endian header
    (magic '.snd', data offset, data size, encoding, sample rate,
    channels). Encodings: 1 G.711 µ-law, 27 G.711 A-law (the classic
    telephony pair — same expansion tables as the WAV tags), 2 signed
    int8, 3 int16 BE, 6 float32 BE. Channels interleave per frame and
    downmix by mean like every other multi-channel path."""
    if len(blob) < 24 or blob[:4] != b".snd":
        raise ValueError("bad_au_header")
    off, size, enc, sr, n_ch = struct.unpack_from(">IIIII", blob, 4)
    if off < 24 or off > len(blob) or sr == 0 or n_ch == 0:
        raise ValueError("bad_au_header")
    end = len(blob) if size == 0xFFFFFFFF else min(len(blob), off + size)
    data = blob[off:end]
    if enc == 1:
        pcm, scale = _ULAW_TABLE[np.frombuffer(data, dtype=np.uint8)], 32767.0
    elif enc == 27:
        pcm, scale = _ALAW_TABLE[np.frombuffer(data, dtype=np.uint8)], 32767.0
    elif enc == 2:
        pcm, scale = np.frombuffer(data, dtype=np.int8), 127.0
    elif enc == 3:
        usable = len(data) - (len(data) % 2)
        pcm, scale = np.frombuffer(data[:usable], dtype=">i2"), 32767.0
    elif enc == 6:
        usable = len(data) - (len(data) % 4)
        pcm, scale = _finite_floats(np.frombuffer(data[:usable], dtype=">f4")), 1.0
    else:
        raise ValueError("unsupported_au_encoding")
    if pcm.size == 0:
        raise ValueError("empty_pcm")
    pcm = _downmix(pcm, n_ch)
    return pcm.astype(np.float32) / np.float32(scale), int(sr)


def _parse_ieee_extended(b: bytes) -> float:
    """80-bit IEEE 754 extended float (AIFF COMM sample rate): 1 sign,
    15 exponent (bias 16383), 64 explicit-integer-bit mantissa."""
    (se,) = struct.unpack_from(">H", b, 0)
    hi, lo = struct.unpack_from(">II", b, 2)
    mant = (hi << 32) | lo
    exp = se & 0x7FFF
    if exp == 0 and mant == 0:
        return 0.0
    if exp == 0x7FFF:  # inf/nan — no valid sample rate
        raise ValueError("bad_aiff_header")
    val = mant * 2.0 ** (exp - 16383 - 63)
    return -val if se & 0x8000 else val


def decode_aiff(blob: bytes) -> tuple[np.ndarray, int]:
    """AIFF / AIFF-C container (round 8): IFF 'FORM' with a COMM chunk
    (channels, frame count, bits, 80-bit-extended sample rate) and an
    SSND chunk (offset/blockSize header then interleaved PCM). AIFF
    data is big-endian; AIFF-C is supported for compression types
    'NONE' (BE) and 'sowt' (byte-swapped LE — the classic Mac layout).
    Widths 8 (signed) / 16 / 24 / 32; downmix by mean."""
    if len(blob) < 12 or blob[:4] != b"FORM" or blob[8:12] not in (
        b"AIFF",
        b"AIFC",
    ):
        raise ValueError("bad_aiff_header")
    is_aifc = blob[8:12] == b"AIFC"
    pos, comm, data, comp = 12, None, None, b"NONE"
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        (size,) = struct.unpack_from(">I", blob, pos + 4)
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"COMM" and len(body) >= 18:
            n_ch, n_frames, bps = struct.unpack_from(">HIH", body, 0)
            sr = _parse_ieee_extended(body[8:18])
            if is_aifc and len(body) >= 22:
                comp = body[18:22]
            comm = (n_ch, n_frames, bps, sr)
        elif cid == b"SSND" and len(body) >= 8:
            (offset, _blk) = struct.unpack_from(">II", body, 0)
            data = body[8 + offset :]
        pos += 8 + size + (size & 1)
    if comm is None or data is None:
        raise ValueError("missing_aiff_chunk")
    n_ch, n_frames, bps, sr = comm
    # round(sr) guards sub-0.5 extended-float rates that pass a bare
    # sr <= 0 check but round to 0 and crash downstream resampling
    if n_ch == 0 or int(round(sr)) <= 0 or comp not in (b"NONE", b"sowt"):
        raise ValueError("unsupported_aiff_format")
    e = "<" if comp == b"sowt" else ">"
    if bps == 8:
        pcm, scale = np.frombuffer(data, dtype=np.int8), 127.0
    elif bps == 16:
        usable = len(data) - (len(data) % 2)
        pcm, scale = np.frombuffer(data[:usable], dtype=f"{e}i2"), 32767.0
    elif bps == 24:
        pcm, scale = _gather_s24(data, big_endian=(e == ">")), 8388607.0
    elif bps == 32:
        usable = len(data) - (len(data) % 4)
        pcm, scale = np.frombuffer(data[:usable], dtype=f"{e}i4"), 2147483647.0
    else:
        raise ValueError("unsupported_aiff_format")
    pcm = pcm[: n_frames * n_ch]
    if pcm.size == 0:
        raise ValueError("empty_pcm")
    pcm = _downmix(pcm, n_ch)
    return pcm.astype(np.float32) / np.float32(scale), int(round(sr))


def decode_pcm_s16le(blob: bytes, sr_hz: int) -> tuple[np.ndarray, int]:
    pcm = np.frombuffer(blob[: len(blob) - (len(blob) % 2)], dtype="<i2")
    if pcm.size == 0:
        raise ValueError("empty_pcm")
    return pcm.astype(np.float32) / np.float32(32767.0), int(sr_hz)


def decode_pcm_raw(blob: bytes, codec: str, sr_hz: int) -> tuple[np.ndarray, int]:
    """Headerless PCM variants beyond s16le (round 7): 24-bit LE, IEEE
    float32, and the G.711 telephony laws — the raw-byte twins of the
    WAV format tags, sharing the same normalization conventions."""
    if codec == "pcm_s24le":
        pcm, scale = _gather_s24(blob), 8388607.0
    elif codec == "pcm_f32le":
        usable = len(blob) - (len(blob) % 4)
        pcm, scale = _finite_floats(np.frombuffer(blob[:usable], dtype="<f4")), 1.0
    elif codec == "pcm_mulaw":
        pcm, scale = _ULAW_TABLE[np.frombuffer(blob, dtype=np.uint8)], 32767.0
    else:  # pcm_alaw
        pcm, scale = _ALAW_TABLE[np.frombuffer(blob, dtype=np.uint8)], 32767.0
    if pcm.size == 0:
        raise ValueError("empty_pcm")
    return pcm.astype(np.float32) / np.float32(scale), int(sr_hz)


def decode_blob(
    blob: bytes | None, codec: str | None, sr_hz: int | None
) -> tuple[np.ndarray | None, int, str | None]:
    """Returns (pcm, sr, err); err is a snake_case token when pcm is
    None."""
    if blob is None or len(blob) == 0:
        return None, 0, "empty_bytes"
    if len(blob) > MAX_CONTENT_LENGTH:
        return None, 0, "max_content_length"
    if codec not in CODEC_WHITELIST:
        return None, 0, "codec_not_whitelisted"
    try:
        if codec == "wav":
            pcm, sr = decode_wav(blob)
        elif codec == "pcm_s16le":
            pcm, sr = decode_pcm_s16le(blob, sr_hz or 16000)
        elif codec == "flac":  # own bitstream decoder (operators/flac.py)
            pcm, sr = _flac.decode_flac(blob)
        elif codec == "au":
            pcm, sr = decode_au(blob)
        elif codec == "aiff":
            pcm, sr = decode_aiff(blob)
        elif codec in COMPRESSED_CODECS:  # import-gated library slot
            pcm, sr = _decode_compressed(blob, codec)
        else:  # pcm_s24le / pcm_f32le / pcm_mulaw / pcm_alaw
            pcm, sr = decode_pcm_raw(blob, codec, sr_hz or 16000)
        if not (SR_MIN <= sr <= SR_MAX):
            return None, 0, "implausible_sample_rate"
        if codec in _FLOAT_SOURCE_CODECS and not np.isfinite(pcm).all():
            # the raw float decoders reject NaN/Inf samples already
            # (_finite_floats); this catches the rest on the FINAL pcm:
            # a finite float64 overflowing to inf in the float32
            # downcast, and library-decoded codecs. Letting them through
            # makes ok=true rows with NaN features — garbage the quality
            # gates silently mis-handle. Int-sourced codecs cannot
            # produce non-finite values and skip the scan.
            return None, 0, "nonfinite_samples"
        return pcm, sr, None
    except ValueError as e:
        # our parsers raise snake_case tokens; a ValueError bubbling up
        # from numpy/struct carries a prose message — normalize it so a
        # library-version string never lands in the typed-error column
        msg = str(e)
        return None, 0, msg if msg and " " not in msg else "decode_error"
    except Exception:  # noqa: BLE001 — malformed container
        return None, 0, "decode_error"


def _features(pcm: np.ndarray, sr: int) -> tuple:
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


def decode_prefilter() -> Column:
    """Pure-column pre-guards (no UDF): size cap + codec whitelist —
    these push down to the parquet/Iceberg scan so rejected rows never
    reach the Arrow decode batch."""
    return (F.length("bytes") <= MAX_CONTENT_LENGTH) & F.col("codec").isin(
        *CODEC_WHITELIST
    )
