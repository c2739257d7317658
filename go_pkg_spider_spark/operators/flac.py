"""Minimal pure-Python/numpy FLAC codec (every spec sample width,
8/12/16/20/24/32-bit — real-world hi-res audio is 24-bit).

The reference decodes every whitelisted content type
(/root/reference/http.go:141-170); advertising flac in the codec
whitelist while stubbing the decode dropped every flac row. No FLAC
library ships in this sandbox, so this implements the public bitstream
spec (xiph.org/flac/format.html) directly:

- decoder: STREAMINFO parse; frames with CONSTANT, VERBATIM, FIXED
  (orders 0-4) and LPC subframes; Rice/Rice2 residual partitions with
  escape codes; wasted bits; frame CRC-8 header validation; independent
  channels AND the stereo decorrelation assignments (left-side /
  right-side / mid-side, the modes real-world stereo encoders emit —
  the side channel carries bps+1 bits per the spec). Multi-channel
  frames downmix to mono by mean, matching the WAV path.
- encoder (datagen/test use): valid fixed-blocksize streams — mono with
  VERBATIM (byte-aligned 16-bit BE, numpy fast path) / CONSTANT / FIXED
  / LPC subframes, and 2-channel decorrelated streams
  (encode_flac_s16_stereo) so the stereo reconstruction paths are
  tested against by-construction truth.

FLAC is lossless: the roundtrip test asserts bit-exact PCM equality,
and the decoder validates sync codes + CRC-8 so a malformed stream
fails loudly instead of yielding garbage audio.
"""

from __future__ import annotations

import struct

import numpy as np

_BLOCK = 4096

# ---------------------------------------------------------------------------
# CRCs (FLAC frame header CRC-8 poly 0x07, frame CRC-16 poly 0x8005)
# ---------------------------------------------------------------------------


def _crc_table(poly: int, width: int) -> list[int]:
    mask = (1 << width) - 1
    top = 1 << (width - 1)
    table = []
    for b in range(256):
        r = b << (width - 8)
        for _ in range(8):
            r = ((r << 1) ^ poly) & mask if r & top else (r << 1) & mask
        table.append(r)
    return table


_CRC8_TABLE = _crc_table(0x07, 8)
_CRC16_TABLE = _crc_table(0x8005, 16)


def crc8(data: bytes) -> int:
    r = 0
    for b in data:
        # & 0xFF like crc16: callers may hand a memoryview whose
        # elements are signed (pyarrow buffer format 'b'); a negative b
        # must not rely on Python's negative-index wraparound
        r = _CRC8_TABLE[(r ^ b) & 0xFF]
    return r


def crc16(data: bytes) -> int:
    r = 0
    for b in data:
        r = _CRC16_TABLE[((r >> 8) ^ b) & 0xFF] ^ ((r << 8) & 0xFFFF)
    return r


# ---------------------------------------------------------------------------
# bit I/O
# ---------------------------------------------------------------------------


class BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._nbits += nbits
        while self._nbits >= 8:
            self._nbits -= 8
            self.buf.append((self._acc >> self._nbits) & 0xFF)
        self._acc &= (1 << self._nbits) - 1

    def align(self) -> None:
        if self._nbits:
            self.write(0, 8 - self._nbits)

    def bytes(self) -> bytes:
        assert self._nbits == 0
        return bytes(self.buf)


class BitReader:
    def __init__(self, data: bytes, pos_bytes: int = 0) -> None:
        self.data = data
        self.bitpos = pos_bytes * 8

    def read(self, nbits: int) -> int:
        end = self.bitpos + nbits
        if end > len(self.data) * 8:
            raise ValueError("flac_truncated")
        out = 0
        pos = self.bitpos
        while nbits > 0:
            byte = self.data[pos >> 3]
            avail = 8 - (pos & 7)
            take = min(avail, nbits)
            shift = avail - take
            out = (out << take) | ((byte >> shift) & ((1 << take) - 1))
            pos += take
            nbits -= take
        self.bitpos = pos
        return out

    def skip(self, nbits: int) -> None:
        """Advance without materializing the bits. read(n) accumulates
        an n-bit integer (shift-or per byte — O(n^2) bit ops), which is
        fine for field-sized reads but pathological for skipping
        metadata: a routine 1 MB PICTURE block (album art) would build
        an 8M-bit bignum. Skips must be O(1)."""
        end = self.bitpos + nbits
        if end > len(self.data) * 8:
            raise ValueError("flac_truncated")
        self.bitpos = end

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if v & (1 << (nbits - 1)) else v

    def read_unary(self) -> int:
        """Count 0 bits until the terminating 1 bit."""
        n = 0
        while self.read(1) == 0:
            n += 1
        return n

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7

    @property
    def bytepos(self) -> int:
        return self.bitpos >> 3


def _encode_utf8_number(n: int) -> bytes:
    """FLAC's extended-UTF-8 coded number (frame/sample index)."""
    if n < 0x80:
        return bytes([n])
    for nbytes, first_max in ((2, 0x7FF), (3, 0xFFFF), (4, 0x1FFFFF), (5, 0x3FFFFFF), (6, 0x7FFFFFFF), (7, 0xFFFFFFFFF)):
        if n <= first_max:
            out = bytearray()
            for i in range(nbytes - 1):
                out.append(0x80 | ((n >> (6 * i)) & 0x3F))
            lead = (0xFF00 >> nbytes) & 0xFF
            out.append(lead | (n >> (6 * (nbytes - 1))))
            return bytes(reversed(out))
    raise ValueError("frame number too large")


def _decode_utf8_number(r: BitReader) -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    for i in range(7):
        if not (b0 & (0x80 >> i)):
            break
        nbytes += 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("flac_bad_utf8_number")
    n = b0 & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        b = r.read(8)
        if (b & 0xC0) != 0x80:
            raise ValueError("flac_bad_utf8_number")
        n = (n << 6) | (b & 0x3F)
    return n


# ---------------------------------------------------------------------------
# encoder (verbatim subframes — valid, lossless, numpy-fast to decode)
# ---------------------------------------------------------------------------


# frame-header sample-size codes for every width the spec defines
_SS_CODE = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}


def encode_flac_s16(
    pcm: np.ndarray, sr: int, block_size: int = _BLOCK, subframe: str = "verbatim"
) -> bytes:
    """Encode mono int16 PCM as a fixed-blocksize FLAC stream.

    subframe selects the per-block subframe type (all decode to the
    SAME samples — the decoder's four subframe families share one
    truth, which the fixture corpus exploits by encoding one signal
    through several types and freezing identical features):
    - "verbatim" (default): byte-aligned 16-bit BE block copy.
    - "constant": requires every sample in each block equal.
    - "fixed": order-2 fixed predictor (2*x[i-1] - x[i-2]) with
      Rice-coded residuals (partition order 0).
    - "lpc": order-2 LPC, coefs [5, -3], shift 1, precision 4 —
      residuals exact by construction (integer predictor both sides),
      Rice-coded like "fixed"."""
    return encode_flac_pcm(
        np.asarray(pcm, dtype="<i2"), sr, bps=16,
        block_size=block_size, subframe=subframe,
    )


def encode_flac_pcm(
    pcm: np.ndarray,
    sr: int,
    bps: int = 16,
    block_size: int = _BLOCK,
    subframe: str = "verbatim",
) -> bytes:
    """encode_flac_s16 generalized to every spec sample width
    (8/12/16/20/24/32) — real-world hi-res audio is 24-bit, and the
    decoder claims the width family, so the fixture corpus needs an
    encoder for it (whitelist-means-decoded, http.go:141-170). Samples
    must already be integers within [-(2^(bps-1)-1), 2^(bps-1)-1]."""
    if bps not in _SS_CODE:
        raise ValueError(f"unsupported bps {bps}")
    pcm = np.asarray(pcm, dtype=np.int64)
    if len(pcm) and int(np.abs(pcm).max()) >= 1 << (bps - 1):
        raise ValueError(f"sample out of range for {bps}-bit")
    out = bytearray(b"fLaC")
    # STREAMINFO, last-metadata-block
    w = BitWriter()
    w.write(1, 1)  # last metadata block
    w.write(0, 7)  # type STREAMINFO
    w.write(34, 24)  # length
    w.write(block_size, 16)
    w.write(block_size, 16)
    w.write(0, 24)  # min frame size unknown
    w.write(0, 24)  # max frame size unknown
    w.write(sr, 20)
    w.write(0, 3)  # channels - 1
    w.write(bps - 1, 5)
    w.write(len(pcm), 36)
    for _ in range(16):
        w.write(0, 8)  # md5 unknown
    out += w.bytes()

    n_frames = (len(pcm) + block_size - 1) // block_size
    for fi in range(n_frames):
        chunk = pcm[fi * block_size : (fi + 1) * block_size]
        out += _encode_frame(chunk, fi, block_size, subframe, bps=bps)
    return bytes(out)


def _write_rice_residual(w: BitWriter, resid: list[int], order: int) -> None:
    """Rice-coded residual partition (order 0: one partition of
    len(resid) zigzagged values). The parameter is chosen from the mean
    magnitude (any in-range choice is spec-valid; the decoder recovers
    exactly either way). Method 0 (4-bit params, <=14) for the common
    widths; when the ideal parameter exceeds 14 (wide-sample residuals,
    e.g. 32-bit audio) the partition switches to method 1 / RICE2
    (5-bit params, <=30) — without it the unary quotients explode to
    ~2^19 bits per sample."""
    zz = [(v << 1) if v >= 0 else ((-v << 1) - 1) for v in resid]
    mean = (sum(zz) // len(zz)) if zz else 0
    ideal = max(mean.bit_length() - 1, 0)
    method, pbits = (0, 4) if ideal <= 14 else (1, 5)
    param = min(ideal, 14 if method == 0 else 30)
    w.write(method, 2)
    w.write(0, 4)  # partition order 0
    w.write(param, pbits)
    for v in zz:
        q = v >> param
        for _ in range(q):
            w.write(0, 1)
        w.write(1, 1)
        if param:
            w.write(v & ((1 << param) - 1), param)


def _write_signed(w: BitWriter, v: int, nbits: int) -> None:
    w.write(v & ((1 << nbits) - 1), nbits)


def _encode_subframe(
    w: BitWriter, chunk: np.ndarray, subframe: str, bps: int = 16
) -> None:
    samples = [int(x) for x in chunk]
    n = len(samples)
    if subframe == "constant":
        if any(s != samples[0] for s in samples):
            raise ValueError("constant subframe needs an all-equal block")
        w.write(0, 8)  # pad0 | type 000000 | wasted 0
        _write_signed(w, samples[0], bps)
        return
    if subframe == "verbatim":
        w.write(0b00000010, 8)
        for s in samples:
            _write_signed(w, s, bps)
        return
    if subframe not in ("fixed", "lpc"):
        raise ValueError(f"unknown subframe type {subframe!r}")
    if n <= 2:  # tail block shorter than the predictor order: VERBATIM
        w.write(0b00000010, 8)
        for s in samples:
            _write_signed(w, s, bps)
        return
    if subframe == "fixed":
        order, coefs, shift = 2, [2, -1], 0
        w.write((8 + order) << 1, 8)  # FIXED, order 2
    else:
        order, coefs, shift, prec = 2, [5, -3], 1, 4
        w.write((32 + order - 1) << 1, 8)  # LPC, order = (stype&31)+1
    for s in samples[:order]:
        _write_signed(w, s, bps)
    if subframe == "lpc":
        w.write(prec - 1, 4)
        _write_signed(w, shift, 5)
        for c in coefs:
            _write_signed(w, c, prec)
    resid = [
        samples[i]
        - (sum(c * samples[i - 1 - j] for j, c in enumerate(coefs)) >> shift)
        for i in range(order, n)
    ]
    _write_rice_residual(w, resid, order)


def _frame_header_bytes(
    n: int, block_size: int, frame_idx: int, ch_assign: int, ss_code: int = 0b100
) -> bytearray:
    h = BitWriter()
    h.write(0b11111111111110, 14)  # sync
    h.write(0, 1)  # reserved
    h.write(0, 1)  # fixed blocksize strategy
    if n == block_size and block_size == 4096:
        bs_code, bs_tail = 0b1100, None
    else:
        bs_code, bs_tail = 0b0111, n - 1  # 16-bit blocksize-1 at end
    h.write(bs_code, 4)
    h.write(0, 4)  # sample rate: from STREAMINFO
    h.write(ch_assign, 4)  # channel assignment
    h.write(ss_code, 3)  # sample size
    h.write(0, 1)  # reserved
    header = bytearray(h.bytes())
    header += _encode_utf8_number(frame_idx)
    if bs_tail is not None:
        header += struct.pack(">H", bs_tail)
    header.append(crc8(bytes(header)))
    return header


def _encode_frame(
    chunk: np.ndarray,
    frame_idx: int,
    block_size: int,
    subframe: str = "verbatim",
    bps: int = 16,
) -> bytes:
    n = len(chunk)
    body = bytearray(
        _frame_header_bytes(n, block_size, frame_idx, 0, _SS_CODE[bps])
    )
    if subframe == "verbatim" and bps == 16:
        body.append(0b00000010)  # subframe header: VERBATIM, no wasted bits
        body += chunk.astype(">i2").tobytes()  # byte-aligned 16-bit BE
    else:
        w = BitWriter()
        _encode_subframe(w, chunk, subframe, bps=bps)
        w.align()
        body += w.bytes()
    body += struct.pack(">H", crc16(bytes(body)))
    return bytes(body)


# stereo decorrelation channel-assignment codes (frame header, spec):
# 8 = left/side (ch0=left, ch1=side), 9 = right/side (ch0=side,
# ch1=right), 10 = mid/side (ch0=mid, ch1=side); side = left - right
# always carries ONE extra bit.
_STEREO_ASSIGN = {"left_side": 8, "right_side": 9, "mid_side": 10}


def encode_flac_s16_stereo(
    left: np.ndarray,
    right: np.ndarray,
    sr: int,
    mode: str = "mid_side",
    block_size: int = _BLOCK,
    subframes: tuple[str, str] = ("fixed", "lpc"),
) -> bytes:
    """Encode 2-channel int16 PCM as a decorrelated-stereo FLAC stream.

    mode picks the channel assignment (left_side / right_side /
    mid_side — the assignments real stereo encoders emit; the reference
    analog is the transcode stage decoding every family it whitelists,
    http.go:141-170). subframes picks the per-channel subframe type
    (constant/verbatim/fixed/lpc), so fixtures can put predictor-coded
    subframes on BOTH the primary and the 17-bit side channel.

    Lossless by construction: side = left - right and mid = (l+r)>>1
    are exactly invertible ((mid<<1)|(side&1) recovers l+r), and every
    subframe family encodes its channel exactly.
    """
    left = np.asarray(left, dtype=np.int64)
    right = np.asarray(right, dtype=np.int64)
    if left.shape != right.shape:
        raise ValueError("stereo channels must have equal length")
    ch_assign = _STEREO_ASSIGN[mode]
    side = left - right
    if mode == "left_side":
        chans, bits = (left, side), (16, 17)
    elif mode == "right_side":
        chans, bits = (side, right), (17, 16)
    else:
        chans, bits = ((left + right) >> 1, side), (16, 17)

    out = bytearray(b"fLaC")
    w = BitWriter()
    w.write(1, 1)  # last metadata block
    w.write(0, 7)  # type STREAMINFO
    w.write(34, 24)
    w.write(block_size, 16)
    w.write(block_size, 16)
    w.write(0, 24)
    w.write(0, 24)
    w.write(sr, 20)
    w.write(1, 3)  # channels - 1 = 1
    w.write(15, 5)  # bps - 1
    w.write(len(left), 36)
    for _ in range(16):
        w.write(0, 8)
    out += w.bytes()

    n_frames = (len(left) + block_size - 1) // block_size
    for fi in range(n_frames):
        lo, hi = fi * block_size, (fi + 1) * block_size
        n = min(hi, len(left)) - lo
        body = bytearray(_frame_header_bytes(n, block_size, fi, ch_assign))
        sw = BitWriter()
        for chan, bps, sub in zip(chans, bits, subframes):
            _encode_subframe(sw, chan[lo:hi], sub, bps=bps)
        sw.align()
        body += sw.bytes()
        body += struct.pack(">H", crc16(bytes(body)))
        out += body
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_flac(blob: bytes) -> tuple[np.ndarray, int]:
    """Decode a FLAC stream to (float32 mono in [-1,1], sample_rate).
    Raises ValueError with a typed reason on unsupported/malformed
    input."""
    if len(blob) < 42 or blob[:4] != b"fLaC":
        raise ValueError("bad_flac_header")
    r = BitReader(blob, 4)
    sr = channels = bps = None
    total = 0
    while True:
        last = r.read(1)
        btype = r.read(7)
        length = r.read(24)
        if btype == 0:  # STREAMINFO
            r.read(16)  # min blocksize
            r.read(16)  # max blocksize
            r.read(24)
            r.read(24)
            sr = r.read(20)
            channels = r.read(3) + 1
            bps = r.read(5) + 1
            total = r.read(36)
            r.skip(128)  # md5
        else:
            r.skip(length * 8)
        if last:
            break
    if sr is None or not sr:
        raise ValueError("flac_missing_streaminfo")
    if bps not in _SS_CODE:  # every width the spec defines decodes
        raise ValueError("flac_bps_unsupported")

    # STREAMINFO total_samples == 0 means UNKNOWN length (spec §
    # METADATA_BLOCK_STREAMINFO), not empty: decode frames until the
    # blob is exhausted instead of using total as the loop bound.
    unknown_total = total == 0
    chunks: list[np.ndarray] = []
    got = 0
    while (unknown_total or got < total) and r.bytepos < len(blob) - 1:
        try:
            frame = _decode_frame(r, blob, sr, channels, bps)
        except ValueError:
            # Unknown-length streams have no sample-count loop bound, so
            # trailing non-frame bytes (padding, appended tags) would
            # otherwise discard ALL decoded audio; keep what decoded.
            # With a known total, a mid-stream decode error is real
            # corruption (the loop bound would have stopped us cleanly).
            if unknown_total and chunks:
                break
            raise
        chunks.append(frame)
        got += len(frame)
    pcm = np.concatenate(chunks) if chunks else np.zeros(0, dtype=np.int32)
    if not unknown_total:
        pcm = pcm[:total]
    # normalize by the container's full-scale (2^(bps-1) - 1): 16-bit
    # keeps the exact historical constant 32767; 24-bit hi-res divides
    # by 8388607 (float32 output is the pipeline contract — SNR loss
    # vs 24-bit is ~7 bits below the 30 dB gate's floor)
    scale = np.float32((1 << (bps - 1)) - 1)
    return pcm.astype(np.float32) / scale, sr


def _decode_frame(r: BitReader, blob: bytes, si_sr: int, si_ch: int, bps: int) -> np.ndarray:
    header_start = r.bytepos
    sync = r.read(14)
    if sync != 0b11111111111110:
        raise ValueError("flac_bad_sync")
    r.read(1)  # reserved
    r.read(1)  # blocking strategy
    bs_code = r.read(4)
    sr_code = r.read(4)
    ch_code = r.read(4)
    ss_code = r.read(3)
    r.read(1)  # reserved
    _decode_utf8_number(r)
    if bs_code == 0:
        raise ValueError("flac_bad_blocksize")
    elif bs_code == 1:
        n = 192
    elif bs_code <= 5:
        n = 576 << (bs_code - 2)
    elif bs_code == 6:
        n = r.read(8) + 1
    elif bs_code == 7:
        n = r.read(16) + 1
    else:
        n = 256 << (bs_code - 8)
    if sr_code == 12:
        r.read(8)
    elif sr_code in (13, 14):
        r.read(16)
    if ch_code < 8:
        n_ch = ch_code + 1
        extra = (0,) * n_ch  # independent channels: all at frame bps
    elif ch_code <= 10:
        # stereo decorrelation: the SIDE (difference) channel carries
        # one extra bit (spec frame-header table); ch order is
        # left+side / side+right / mid+side for 8 / 9 / 10
        n_ch = 2
        extra = (1, 0) if ch_code == 9 else (0, 1)
    else:
        raise ValueError("flac_bad_channel_assignment")
    if ss_code == 0:
        f_bps = bps
    else:
        f_bps = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}.get(ss_code)
        if f_bps is None:
            raise ValueError("flac_bad_sample_size")
    want_crc = r.read(8)
    if crc8(blob[header_start : r.bytepos - 1]) != want_crc:
        raise ValueError("flac_header_crc_mismatch")

    ch_data = [_decode_subframe(r, blob, n, f_bps + extra[i]) for i in range(n_ch)]
    r.align()
    r.read(16)  # frame CRC-16 (header CRC-8 already validated above)
    if ch_code == 8:  # left/side: right = left - side
        left, side = ch_data
        ch_data = [left, left - side]
    elif ch_code == 9:  # right/side: left = right + side
        side, right = ch_data
        ch_data = [right + side, right]
    elif ch_code == 10:  # mid/side (libFLAC reconstruction: mid was
        # (l+r)>>1, so (mid<<1)|(side&1) recovers l+r exactly)
        mid, side = ch_data
        both = (mid << 1) | (side & 1)
        ch_data = [(both + side) >> 1, (both - side) >> 1]
    if n_ch == 1:
        return ch_data[0]
    return np.mean(np.stack(ch_data), axis=0).astype(np.int32)


def _decode_subframe(r: BitReader, blob: bytes, n: int, bps: int) -> np.ndarray:
    if r.read(1):
        raise ValueError("flac_bad_subframe_pad")
    stype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
        bps -= wasted
    if stype == 0:  # CONSTANT
        v = r.read_signed(bps)
        out = np.full(n, v, dtype=np.int64)
    elif stype == 1:  # VERBATIM
        if bps == 16 and (r.bitpos & 7) == 0:
            # numpy fast path: byte-aligned 16-bit BE block copy
            start = r.bytepos
            out = np.frombuffer(blob, dtype=">i2", count=n, offset=start).astype(
                np.int64
            )
            r.bitpos += n * 16
        elif bps == 24 and (r.bitpos & 7) == 0:
            # 24-bit BE fast path: gather 3-byte groups, sign-extend
            raw = np.frombuffer(
                blob, dtype=np.uint8, count=n * 3, offset=r.bytepos
            ).reshape(n, 3).astype(np.int64)
            out = (raw[:, 0] << 16) | (raw[:, 1] << 8) | raw[:, 2]
            out -= (out >> 23) << 24
            r.bitpos += n * 24
        else:
            out = np.array([r.read_signed(bps) for _ in range(n)], dtype=np.int64)
    elif 8 <= stype <= 12:  # FIXED, order = stype - 8
        order = stype - 8
        warm = [r.read_signed(bps) for _ in range(order)]
        resid = _decode_residual(r, n, order)
        out = _restore_fixed(warm, resid, order, n)
    elif stype >= 32:  # LPC, order = (stype & 31) + 1
        order = (stype & 31) + 1
        warm = [r.read_signed(bps) for _ in range(order)]
        prec = r.read(4) + 1
        if prec == 16:
            raise ValueError("flac_bad_lpc_precision")
        shift = r.read_signed(5)
        coefs = [r.read_signed(prec) for _ in range(order)]
        resid = _decode_residual(r, n, order)
        out = _restore_lpc(warm, resid, coefs, shift, n)
    else:
        raise ValueError("flac_reserved_subframe_type")
    if wasted:
        out = out << wasted
    return out


def _bits_window(r: BitReader, max_bits: int) -> tuple[np.ndarray, int]:
    """Unpack a window of the stream starting at the current cursor as a
    0/1 uint8 array; returns (bits, offset-of-cursor-within-window)."""
    start_byte = r.bitpos >> 3
    end_byte = min(len(r.data), (r.bitpos + max_bits + 7) >> 3)
    bits = np.unpackbits(
        np.frombuffer(r.data, dtype=np.uint8, count=end_byte - start_byte,
                      offset=start_byte)
    )
    return bits, r.bitpos - start_byte * 8


def _rice_decode_vec(r: BitReader, cnt: int, param: int) -> np.ndarray:
    """Vectorized Rice decode of `cnt` values with parameter `param`
    (the per-sample BitReader loop was ~250x slower than verbatim; see
    BENCH/R6 notes). The only per-value Python step is the terminator
    walk over a PRECOMPUTED jump table:

    - unpack a bit window, locate every 1-bit (`ones`);
    - jump[j] = index of the first 1-bit at least param+1 bits after
      ones[j] (one vectorized searchsorted) — because a value's encoding
      is q zeros, a 1, then param literal bits, the NEXT terminator
      after the one at ones[j] is exactly ones[jump[j]];
    - walk j -> jump[j] cnt times (array indexing only), then derive
      quotients and gather remainders with one fancy-indexing matmul.

    Exact: all arithmetic stays in int64 (q < window bits, param <= 30).
    If the optimistic window is too small (pathological quotients), the
    caller retries with the full remaining stream."""
    # expected size: cnt * (1 + param + E[q]) bits; 66 covers q up to ~64
    remaining = len(r.data) * 8 - r.bitpos
    ok = False
    for max_bits in (cnt * (param + 10) + 64, cnt * (param + 66) + 64, remaining):
        full_window = max_bits >= remaining
        bits, off = _bits_window(r, max_bits)
        ones = np.flatnonzero(bits).astype(np.int64)
        n_ones = len(ones)
        j0 = int(np.searchsorted(ones, off)) if n_ones else 0
        if n_ones == 0 or j0 >= n_ones:
            if full_window:
                break
            continue
        # orbit of j0 under the jump map via pointer doubling: step_pow
        # = g^(2^p) composed by self-indexing; the sentinel n_ones maps
        # to itself so an overflow sticks and shows up in term[-1].
        # jump[j] (= index of the first 1-bit >= ones[j]+1+param) comes
        # from one inclusive prefix-count — O(window), ~10x cheaper
        # than a searchsorted over the ones array
        prefix = np.cumsum(bits, dtype=np.int64)
        step_pow = np.append(
            prefix[np.minimum(ones + param, len(bits) - 1)], n_ones
        )
        term = np.empty(cnt, dtype=np.int64)
        term[0] = j0
        filled = 1
        while filled < cnt:
            take = min(filled, cnt - filled)
            term[filled : filled + take] = step_pow[term[:take]]
            filled += take
            if filled < cnt:
                step_pow = step_pow[step_pow]  # g^(2p); sentinel self-maps
        ok = bool(term[-1] < n_ones)
        # the last value's literal bits must also fit in the window
        if ok and int(ones[term[-1]]) + 1 + param > len(bits):
            ok = False
        if ok or full_window:
            break
    if not ok:
        raise ValueError("flac_truncated")
    tpos = ones[term]
    starts = np.empty(cnt, dtype=np.int64)
    starts[0] = off
    if cnt > 1:
        starts[1:] = tpos[:-1] + 1 + param
    q = tpos - starts
    if param:
        idx = tpos[:, None] + 1 + np.arange(param, dtype=np.int64)
        weights = 1 << np.arange(param - 1, -1, -1, dtype=np.int64)
        rem = bits[idx].astype(np.int64) @ weights
        v = (q << param) | rem
        end_bit = int(tpos[-1]) + 1 + param
    else:
        v = q
        end_bit = int(tpos[-1]) + 1
    r.bitpos += end_bit - off
    return (v >> 1) ^ -(v & 1)  # zigzag


def _raw_decode_vec(r: BitReader, cnt: int, raw_bps: int) -> np.ndarray:
    """Vectorized escape-partition decode: cnt fixed-width signed values."""
    if raw_bps == 0:
        return np.zeros(cnt, dtype=np.int64)
    bits, off = _bits_window(r, cnt * raw_bps)
    if off + cnt * raw_bps > len(bits):
        raise ValueError("flac_truncated")
    mat = bits[off : off + cnt * raw_bps].reshape(cnt, raw_bps).astype(np.int64)
    weights = 1 << np.arange(raw_bps - 1, -1, -1, dtype=np.int64)
    v = mat @ weights
    v -= (v >> (raw_bps - 1)) << raw_bps  # sign extend
    r.bitpos += cnt * raw_bps
    return v


def _decode_residual(r: BitReader, n: int, order: int) -> np.ndarray:
    method = r.read(2)
    if method > 1:
        raise ValueError("flac_bad_residual_method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = r.read(4)
    nparts = 1 << porder
    if n % nparts:
        raise ValueError("flac_bad_partition_order")
    parts: list[np.ndarray] = []
    for p in range(nparts):
        cnt = (n >> porder) - (order if p == 0 else 0)
        param = r.read(pbits)
        if param == escape:
            # the 5-bit raw bps follows the escape param even when the
            # partition is EMPTY (cnt==0 happens when block_size >>
            # porder == predictor order) — skipping it misaligns the
            # rest of the frame (ADVICE r6 #1)
            raw_bps = r.read(5)
            if cnt:
                parts.append(_raw_decode_vec(r, cnt, raw_bps))
        elif cnt:
            parts.append(_rice_decode_vec(r, cnt, param))
    return np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)


def _restore_fixed(warm: list[int], resid: list[int], order: int, n: int) -> np.ndarray:
    """FIXED predictors are k-th order differencers, so restoration is
    k-fold integration: seed x[j] with the j-th difference of the warmup
    samples, then cumsum from the deepest level up — exact in int64
    (16-bit audio, order <= 4) and vectorized (the per-sample Python
    loop was O(n*k) interpreter time)."""
    x = np.empty(max(n, order), dtype=np.int64)
    w = np.array(warm, dtype=np.int64)
    for j in range(order):
        x[j] = w[0]
        w = np.diff(w)
    x[order : order + len(resid)] = resid
    for j in range(order - 1, -1, -1):
        x[j:] = np.cumsum(x[j:])
    return x[:n]


def _restore_lpc(
    warm: list[int], resid, coefs: list[int], shift: int, n: int
) -> np.ndarray:
    """LPC restoration is an integer IIR (each sample depends on the
    previous `order` OUTPUTS through a shift) — inherently sequential,
    so it stays a Python loop, but with exact int arithmetic and a
    flat history window instead of per-step generator dispatch (~3x).
    The Rice residual decode that used to dominate is vectorized in
    _rice_decode_vec."""
    out = list(warm)
    cof = [int(c) for c in coefs]
    order = len(cof)
    append = out.append
    resid_list = resid.tolist() if hasattr(resid, "tolist") else list(resid)
    if order == 1:
        (a,) = cof
        s1 = out[-1]
        for r_ in resid_list:
            s1 = r_ + ((a * s1) >> shift)
            append(s1)
    elif order == 2:
        a, b = cof
        s1, s2 = out[-1], out[-2]
        for r_ in resid_list:
            v = r_ + ((a * s1 + b * s2) >> shift)
            append(v)
            s2, s1 = s1, v
    else:
        i = len(out)
        rng = list(enumerate(cof))
        for r_ in resid_list:
            pred = 0
            for j, c in rng:
                pred += c * out[i - 1 - j]
            append(r_ + (pred >> shift))
            i += 1
    return np.array(out[:n], dtype=np.int64)
