"""Frozen fixture corpus for the audio-fingerprint near-dup oracle
(`audio_fp_docs`): deterministic clips whose duplicate structure is
known BY CONSTRUCTION, with frozen expected outputs of the production
fingerprint path (operators/audio_fp._fp_row_full) and of the
near-dup grouping.

The corpus encodes the real-world re-encode problem directly:

- fids 0..5 are ONE clip (an up-chirp) six ways — 16-bit WAV, FLAC,
  AIFF (bit-identical PCM through three parsers), 24-bit WAV
  (re-quantized), rendered at 8 kHz (resampled), and at half gain.
  The fingerprint contract says all six group together.
- fids 6..9 are distinct signals (down-chirp, two AM tones, hash
  noise) — singletons, pairwise fp64 hamming ~32 (measured 28..35).
- fid 10 (stationary tone) and fid 11 (silence) both fingerprint to
  the all-zero sub-fingerprint stream, hence the SAME fp64 — the
  documented H&K collapse. fp_degenerate=TRUE keeps them OUT of
  grouping: the frozen truth pins that they do NOT merge despite
  equal fp64 (the semantic the flag exists for).
- fids 12..14: typed error rows + a sub-two-frame clip (n_subfp=0).

Determinism: closed-form signals only (chirp/AM/hash-noise reuse the
audio_fixtures conventions); the fingerprint kernel is rfft +
reduceat + splitmix64 — no RNG, no library slots.

tests/test_audio_fp.py (`derive_expected`) recomputes EXPECTED from
the live kernel at test time, with the GROUPING recomputed by an
INDEPENDENT brute-force union-find over all pairs — so the frozen
truth cross-checks the production pigeonhole-block LSH path against
exhaustive search (the block split guarantees recall at hamming <= 7;
this is where that guarantee is actually verified). The subfp,
increment and snippet tables below are re-derived the same way in
tests/test_audio_fp.py, test_audio_dedup_increment.py and
test_audio_snippet.py.
"""

from __future__ import annotations

import numpy as np

from .audio_fixtures import _aiff, _flac, _hashnoise, _i16, _wav, _wav24

def _chirp(n: int, sr: int, f0: float, f1: float, amp: float = 0.6) -> np.ndarray:
    """Linear chirp sweeping f0 -> f1 over the clip (closed form)."""
    t = np.arange(n, dtype=np.float64) / sr
    k = (f1 - f0) / (2.0 * (n / sr))
    return amp * np.sin(2 * np.pi * (f0 * t + k * t * t))


def _am(n: int, sr: int, fc: float, fm: float, amp: float = 0.6) -> np.ndarray:
    """Amplitude-modulated tone — stationary spectrum, moving energy,
    so the temporal-delta bits fire without the chirp's band walk."""
    t = np.arange(n, dtype=np.float64) / sr
    return amp * np.sin(2 * np.pi * fc * t) * (0.5 + 0.5 * np.sin(2 * np.pi * fm * t))


def build_rows() -> list[tuple[int, bytes | None, str | None, int | None]]:
    """(fid, bytes, codec, sr_hz) — pure function, no RNG."""
    rows: list[tuple[int, bytes | None, str | None, int | None]] = []
    fid = 0

    def add(blob, codec, sr_hz):
        nonlocal fid
        rows.append((fid, blob, codec, sr_hz))
        fid += 1

    sr = 16_000
    up = _chirp(sr, sr, 200.0, 2000.0)  # 1 s, 200->2000 Hz

    # -- the six-way duplicate (fids 0..5) --
    add(_wav(up, sr), "wav", sr)  # 0: 16-bit WAV (group anchor)
    add(_flac(up, sr), "flac", sr)  # 1: same PCM, FLAC container
    add(  # 2: same PCM, AIFF big-endian
        _aiff(_i16(up).astype(">i2").tobytes(), sr, up.size, 16), "aiff", None
    )
    add(_wav24(up, sr), "wav", sr)  # 3: 24-bit re-quantization twin
    add(_wav(_chirp(8000, 8000, 200.0, 2000.0), 8000), "wav", 8000)  # 4: 8 kHz render
    add(_wav(_chirp(sr, sr, 200.0, 2000.0, amp=0.3), sr), "wav", sr)  # 5: half gain

    # -- distinct singletons (fids 6..9) --
    add(_wav(_chirp(sr, sr, 2000.0, 200.0), sr), "wav", sr)  # 6: down-chirp
    add(_wav(_am(sr, sr, 440.0, 3.0), sr), "wav", sr)  # 7
    add(_flac(_am(sr, sr, 880.0, 5.0), sr), "flac", sr)  # 8
    add(_wav(_hashnoise(sr), sr), "wav", sr)  # 9

    # -- the degenerate (H&K collapse) pair (fids 10..11) --
    t = np.arange(sr, dtype=np.float64) / sr
    add(_wav(0.6 * np.sin(2 * np.pi * 440.0 * t), sr), "wav", sr)  # 10: tone
    add(_wav(np.zeros(sr), sr), "wav", sr)  # 11: silence

    # -- errors + edge (fids 12..14) --
    add(_wav(up, sr), "speex", sr)  # 12: codec_not_whitelisted
    add(b"", "wav", sr)  # 13: empty_bytes
    # 14: 600 samples @16k -> 300 after the 8k resample < one frame+hop
    add(_wav(_chirp(600, sr, 200.0, 2000.0), sr), "wav", sr)

    return rows


def _noisy(sig: np.ndarray, snr_db: float) -> np.ndarray:
    """Deterministic additive noise at an exact SNR (shader-hash noise,
    no RNG — the fp_robustness.py convention)."""
    noise = _hashnoise(sig.size, amp=1.0)
    p_sig = float(np.mean(sig**2))
    p_n = p_sig / 10 ** (snr_db / 10)
    return sig + noise * np.sqrt(p_n / float(np.mean(noise**2)))


def build_subfp_rows() -> list[tuple[str, bytes | None, str | None, int | None]]:
    """(clip_id, bytes, codec, sr_hz) corpus whose SUB-FINGERPRINT-tier
    group structure is known by construction — and differs from the
    fp64 tier's on exactly the rows the tier exists for:

    - a0..a3: one up-chirp plus 20/15 dB noisy twins (fp64 hamming
      24/32 on this signal — the 64-bit tier must MISS them) and a 60%
      truncation; the subfp tier must group all four.
    - a4: a 200 ms START-crop of a0 (6.25 hops — non-integer, so the
      residual sub-hop misalignment flips ~half the subfp values): the
      trimmed-re-upload case the round-8 robustness sweep showed both
      tiers losing. Coarse-cell probes keep it blocked and the
      shift-scan verify aligns it; must group with a0 (subfp tier
      only).
    - d0/t0: a 2 s slow chirp and its 700 ms start-crop (21.9 hops —
      PAST the FP_SHIFT_SCAN window, so no in-window alignment exists
      and the best-scan Jaccard stays low even though the overlap
      ratio would pass); pins that trim tolerance is bounded by the
      scan, not unconditional containment matching. Both singletons
      at both tiers (d0's half-rate band walk is distinct from a0's).
    - b0: a distinct signal (down-chirp) — singleton at both tiers.
    - b1: a 40% truncation OF B0 — above the FP_MIN_ACTIVE evidence
      floor and an exact prefix (Jaccard 1.0 over the overlap), but
      fails the overlap-ratio containment guard (10/29 < 0.5) and has
      no intermediate truncation to chain through (unlike the a
      family, where a shorter cut would reach a0 transitively via
      a3); stays OUT — the guard's clean fixture.
    - c0: silence (degenerate), e0: typed error row — never grouped.
    """
    sr = 16_000
    up = _chirp(sr, sr, 200.0, 2000.0)
    down = _chirp(sr, sr, 2000.0, 200.0)
    slow = _chirp(2 * sr, sr, 200.0, 2000.0)  # 2 s sweep, half the rate
    return [
        ("a0", _wav(up, sr), "wav", sr),
        ("a1", _wav(_noisy(up, 20.0), sr), "wav", sr),
        ("a2", _wav(_noisy(up, 15.0), sr), "wav", sr),
        ("a3", _wav(up[: int(0.6 * sr)], sr), "wav", sr),
        ("a4", _wav(up[int(0.2 * sr):], sr), "wav", sr),
        ("b0", _wav(down, sr), "wav", sr),
        ("d0", _wav(slow, sr), "wav", sr),
        ("t0", _wav(slow[int(0.7 * sr):], sr), "wav", sr),
        ("b1", _wav(down[: int(0.4 * sr)], sr), "wav", sr),
        ("c0", _wav(np.zeros(sr), sr), "wav", sr),
        ("e0", _wav(up, sr), "speex", sr),
    ]


# Frozen output of derive_subfp_expected() (tests/test_audio_fp.py) —
# the by-construction truth for the audio_subfp_docs gate. a1/a2
# (20/15 dB noisy twins), a3 (60% truncation) and a4 (200 ms start-
# crop) group with a0 ONLY at the subfp tier; b1 (40% truncation of
# b0) is containment-guarded out of both; t0 (700 ms crop of d0, past
# the shift-scan window) stays out on Jaccard (measured 0.11 at best
# scan vs 0.875 for the in-window a4) even though its overlap ratio
# (0.63) would pass. Regenerated once in round 8 for the trim-
# robustness upgrade (coarse-cell probes + shift-scan verify) —
# existing rows were drift-free under the new kernels; a4/d0/t0 are
# the new pins.
# Row: (clip_id, err, n_subfp, fp_degenerate, subfp_group, fp64_group).
SUBFP_EXPECTED: list[tuple] = [
    ("a0", None, 29, False, "a0", "a0"),
    ("a1", None, 29, False, "a0", "a1"),
    ("a2", None, 29, False, "a0", "a2"),
    ("a3", None, 16, False, "a0", "a3"),
    ("a4", None, 23, False, "a0", "a4"),
    ("b0", None, 29, False, "b0", "b0"),
    ("b1", None, 10, False, "b1", "b1"),
    ("c0", None, 29, True, "c0", "c0"),
    ("d0", None, 60, False, "d0", "d0"),
    ("e0", "codec_not_whitelisted", 0, True, "e0", "e0"),
    ("t0", None, 38, False, "t0", "t0"),
]


# Frozen output of derive_expected() — regenerated ONLY on a deliberate
# fingerprint-semantics change (tests/test_audio_fp.py trips first).
# Regenerated once (round 8): zero shingles now ABSTAIN from the fp64
# vote, so the all-zero stream (fids 10/11) is fp64=0 instead of the
# splitmix64(0) constant — the datagen drive showed every sparse
# semi-stationary clip collapsing onto that constant and false-
# grouping at hamming 0. All ACTIVE rows are dense streams and their
# fp64 values are bit-identical to the pre-abstention freeze; the
# hand-pin arithmetic lives in tests/test_audio_fp.py.
# Row: (fid, err, n_subfp, fp64, fp_degenerate, group_id).
EXPECTED: list[tuple] = [
    (0, None, 29, -3708580224821936097, False, 0),
    (1, None, 29, -3708580224821936097, False, 0),
    (2, None, 29, -3708580224821936097, False, 0),
    (3, None, 29, -3708580224821936097, False, 0),
    (4, None, 29, -3708580224821936097, False, 0),
    (5, None, 29, -3708580224821936097, False, 0),
    (6, None, 29, -7347613887059716282, False, 6),
    (7, None, 29, 1554361265815463509, False, 7),
    (8, None, 29, 4059024764731852392, False, 8),
    (9, None, 29, 5336930112799863988, False, 9),
    (10, None, 29, 0, True, 10),
    (11, None, 29, 0, True, 11),
    (12, "codec_not_whitelisted", 0, 0, True, 12),
    (13, "empty_bytes", 0, 0, True, 13),
    (14, None, 0, 0, True, 14),
]


# --- incremental-ingest gate corpus (audio_increment_docs) ---
# The committed base is the subfp corpus minus the rows that arrive
# as the increment; the increment exercises every incremental path:
# cross-attach (a1/a2 noisy twins, a4 trim — all match committed a0),
# past-window reject (t0), a new-new pair the base has never seen
# (x0/x1 — founds a new group), a degenerate row (z0) and a typed
# error row (e1).
INCREMENT_BASE_IDS = ("a0", "a3", "b0", "b1", "c0", "d0", "e0")


def build_increment_rows() -> list[tuple[str, bytes | None, str | None, int | None]]:
    sr = 16_000
    rows = {cid: (cid, b, c, s) for cid, b, c, s in build_subfp_rows()}
    # a signal family the base corpus lacks: AM tone (stationary
    # carrier, moving energy). NOT another chirp — two linear chirps
    # with similar sweep rates produce similar band-delta sign
    # patterns up to a time offset (the H&K bits encode local band
    # movement), and a 500->1500 Hz probe measurably matched t0's
    # 900->2000 Hz tail through the shift scan.
    x = _am(sr, sr, 1200.0, 7.0)
    return [
        rows["a1"],
        rows["a2"],
        rows["a4"],
        rows["t0"],
        ("x0", _wav(x, sr), "wav", sr),
        ("x1", _wav(_noisy(x, 20.0), sr), "wav", sr),
        ("z0", _wav(np.zeros(sr), sr), "wav", sr),
        ("e1", rows["a0"][1], "speex", sr),
    ]


# Frozen output of derive_increment_expected()
# (tests/test_audio_dedup_increment.py) — the audio_increment gate
# truth: a1/a2/a4 attach to the committed a0 group, t0 keeps
# (past the scan window), x1 drops into the NEW x0 group founded by
# the increment, z0/e1 stay degenerate/error singletons.
# Row: (clip_id, err, n_subfp, fp_degenerate, group_id, decision).
INCREMENT_EXPECTED: list[tuple] = [
    ("a1", None, 29, False, "a0", "drop_audio_dup"),
    ("a2", None, 29, False, "a0", "drop_audio_dup"),
    ("a4", None, 23, False, "a0", "drop_audio_dup"),
    ("e1", "codec_not_whitelisted", 0, True, "e1", "error"),
    ("t0", None, 38, False, "t0", "keep"),
    ("x0", None, 29, False, "x0", "keep"),
    ("x1", None, 29, False, "x0", "drop_audio_dup"),
    ("z0", None, 29, True, "z0", "keep_degenerate"),
]


# --- snippet containment-search gate corpus (audio_snippet_docs) ---
# Index: two long composite clips (distinct segment families), a
# distinct filler, a degenerate and an error row. Queries: cuts from
# the composites (integer-hop, worst-case sub-hop, 20 dB noisy), a
# distinct-control snippet, a degenerate and an error query. Truth is
# known by construction: each cut matches exactly its source clip at
# the cut position.
def _snippet_hay0(sr: int) -> np.ndarray:
    """20 s composite: AM tone | up chirp | hash noise | down chirp."""
    return np.concatenate(
        [
            _am(5 * sr, sr, 700.0, 3.0),
            _chirp(5 * sr, sr, 200.0, 2000.0),
            0.3 * _hashnoise(5 * sr),
            _chirp(5 * sr, sr, 2000.0, 200.0),
        ]
    )


def _snippet_hay1(sr: int) -> np.ndarray:
    """10 s composite from a different segment family."""
    return np.concatenate(
        [_am(5 * sr, sr, 420.0, 6.0), _chirp(5 * sr, sr, 2600.0, 900.0)]
    )


def build_snippet_index_rows() -> list[tuple]:
    sr = 16_000
    return [
        ("h0", _wav(_snippet_hay0(sr), sr), "wav", sr),
        ("h1", _wav(_snippet_hay1(sr), sr), "wav", sr),
        ("f0", _wav(_am(5 * sr, sr, 1000.0, 2.0), sr), "wav", sr),
        ("c0", _wav(np.zeros(sr), sr), "wav", sr),
        ("e0", _wav(_am(sr, sr, 500.0, 4.0), sr), "speex", sr),
    ]


def build_snippet_query_rows() -> list[tuple]:
    sr = 16_000
    h0, h1 = _snippet_hay0(sr), _snippet_hay1(sr)
    cut0 = (5 * sr) - ((5 * sr) % 512)  # integer-hop boundary
    return [
        ("q_exact", _wav(h0[cut0:cut0 + 3 * sr], sr), "wav", sr),
        (
            "q_subhop",
            _wav(h0[int(5.013 * sr):int(8.013 * sr)], sr),
            "wav",
            sr,
        ),
        ("q_noisy", _wav(_noisy(h0[cut0:cut0 + 3 * sr], 20.0), sr), "wav", sr),
        ("q_h1", _wav(h1[int(6.2 * sr):int(9.2 * sr)], sr), "wav", sr),
        # the control is the AM probe that measurably shares a couple
        # of COINCIDENTAL shingle keys with h0 (2 < FP_SNIPPET_MIN_
        # SHARED) — it exercises the evidence floor, not just key
        # disjointness
        ("q_ctrl", _wav(_am(3 * sr, sr, 1500.0, 11.0), sr), "wav", sr),
        ("q_deg", _wav(np.zeros(3 * sr), sr), "wav", sr),
        ("q_err", _wav(_am(sr, sr, 500.0, 4.0), sr), "speex", sr),
    ]


# Frozen output of derive_snippet_expected()
# (tests/test_audio_snippet.py): the three h0 cuts land on h0 at the
# cut position (156 hops = 5 s; the sub-hop cut one hop later), the h1
# cut on h1 only (194 hops = 6.2 s); the control/degenerate/error
# queries match nothing.
# Row: (qid, clip_id, jaccard, pos).
SNIPPET_EXPECTED: list[tuple] = [
    ("q_exact", "h0", 1.0, 156),
    ("q_h1", "h1", 0.931034, 194),
    ("q_noisy", "h0", 0.607527, 156),
    ("q_subhop", "h0", 0.861538, 157),
]
