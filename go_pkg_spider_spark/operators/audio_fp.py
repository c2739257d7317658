"""Robust audio fingerprint + cross-codec near-duplicate grouping.

The real-world audio dedup problem at corpus scale is NOT byte-exact
dedup: the same clip recurs re-containerized (WAV vs FLAC vs AIFF),
re-quantized (16- vs 24-bit), or resampled — every byte differs while
the audio is identical. This module implements the Haitsma & Kalker
fingerprint ("A Highly Robust Audio Fingerprinting System", ISMIR
2002 — public literature): per overlapping frame, log-spaced band
energies; each bit is the SIGN of the band-energy difference's
time-derivative, so the fingerprint encodes spectro-temporal shape
and is invariant to container, word width, and gain.

Reference analog: the exact-hash frontier dedup (url.go seen-set /
crawler.go de-dup) is the byte-exact half; this is its perceptual
twin for the north-star's audio payload, composed with the SAME
downstream group machinery as text near-dup (operators/dedup.py
simhash pigeonhole blocks -> operators/components.py components).

Scale shape (SURVEY.md §4.3 confinement): decode + fingerprint run in
ONE mapInArrow stage — PCM never crosses a shuffle; only (clip_id,
fp64, n_subfp, flags) leave, ~20 bytes/clip. Grouping shuffles once
on (block_idx, 8-bit block value) with capped buckets, then O(log n)
component rounds. A stationary clip (silence, constant tone) has zero
spectro-temporal change, so ALL its bits are zero — a known property
of the scheme, surfaced as `fp_degenerate` and EXCLUDED from grouping
(otherwise every silent clip on earth lands in one group).

Two matching tiers share the fingerprint stage:

- fp64 tier (audio_fp_pairs/audio_neardup_groups): one 64-bit
  shingle-simhash key per clip, 8x8-bit pigeonhole blocking, exact
  recall at hamming <= 7. ~20 bytes/clip; re-encode transforms are
  exact, additive noise groups to 40 dB SNR.
- sub-fingerprint tier (audio_subfp_pairs/audio_subfp_neardup_groups):
  retains the packed subfp stream (<= 8 KiB/clip), blocks on coarse
  (cell, value) probes, verifies by bit-set Jaccard at the best
  shift-scanned alignment — recovers 30/20/10 dB noise, non-integer
  resample round-trips, band-limiting, clipping, and trimmed
  re-uploads up to FP_SHIFT_SCAN hops, all of which the 64-bit
  compression loses (measured, BENCH/BASELINE.md robustness table).

Determinism: closed-form math only (rfft, reduceat, splitmix64 — the
public-domain Steele/Lea/Vigna mix); no RNG, no library slots.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import map_rows
from .audio_features import linear_resample
from .bucketing import capped_buckets, pair_array
from .components import connected_components
from .decode import decode_blob

# Canonical analysis rate: band content tops out at FP_BAND_HI well
# under the 4 kHz Nyquist, so any source rate >= 8 kHz carries the
# fingerprint's whole spectral support and resampled twins agree.
FP_SR = 8_000
FP_FRAME = 512  # 64 ms @ 8 kHz
FP_HOP = 256  # 50% overlap
FP_N_BANDS = 17  # 17 bands -> 16 adjacent-band differences -> 16 bits
FP_BAND_LO = 300.0
FP_BAND_HI = 3_000.0
FP_SHINGLE = 4  # consecutive subfps packed into one 64-bit shingle
FP_MAX_SUBFP = 4_096  # ~2 min of audio; caps per-row cost at 100 TB
# Tie guard: a bit fires only when the spectro-temporal delta exceeds
# FP_TIE_EPS x the transition's total frame energy. Without it, bits
# in bands the signal never visits are leakage-level numeric noise and
# flip under re-quantization (measured: 16-bit quantization perturbs
# |dd|/E_total by <= 5.7e-5 on the fixture chirp; active-band deltas
# are ~0.2). 1e-3 sits ~17x above the 16-bit noise ceiling and ~200x
# below real deltas; 8-bit twins are OUTSIDE the contract (their
# quantization perturbation ~1e-2 crosses the guard).
FP_TIE_EPS = 1e-3

# --- sub-fingerprint matcher knobs (the noise-robust tier) ---
# Candidate blocking probes the FIRST FP_PROBE_N NONZERO stream
# positions, each encoded (cell << 16) | value where cell =
# pos // FP_PROBE_GRAIN, emitted for the position's OWN cell and the
# one before it. The coarse cell (not the exact position) is what
# survives a trimmed re-upload: a crop of d <= FP_PROBE_GRAIN
# positions shifts every pos by -d, moving its cell index by at most
# one — which the double emission covers — while the 16-bit value
# still has to agree exactly (selectivity lives in the value; the
# robustness table measures ~half the values surviving even worst-
# case sub-hop misalignment, so P(all FP_PROBE_N probes miss) is
# negligible for a true twin). Before round 8's trim sweep the key
# was the EXACT position: any crop >= one hop (32 ms) left a twin
# with zero shared probes (measured rows trim_start_{32,100,500}ms).
# Probing ACTIVE positions — not a fixed stride — matters
# on realistic sparse corpora: a burst-in-silence clip can be
# eligible (>= FP_MIN_ACTIVE) yet have every fixed-stride position
# zero, so stride probes gave such twins NO blocking key at all
# (found driving the datagen corpus through --tier subfp: 0 pairs
# where the fp64 tier found the re-encode dups). cell <= 256 at
# FP_MAX_SUBFP = 4096 keeps the encoding inside int32.
FP_PROBE_N = 32
# One probe cell = this many stream positions (16 x 32 ms hop =
# 512 ms). Paired with FP_SHIFT_SCAN below: blocking tolerates trims
# up to one cell, verify scans the same window, so the two stages
# degrade together rather than blocking what verify cannot score.
FP_PROBE_GRAIN = 16
# Verify scans relative alignments in [-FP_SHIFT_SCAN, +FP_SHIFT_SCAN]
# stream positions (+-512 ms) and scores the best one — an arbitrary
# trim decomposes into an integer-hop shift (recovered exactly by the
# scan) plus a sub-hop residual (< one 32 ms hop), and the measured
# trim_start_4ms row shows bit-set Jaccard holds 0.81 under the
# worst-case residual. Cost: 2*FP_SHIFT_SCAN+1 popcount passes over
# <= 4096-word uint16 arrays, pair volume only. The scan is further
# capped at half the SHORTER stream inside the kernel: shifting past
# that compares a fragment smaller than half the evidence, which is
# structurally meaningless (only toy-short streams ever hit the cap —
# a 1 s clip has ~29 subfps; production minutes-long clips have
# hundreds).
FP_SHIFT_SCAN = 16
# A match found at a NONZERO shift must clear min_jaccard plus this
# penalty: taking the max over up to 2*FP_SHIFT_SCAN+1 alignments
# inflates the null (measured on the datagen 500-clip drive: three
# DISTINCT sparse pairs moved from aligned Jaccard 0.28-0.33 —
# correctly rejected — to scanned 0.40-0.41, hugging the 0.4 line;
# the dense-probe control inflates 0.03 -> 0.09). True trim twins
# measure 0.58-1.0 (robustness rows), so the +0.1 bar rejects every
# observed max-statistic false positive while keeping every measured
# true recovery. Aligned (shift 0) matches keep the un-penalized
# threshold — the pre-scan semantics exactly.
FP_SHIFT_PENALTY = 0.1
# A candidate pair must agree on at least this many DISTINCT 16-bit
# subfp VALUES among its shared (cell, value) probes before it is
# worth verifying: one value coinciding in one coarse cell is a
# 1-in-65536-per-site accident, not evidence (measured on the datagen
# drive: the single coarse-blocking false candidate that scraped the
# Jaccard bar — aligned 0.404 between two DISTINCT dense streams,
# where the bit-set null centers ~0.33 — shared exactly ONE value;
# every true twin class shares many: re-encodes all ~29, trims ~16,
# 10 dB noise ~6). Distinct VALUES, not raw probes, because one
# agreement site can emit two shared probes (own + previous cell).
FP_MIN_SHARED_SITES = 2
# Verify = Jaccard over SET BITS of the best-aligned overlap, not H&K's
# bit-error rate: the tie guard makes our streams sparse, and raw BER
# between two sparse DISTINCT signals measures 0.13-0.21 (under the
# 0.35 H&K cut) while bit-set Jaccard separates cleanly — measured
# twins >= 0.73 down to 10 dB SNR vs distinct <= 0.12
# (BENCH/BASELINE.md robustness table). 0.4 splits the margin.
FP_SUBFP_JACCARD = 0.4
# A pair must overlap in at least this fraction of the longer stream:
# a short prefix fragment inside a long clip verifies with high
# Jaccard over the overlap; whether that is "the same clip" is a
# policy dial, defaulted to half.
FP_MIN_OVERLAP_RATIO = 0.5
# Minimum-evidence floor: a stream with fewer nonzero sub-fingerprints
# than this is flagged fp_degenerate — too little spectro-temporal
# structure for EITHER tier to assert identity. Found by driving the
# datagen corpus: semi-stationary clips with 1..6 active subfps out of
# ~123 slipped past the all-equal degenerate rule, and (before the
# abstention vote above) all collapsed to the splitmix64(0) fp64 and
# false-grouped at hamming 0. 8 nonzero transitions ~ a quarter second
# of actual spectral movement.
FP_MIN_ACTIVE = 8

_WINDOW = np.hanning(FP_FRAME)

# 16-bit popcount lookup (64 KiB, built once per executor import) —
# vectorizes bit-set intersection/union over uint16 subfp words.
_POPCOUNT16 = np.unpackbits(
    np.arange(65536, dtype=np.uint16).view(np.uint8).reshape(-1, 2), axis=1
).sum(axis=1, dtype=np.uint8)

# rfft bin k sits at k * FP_SR / FP_FRAME Hz; geometric band edges over
# [LO, HI] mapped to bin boundaries once at import. searchsorted keeps
# the boundaries monotone; the narrowest band (300–343 Hz) still spans
# ~2.8 bins at the 15.625 Hz bin width, so no band collapses to empty.
_EDGES_HZ = FP_BAND_LO * (FP_BAND_HI / FP_BAND_LO) ** (
    np.arange(FP_N_BANDS + 1) / FP_N_BANDS
)
_BIN_FREQS = np.fft.rfftfreq(FP_FRAME, d=1.0 / FP_SR)
_EDGE_BINS = np.searchsorted(_BIN_FREQS, _EDGES_HZ)

_SPLITMIX_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SPLITMIX_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_M2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constants)."""
    z = x.astype(np.uint64) + _SPLITMIX_GAMMA
    z = (z ^ (z >> np.uint64(30))) * _SPLITMIX_M1
    z = (z ^ (z >> np.uint64(27))) * _SPLITMIX_M2
    return z ^ (z >> np.uint64(31))


def subfingerprints(pcm: np.ndarray, sr: int) -> np.ndarray:
    """uint16 sub-fingerprint per frame transition.

    bit b of frame t: (E[t,b]-E[t,b+1]) - (E[t-1,b]-E[t-1,b+1]) >
    FP_TIE_EPS*(E_tot[t]+E_tot[t-1]) — the H&K bit with a relative
    tie guard (see FP_TIE_EPS), over FP_N_BANDS log-spaced
    power-spectrum bands of Hann-windowed FP_FRAME frames at the
    canonical FP_SR. Returns an empty array for clips shorter than
    two frames.
    """
    res = linear_resample(np.asarray(pcm, dtype=np.float64), sr, FP_SR)
    if res.size < FP_FRAME + FP_HOP:
        return np.empty(0, dtype=np.uint16)
    n = 1 + (res.size - FP_FRAME) // FP_HOP
    n = min(n, FP_MAX_SUBFP + 1)  # +1: T frames -> T-1 transitions
    idx = np.arange(FP_FRAME)[None, :] + FP_HOP * np.arange(n)[:, None]
    frames = res[idx] * _WINDOW[None, :]
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    # reduceat over the precomputed bin boundaries: E is (n, FP_N_BANDS)
    energy = np.add.reduceat(power, _EDGE_BINS[:-1], axis=1)[
        :, : FP_N_BANDS
    ]
    d_spec = energy[:, :-1] - energy[:, 1:]  # (n, 16)
    e_tot = energy.sum(axis=1)  # (n,)
    thr = FP_TIE_EPS * (e_tot[1:] + e_tot[:-1])[:, None]
    bits = (d_spec[1:] - d_spec[:-1]) > thr  # (n-1, 16)
    weights = (np.uint16(1) << np.arange(15, -1, -1, dtype=np.uint16))[None, :]
    return (bits.astype(np.uint16) * weights).sum(axis=1, dtype=np.uint16)


def fp64_of_subfps(subs: np.ndarray) -> int:
    """64-bit SimHash over splitmix64 hashes of FP_SHINGLE-length
    sub-fingerprint shingles (Charikar 2002 vote, same semantics as
    dedup.simhash64: bit=1 iff strictly more than half vote 1).
    Signed int64 for Spark LongType.

    ALL-ZERO SHINGLES ABSTAIN (no spectro-temporal activity is no
    evidence, the subfp_match_stats rule): when they voted, any
    stream whose zero-shingle mass crossed 50% collapsed to the
    constant splitmix64(0) — on a realistic semi-stationary corpus
    EVERY sparse clip shared that fp64 and false-grouped at hamming 0
    (found by driving the datagen corpus; see the sparse-stream note
    on FP_MIN_ACTIVE). Empty or fully-silent input -> 0."""
    subs = np.asarray(subs, dtype=np.uint64)
    if subs.size == 0:
        return 0
    if subs.size < FP_SHINGLE:
        subs = np.pad(subs, (0, FP_SHINGLE - subs.size))
    n_sh = subs.size - FP_SHINGLE + 1
    shingles = np.zeros(n_sh, dtype=np.uint64)
    for j in range(FP_SHINGLE):
        shingles |= subs[j : j + n_sh] << np.uint64(16 * (FP_SHINGLE - 1 - j))
    shingles = shingles[shingles != 0]
    if shingles.size == 0:
        return 0
    hs = _splitmix64(shingles)
    shifts = np.arange(64, dtype=np.uint64)
    votes = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).sum(axis=0)
    bits = (votes * 2 > shingles.size).astype(np.uint64)
    return int((bits << shifts).sum(dtype=np.uint64).astype(np.int64))


def pack_subfps(subs: np.ndarray) -> bytes:
    """uint16 sub-fingerprint stream -> little-endian packed bytes
    (2 bytes/subfp; <= 8 KiB at FP_MAX_SUBFP)."""
    return np.asarray(subs, dtype="<u2").tobytes()


def unpack_subfps(packed: bytes) -> np.ndarray:
    return np.frombuffer(packed, dtype="<u2")


def probe_vector(subs: np.ndarray) -> list[int]:
    """The blocking probes: (cell << 16) | value for the first
    FP_PROBE_N NONZERO stream positions, where cell =
    pos // FP_PROBE_GRAIN, emitted at the position's cell AND the
    previous cell (trim tolerance — see the knob comment), ascending
    encoded, deduplicated. Never empty for an eligible stream
    (eligibility requires >= FP_MIN_ACTIVE nonzero subfps); an
    encoded probe is never 0 (value != 0)."""
    nz = np.flatnonzero(subs)[:FP_PROBE_N]
    if nz.size == 0:
        return []
    cells = nz // FP_PROBE_GRAIN
    vals = subs[nz].astype(np.int64)
    enc = (cells.astype(np.int64) << 16) | vals
    prev = ((cells - 1).astype(np.int64) << 16) | vals
    both = np.concatenate([enc, prev[cells >= 1]])
    return [int(p) for p in np.unique(both)]


def subfp_match_stats(a: bytes, b: bytes) -> tuple[float, float, int]:
    """(bit-set Jaccard at the best relative alignment, overlap ratio
    of that alignment over the longer stream, the winning shift)
    between two packed subfp streams — the verify kernel. Scans
    integer shifts s in 0, +1, -1, ... (a[i+s] against b[i]) out to
    min(FP_SHIFT_SCAN, min_len // 2) — see the FP_SHIFT_SCAN knob for why
    the cap — keeping the strictly-best Jaccard, so ties resolve to
    the smallest shift and the scan is deterministic; a trimmed
    re-upload aligns at s = (hops cropped) and scores like the
    untrimmed twin (robustness rows trim_start_*). The overlap ratio
    shrinks with |s| — the containment guard stays conservative.
    Zero-activity overlap (both streams silent there) scores 0.0: no
    evidence is not a match. Callers threshold shift != 0 matches at
    min_jaccard + FP_SHIFT_PENALTY (subfp_pair_passes)."""
    sa, sb = unpack_subfps(a), unpack_subfps(b)
    if min(sa.size, sb.size) == 0:
        return 0.0, 0.0, 0
    denom = float(max(sa.size, sb.size))
    max_shift = min(FP_SHIFT_SCAN, min(sa.size, sb.size) // 2)
    best_jac, best_ratio, best_s = -1.0, 0.0, 0
    for k in range(2 * max_shift + 1):
        s = (k + 1) // 2 if k % 2 else -(k // 2)  # 0,+1,-1,+2,-2,...
        wa = sa[s:] if s >= 0 else sa
        wb = sb if s >= 0 else sb[-s:]
        m = min(wa.size, wb.size)
        if m <= 0:
            continue
        union = int(_POPCOUNT16[wa[:m] | wb[:m]].sum())
        jac = int(_POPCOUNT16[wa[:m] & wb[:m]].sum()) / union if union else 0.0
        if jac > best_jac:
            best_jac, best_ratio, best_s = jac, m / denom, s
    return float(max(best_jac, 0.0)), best_ratio, best_s


def probe_shared_sites(pa, pb) -> int:
    """Number of DISTINCT 16-bit subfp values among the shared
    (cell, value) probes of two probe vectors — the blocking evidence
    count thresholded by FP_MIN_SHARED_SITES (see the knob comment).
    Mirrored as column math in audio_subfp_pairs; shared here for the
    fixture truth derivation and the robustness tool."""
    return len({p & 0xFFFF for p in set(pa) & set(pb)})


def subfp_pair_passes(
    jac: float,
    ratio: float,
    shift: int,
    min_jaccard: float = FP_SUBFP_JACCARD,
    min_overlap_ratio: float = FP_MIN_OVERLAP_RATIO,
) -> bool:
    """The ONE acceptance predicate for a verified subfp pair, shared
    by the Spark verify stage, the fixture truth derivation, and the
    robustness tool (so the gates exercise exactly the production
    rule): overlap-ratio containment floor, plus Jaccard over
    min_jaccard — penalized by FP_SHIFT_PENALTY when the best
    alignment was found by the scan rather than at shift 0 (the
    max-statistic correction; see the knob comment)."""
    bar = min_jaccard + (FP_SHIFT_PENALTY if shift != 0 else 0.0)
    return jac >= bar and ratio >= min_overlap_ratio


def _fp_row_full(cid, blob, codec, sr_hz) -> tuple:
    """One AUDIO_FP_FULL_SCHEMA row: the AUDIO_FP_SCHEMA fields, then
    the packed subfp stream and the blocking probes. The pure per-row
    kernel of both fingerprint operators and of the frozen-truth
    fixture oracles, so those gates exercise the production code path
    (the features_for_clip convention)."""
    pcm, sr_dec, err = decode_blob(blob, codec, sr_hz)
    if pcm is None:
        return (cid, err, 0, 0, True, b"", [])
    subs = subfingerprints(pcm, sr_dec)
    # insufficient spectro-temporal variation carries no identity —
    # flag it out of grouping: empty / constant streams (silence, pure
    # stationary tone, sub-two-frame clip) and streams under the
    # FP_MIN_ACTIVE evidence floor (sparse semi-stationary clips)
    degenerate = bool(
        subs.size == 0
        or (subs == subs[0]).all()
        or int((subs != 0).sum()) < FP_MIN_ACTIVE
    )
    return (
        cid,
        None,
        int(subs.size),
        fp64_of_subfps(subs),
        degenerate,
        pack_subfps(subs),
        probe_vector(subs),
    )


AUDIO_FP_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("err", StringType()),
        StructField("n_subfp", IntegerType()),
        StructField("fp64", LongType()),
        StructField("fp_degenerate", BooleanType()),
    ]
)


def _fingerprint(df: DataFrame, schema: StructType) -> DataFrame:
    """clips(clip_id, bytes, codec, sr_hz) -> the leading fields of
    _fp_row_full that `schema` names, in one mapInArrow pass; PCM and
    the per-frame spectra die inside the stage (the
    extract_audio_features confinement shape)."""
    width = len(schema.fields)
    return map_rows(
        df.select("clip_id", "bytes", "codec", "sr_hz"),
        lambda *row: [_fp_row_full(*row)[:width]],
        schema,
    )


def fingerprint_clips(df: DataFrame) -> DataFrame:
    """clips -> AUDIO_FP_SCHEMA rows, ~20 bytes/clip: the packed stream
    never leaves the UDF."""
    return _fingerprint(df, AUDIO_FP_SCHEMA)


AUDIO_FP_FULL_SCHEMA = StructType(
    list(AUDIO_FP_SCHEMA.fields)
    + [
        StructField("subfps", BinaryType()),
        StructField("probes", ArrayType(IntegerType())),
    ]
)


def fingerprint_clips_full(df: DataFrame) -> DataFrame:
    """fingerprint_clips plus the packed subfp stream (<= 8 KiB/clip)
    and the positional blocking probes — the input of the noise-robust
    sub-fingerprint matcher (audio_subfp_pairs). Same single
    mapInArrow confinement; the stream is ~400x smaller than the PCM
    it summarizes, so retaining it does not reopen the payload-shuffle
    problem the fp64 projection exists to avoid."""
    return _fingerprint(df, AUDIO_FP_FULL_SCHEMA)


def _eligible(fp: DataFrame) -> DataFrame:
    return fp.filter(F.col("err").isNull() & ~F.col("fp_degenerate")).select(
        "clip_id", "fp64"
    )


def audio_fp_pairs(
    fp: DataFrame,
    max_hamming: int = 7,
    max_bucket_size: int = 1024,
    observation=None,
) -> DataFrame:
    """(id_a, id_b, hamming) candidate near-dup pairs over decoded
    non-degenerate fingerprints — the materializable middle stage of
    the composed audio dedup job (jobs/run_audio_dedup.py commits this
    table so the component rounds never re-run the fingerprint UDF).

    Candidate generation is the simhash pigeonhole (dedup.py): 8
    blocks of 8 bits guarantee any pair within hamming <= 7 collides
    on at least one exact block; hot blocks are capped (a viral jingle
    cannot quadratically explode one bucket — drop accounting via
    `observation`). One shuffle on (blk_idx, blk)."""
    cand = _eligible(fp)
    blocked = cand.select(
        "clip_id",
        "fp64",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("fp64"), i * 8).bitwiseAND(F.lit(0xFF))
                    for i in range(8)
                ]
            )
        ).alias("blk_idx", "blk"),
    )
    buckets = capped_buckets(
        blocked,
        ["blk_idx", "blk"],
        F.struct("clip_id", "fp64"),
        max_bucket_size,
        observation=observation,
    )
    # canonical-block emission: a near pair collides in up to 8 blocks
    # and would be generated (and shuffled through dropDuplicates) up
    # to 8x — keep it only in the FIRST block where the two keys agree
    # (computable from the pair itself), so each pair is emitted exactly
    # once and the dedup shuffle carries 1/8th the rows. Exact while no
    # bucket hits the cap; under cap pressure a pair can be rank-dropped
    # from its canonical block's bucket yet survive in a later one, and
    # this filter would drop it — the same lossiness regime the cap
    # already puts us in, and the drop accounting flags it loudly.
    xor = F.col("p.a.fp64").bitwiseXOR(F.col("p.b.fp64"))
    first_match = F.array_position(
        F.array(
            *[
                F.shiftright(xor, i * 8).bitwiseAND(F.lit(0xFF)) == 0
                for i in range(8)
            ]
        ),
        True,
    )
    return (
        buckets.select(
            "blk_idx", F.explode(pair_array(F.col("ms"))).alias("p")
        )
        .filter(first_match == F.col("blk_idx") + 1)
        .select(
            F.col("p.a.clip_id").alias("id_a"),
            F.col("p.b.clip_id").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        # no dropDuplicates: canonical emission + i<j pair_array make
        # each unordered pair unique by construction (one shuffle saved;
        # pinned by test_audio_fp::test_pairs_match_brute_force)
    )


def audio_neardup_groups(
    fp: DataFrame,
    max_hamming: int = 7,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """(clip_id, group_id) for EVERY input row: decoded non-degenerate
    clips within fp64 hamming <= max_hamming join a group labeled by
    its smallest clip_id; error rows and degenerate fingerprints stay
    singleton (group_id = clip_id). Pairs via audio_fp_pairs, then
    O(log n) component rounds over the pair list.

    The fp lineage is cut ONCE up front (lazy localCheckpoint of the
    ~20-byte/clip projection): this function references fp three times
    (pair blocking, the component node set, the final left join), and
    an unmaterialized fingerprint_clips lineage would re-run the
    decode+FFT UDF per reference — measured 3x the job's real cost at
    100k clips (the round-4 re-execution-per-reference class). The
    composed job (jobs/run_audio_dedup.py) materializes fingerprints
    to a parquet stage instead and never hits this path."""
    fp = fp.select("clip_id", "fp64", "fp_degenerate", "err").localCheckpoint(
        eager=False
    )
    pairs = audio_fp_pairs(fp, max_hamming, max_bucket_size)
    # components over PAIR ENDPOINTS only (nodes=None): clips in no
    # pair are singletons by definition and the left-join coalesce
    # below labels them — a corpus-wide node set would drag O(corpus)
    # rows through every iterative round instead of O(near-dup
    # members). Measured at 100k clips / 313k pairs (local[8]): the
    # corpus-node version scaled INVERSELY 2->8 (30->51s, per-round
    # label tables at corpus size); endpoint-only removes that term
    # (~31s both levels — what remains is pair-volume work plus the
    # iterative rounds' fixed job latency, which amortizes once pair
    # volume grows past toy scale). BENCH/R8_NOTES.md has the table.
    comp = connected_components(pairs, id_col="id")
    return fp.select("clip_id").join(
        comp, fp["clip_id"] == comp["id"], "left"
    ).select(
        "clip_id",
        F.coalesce(F.col("component"), F.col("clip_id")).alias("group_id"),
    )


_SUBFP_PAIR_SCHEMA = StructType(
    [
        StructField("id_a", StringType()),
        StructField("id_b", StringType()),
        StructField("jaccard", DoubleType()),
        StructField("overlap_ratio", DoubleType()),
        # winning alignment in stream positions (32 ms hops): nonzero
        # means the pair matched as a trimmed/offset twin — kept in
        # the output for observability and because the acceptance bar
        # depends on it (subfp_pair_passes)
        StructField("shift", IntegerType()),
    ]
)


def audio_subfp_pairs(
    fpf: DataFrame,
    min_jaccard: float = FP_SUBFP_JACCARD,
    min_overlap_ratio: float = FP_MIN_OVERLAP_RATIO,
    max_bucket_size: int = 1024,
    observation=None,
) -> DataFrame:
    """(id_a, id_b, jaccard, overlap_ratio) noise-robust near-dup
    pairs over fingerprint_clips_full rows — the SUB-fingerprint tier
    the fp64 robustness contract names as its recall upgrade: additive
    noise at 30 dB SNR (hamming ~20, far past the fp64 <= 7 cut) and
    non-integer resample round-trips measure subfp mismatch of only
    12%/32%, so matching the streams directly recovers them
    (measured: twins Jaccard >= 0.73 down to 10 dB vs distinct
    signals <= 0.12 — BENCH/BASELINE.md).

    Shape: block on the encoded (cell << 16 | value) probes — exact
    16-bit agreement inside a FP_PROBE_GRAIN-position cell (own +
    previous cell, so a trim of up to one cell still shares a key),
    over each clip's first FP_PROBE_N ACTIVE positions (at 30 dB an
    active position agrees w.p. ~0.77, so P(miss all 32) ~ 1e-20;
    probing active positions rather than a fixed stride is what gives
    sparse burst-in-silence twins a key at all); capped buckets bound
    hot probes (drop accounting as everywhere); canonical emission
    keeps each pair single — only the bucket whose key is the FIRST
    common element of the two (ascending) probe arrays emits it
    (the audio_fp_pairs trick, computable from the bucket members'
    own vectors). Candidates then join back to the packed streams
    (id-keyed, pair volume only) and verify in one mapInArrow. Cost
    per clip: <= 2*FP_PROBE_N blocking rows + an 8 KiB stream that
    moves only for candidate endpoints."""
    elig = fpf.filter(F.col("err").isNull() & ~F.col("fp_degenerate"))
    blocked = elig.select(
        "clip_id", "probes", F.explode("probes").alias("pv")
    )
    buckets = capped_buckets(
        blocked,
        ["pv"],
        F.struct("clip_id", "probes"),
        max_bucket_size,
        observation=observation,
    )
    # first common probe of the pair: probes are encoded-ascending,
    # so the smallest shared (cell, value) is element 0 of the
    # order-preserving filter; F.get is null-safe on the (impossible
    # for bucket-mates) empty intersection
    shared = F.filter(
        F.col("p.a.probes"),
        lambda x: F.array_contains(F.col("p.b.probes"), x),
    )
    first_common = F.get(shared, F.lit(0))
    # evidence floor: the pair must agree on FP_MIN_SHARED_SITES
    # distinct VALUES, not just one (cell, value) coincidence — the
    # probe_shared_sites rule as column math (probes are <= 64-element
    # int arrays; both references to `shared` are cheap array ops at
    # pair volume, not per-element lambda fan-out)
    sites = F.size(
        F.array_distinct(
            F.transform(shared, lambda x: x.bitwiseAND(F.lit(65535)))
        )
    )
    cand = (
        buckets.select("pv", F.explode(pair_array(F.col("ms"))).alias("p"))
        .filter(
            (first_common == F.col("pv"))
            & (sites >= F.lit(FP_MIN_SHARED_SITES))
        )
        .select(
            F.col("p.a.clip_id").alias("id_a"),
            F.col("p.b.clip_id").alias("id_b"),
        )
    )
    return verify_pairs(fpf, cand, min_jaccard, min_overlap_ratio)


def verify_pairs(
    fpf: DataFrame,
    cand: DataFrame,
    min_jaccard: float = FP_SUBFP_JACCARD,
    min_overlap_ratio: float = FP_MIN_OVERLAP_RATIO,
    fpf_b: DataFrame | None = None,
) -> DataFrame:
    """Stream-verify candidate (id_a, id_b) pairs: join each side back
    to its packed sub-fingerprint stream (id-keyed, pair volume only),
    score bit-set Jaccard at the best shift-scanned alignment +
    overlap ratio in one mapInArrow, keep pairs passing both
    thresholds — the H&K verify step, shared by the subfp tier and
    the composed job's fp64-candidate verification. The scan also
    un-breaks a measured fp64-tier false NEGATIVE: an integer-hop
    trim twin collides at hamming 4 but scored aligned-Jaccard 0.22
    (trim_start_32ms robustness row) — the old aligned-only verify
    would have rejected a true duplicate the fp64 key caught.

    Why verify fp64 candidates at all: driving the datagen corpus
    surfaced a FALSE-dup class — two DIFFERENT sparse clips (few
    active shingles each, just above the FP_MIN_ACTIVE floor) leave
    the 64-bit simhash vote so under-determined that distinct
    burst-in-silence clips collide at hamming <= 7 (measured: 8
    candidate pairs on the 500-clip corpus, ALL with aligned-overlap
    Jaccard 0.09-0.23, i.e. different audio; every true re-encode
    twin scores 1.0). Verification costs one id-keyed join at pair
    volume — negligible next to the decode stage."""
    # fpf_b (optional): the frame id_b keys into when the two pair
    # sides come from DIFFERENT tables (the incremental matcher: id_a
    # is the new batch, id_b the committed index) — each side's join
    # then scans only its own streams, and an id present in both
    # frames cannot fan the pair out
    seqs = fpf.select("clip_id", "subfps")
    seqs_b = (fpf_b if fpf_b is not None else fpf).select("clip_id", "subfps")
    joined = cand.select("id_a", "id_b").join(
        seqs.select(F.col("clip_id").alias("id_a"), F.col("subfps").alias("sub_a")),
        "id_a",
    ).join(
        seqs_b.select(F.col("clip_id").alias("id_b"), F.col("subfps").alias("sub_b")),
        "id_b",
    )

    # the subfp_pair_passes predicate as column math (kept JVM-side):
    # shifted matches pay the max-statistic penalty
    bar = F.when(
        F.col("shift") == 0, F.lit(min_jaccard)
    ).otherwise(F.lit(min_jaccard + FP_SHIFT_PENALTY))
    return (
        map_rows(
            joined.select("id_a", "id_b", "sub_a", "sub_b"),
            lambda a, b, sa, sb: [(a, b, *subfp_match_stats(sa, sb))],
            _SUBFP_PAIR_SCHEMA,
        ).filter(
            (F.col("jaccard") >= bar)
            & (F.col("overlap_ratio") >= min_overlap_ratio)
        )
    )


def audio_subfp_neardup_groups(
    fpf: DataFrame,
    min_jaccard: float = FP_SUBFP_JACCARD,
    min_overlap_ratio: float = FP_MIN_OVERLAP_RATIO,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """(clip_id, group_id) under the sub-fingerprint matcher — the
    audio_neardup_groups contract (every input row labeled, smallest
    member id names the group, error/degenerate rows singleton) with
    the noise-robust pair tier. Same lineage-cut rationale."""
    fpf = fpf.select(
        "clip_id", "subfps", "probes", "fp_degenerate", "err"
    ).localCheckpoint(eager=False)
    pairs = audio_subfp_pairs(
        fpf, min_jaccard, min_overlap_ratio, max_bucket_size
    ).select("id_a", "id_b")
    comp = connected_components(pairs, id_col="id")
    return fpf.select("clip_id").join(
        comp, fpf["clip_id"] == comp["id"], "left"
    ).select(
        "clip_id",
        F.coalesce(F.col("component"), F.col("clip_id")).alias("group_id"),
    )


# --- incremental ingest: match a NEW batch against a committed index ---
# At corpus scale you never re-fingerprint 10^12 committed clips when
# 10^6 new ones arrive: the committed fingerprint table IS the state.
# The matcher below scans the index ONCE, narrowly (clip_id + blocking
# keys; the 8 KiB packed stream column is pruned at the parquet scan
# and moves only for verified-candidate endpoint ids), and never
# self-joins it.

# An index clip may legitimately appear in many new clips' candidate
# lists, but ONE blocking key matching more than this many index rows
# is a hot key (a viral jingle / a degenerate-ish common pattern), the
# same quadratic hazard max_bucket_size caps in the self-join path —
# capped per key with drop accounting, smallest clip_ids kept
# (deterministic, the capped_buckets convention).
FP_MAX_KEY_MATCHES = 1024


def _tier_key_rows(fp: DataFrame, tier: str) -> DataFrame:
    """(clip_id, key) blocking rows for eligible fingerprint rows —
    the SAME keys each tier blocks on in its self-join pair generator,
    as a flat joinable frame: fp64 -> the 8 pigeonhole blocks encoded
    (blk_idx << 8) | byte; subfp -> the coarse (cell << 16) | value
    probes. fp64 rows carry the key's fp64 for the hamming cut."""
    elig = fp.filter(F.col("err").isNull() & ~F.col("fp_degenerate"))
    if tier == "fp64":
        return elig.select(
            "clip_id",
            "fp64",
            F.explode(
                F.array(
                    *[
                        F.shiftright(F.col("fp64"), i * 8)
                        .bitwiseAND(F.lit(0xFF))
                        .bitwiseOR(F.lit(i << 8))
                        for i in range(8)
                    ]
                )
            ).alias("key"),
        )
    return elig.select("clip_id", F.explode("probes").alias("key"))


def audio_fp_match_against(
    index_fpf: DataFrame,
    batch_fpf: DataFrame,
    tier: str = "fp64",
    max_hamming: int = 7,
    max_key_matches: int = FP_MAX_KEY_MATCHES,
    min_jaccard: float = FP_SUBFP_JACCARD,
    min_overlap_ratio: float = FP_MIN_OVERLAP_RATIO,
    observation=None,
) -> DataFrame:
    """(id_a=new clip, id_b=index clip, jaccard, overlap_ratio, shift)
    verified near-dup matches of a new batch against a committed
    fingerprint index (fingerprint_clips_full rows on both sides) —
    the incremental-ingest twin of audio_fp_pairs / audio_subfp_pairs.
    Candidates block on the same per-tier keys as the self-join path
    and are ALWAYS stream-verified (the datagen drive showed raw fp64
    collisions are false on sparse corpora; the committed streams make
    verification an id-keyed join at candidate-pair volume). The subfp
    evidence floor (FP_MIN_SHARED_SITES distinct shared values) falls
    out of the same key-match aggregation that dedupes candidates.

    Shuffle shape: one exchange on the blocking key (index keys are
    rank-capped per key — a window, same exchange), one groupBy at
    key-match volume, one id-keyed verify join at candidate volume.
    The batch side is one ingest batch; nothing here scales with
    index x index."""
    from pyspark.sql.window import Window

    if tier not in ("fp64", "subfp"):
        raise ValueError(f"unknown tier {tier!r} (fp64 | subfp)")
    new_keys = _tier_key_rows(batch_fpf, tier)
    idx_keys = _tier_key_rows(index_fpf, tier)
    ranked = idx_keys.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("key").orderBy("clip_id")),
    )
    if observation is not None:
        ranked = ranked.observe(
            observation,
            F.sum(
                F.when(F.col("rn") > max_key_matches, 1).otherwise(0)
            ).alias("dropped_index_keys"),
            F.max("rn").alias("max_key_matches_seen"),
        )
    idx_kept = ranked.filter(F.col("rn") <= max_key_matches).drop("rn")

    if tier == "fp64":
        cand = (
            new_keys.join(
                idx_kept.select(
                    F.col("clip_id").alias("id_b"),
                    F.col("fp64").alias("fp64_b"),
                    "key",
                ),
                "key",
            )
            .filter(F.col("clip_id") != F.col("id_b"))
            .select(
                F.col("clip_id").alias("id_a"),
                "id_b",
                F.bit_count(
                    F.col("fp64").bitwiseXOR(F.col("fp64_b"))
                ).alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        cand = (
            new_keys.join(
                idx_kept.select(F.col("clip_id").alias("id_b"), "key"), "key"
            )
            .filter(F.col("clip_id") != F.col("id_b"))
            .groupBy(F.col("clip_id").alias("id_a"), "id_b")
            .agg(
                F.count_distinct(
                    F.col("key").bitwiseAND(F.lit(65535))
                ).alias("sites")
            )
            .filter(F.col("sites") >= F.lit(FP_MIN_SHARED_SITES))
            .select("id_a", "id_b")
        )
    return verify_pairs(
        batch_fpf, cand, min_jaccard, min_overlap_ratio, fpf_b=index_fpf
    )


def audio_pairs(
    fpf: DataFrame,
    *,
    tier: str,
    max_bucket_size: int,
    min_jaccard: float,
    min_overlap_ratio: float,
    observation,
    max_hamming: int | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard, overlap_ratio, shift) verified near-dup
    pairs WITHIN one fingerprint_clips_full table, at either tier — the
    self-join twin of audio_fp_match_against, and the one pair
    generator of the composed job's batch run, increment and rematch
    compaction. fp64: pigeonhole candidates (audio_fp_pairs), then
    stream-verified (verify_pairs), since raw fp64 collisions are false
    on sparse corpora; any other tier is subfp: audio_subfp_pairs,
    which verifies itself. The caller validates the tier before it
    decodes anything (run_audio_dedup._tier_params, whose knob dict is
    these keywords); max_hamming only exists on fp64. `observation`
    gets the tier's bucket-cap drop accounting."""
    if tier == "fp64":
        cand = audio_fp_pairs(fpf, max_hamming, max_bucket_size, observation)
        return verify_pairs(fpf, cand, min_jaccard, min_overlap_ratio)
    return audio_subfp_pairs(
        fpf, min_jaccard, min_overlap_ratio, max_bucket_size, observation
    )


# Old-group nodes enter the increment's component graph under this
# prefix: it sorts before every real clip_id, so the min-id component
# label is ALWAYS a committed group when one is reachable — a new
# clip can only found a new group when it matches nothing committed.
_OLD_GROUP_PREFIX = "\x00"


def assign_increment(
    batch_fpf: DataFrame,
    within_pairs: DataFrame,
    cross_matches: DataFrame,
    index_groups: DataFrame,
) -> tuple[DataFrame, int]:
    """Label every NEW clip with a group under incremental semantics:
    committed groups are immutable, a new clip joins the (smallest)
    committed group it verifies against — transitively through other
    new clips — and clips matching nothing committed form new groups
    among themselves exactly like the batch job. Returns (decisions
    for the new rows — the run_audio_dedup decisions schema — plus
    the count of DEFERRED MERGES: components whose new clips bridge
    k >= 2 distinct committed groups contribute k-1 each. Committed
    rows are never rewritten (the committed tables are the immutable
    state the whole incremental design rests on); a deferred merge is
    surfaced as a metric for a later full-recluster run, the standard
    incremental-connected-components tradeoff. The count is a scalar
    aggregate over the (pair-volume) component frame — a bounded
    control-path collect.

    within_pairs: (id_a, id_b) verified pairs AMONG the batch;
    cross_matches: (id_a=new, id_b=index clip) verified matches;
    index_groups: (clip_id, group_id) committed decisions."""
    edges = within_pairs.select("id_a", "id_b").unionByName(
        cross_matches.select("id_a", "id_b")
        .join(
            index_groups.select(
                F.col("clip_id").alias("id_b"), "group_id"
            ),
            "id_b",
        )
        .select(
            "id_a",
            F.concat(F.lit(_OLD_GROUP_PREFIX), F.col("group_id")).alias(
                "id_b"
            ),
        )
    )
    comp = connected_components(edges, src="id_a", dst="id_b", id_col="id")
    old_counts = (
        comp.filter(F.col("id").startswith(_OLD_GROUP_PREFIX))
        .groupBy("component")
        .agg(F.count_distinct("id").alias("n_old"))
        .agg(
            F.coalesce(
                F.sum(F.col("n_old") - F.lit(1)), F.lit(0)
            ).alias("deferred")
        )
        .collect()
    )
    deferred_merges = int(old_counts[0].deferred)

    assigned = comp.filter(
        ~F.col("id").startswith(_OLD_GROUP_PREFIX)
    ).select(
        F.col("id").alias("clip_id"),
        F.when(
            F.col("component").startswith(_OLD_GROUP_PREFIX),
            F.substring(F.col("component"), 2, 2_147_483_647),
        )
        .otherwise(F.col("component"))
        .alias("component"),
    )
    return audio_decisions(batch_fpf, assigned), deferred_merges


# the decisions stage's closed vocabulary, in rule precedence order
AUDIO_DECISIONS = ("error", "keep_degenerate", "drop_audio_dup", "keep")


def audio_decisions(fpf: DataFrame, labels: DataFrame) -> DataFrame:
    """(clip_id, fp64, group_id, decision): one decision row per
    fingerprint row, the rule the batch job, an increment and a
    compaction share. Error rows -> 'error'; degenerate fingerprints
    -> 'keep_degenerate' (no identity to assert; never merged); a clip
    whose (clip_id, component) label names another clip ->
    'drop_audio_dup'; else 'keep'. A clip without a label is its own
    group. The narrow select lets the parquet scan prune the packed
    subfp stream: decisions never pay for the 8 KiB column."""
    error, degenerate, dup, keep = AUDIO_DECISIONS
    enriched = fpf.select("clip_id", "err", "fp_degenerate", "fp64").join(
        labels, "clip_id", "left"
    )
    decision = (
        F.when(F.col("err").isNotNull(), error)
        .when(F.col("fp_degenerate"), degenerate)
        .when(F.col("component") != F.col("clip_id"), dup)
        .otherwise(keep)
    )
    return enriched.select(
        "clip_id",
        "fp64",
        F.coalesce(F.col("component"), F.col("clip_id")).alias("group_id"),
        decision.alias("decision"),
    )


# --- snippet containment search: find clips CONTAINING a query cut ---
# The H&K retrieval case the pair tiers cannot serve: a 3 s jingle cut
# from the middle of a 2 min clip shares neither an fp64 key nor the
# first-active probes (those see stream prefixes). Blocking here keys
# DISTINCT VALUE-PAIR SHINGLES (v[i] << 16 | v[i+1], both nonzero)
# over the FULL stream of both sides — position-free, so a cut from
# anywhere matches; measured on a 20 s composite: true cuts share
# 6..21 distinct shingles (down to 10 dB SNR), distinct controls 0..2.
FP_SNIPPET_MIN_SHARED = 3
# Verify slides the query over the candidate stream and scores bit-set
# Jaccard at the best window. Measured margins (composite hay, 3 s
# cuts): exact cut 1.0, worst-case sub-hop cut 0.86, 20 dB noisy cut
# 0.61 vs distinct controls <= 0.10 — and the null is ALREADY the max
# over every alignment (~500 windows), so unlike the pair tier's
# shift scan no extra penalty is needed; 0.4 keeps a >= 1.5x true
# margin and a >= 4x null margin. The margins are pinned by the
# frozen fixture gate (audio_snippet_docs) + tests/test_audio_snippet.
FP_SNIPPET_JACCARD = 0.4


def snippet_shingle_keys(subs: np.ndarray) -> np.ndarray:
    """Distinct (v[i] << 16) | v[i+1] keys over adjacent NONZERO
    sub-fingerprint pairs — the position-free blocking keys of the
    snippet search (int64, sorted). Empty for streams with no two
    adjacent active positions."""
    s = np.asarray(subs, dtype=np.int64)
    if s.size < 2:
        return np.empty(0, dtype=np.int64)
    a, b = s[:-1], s[1:]
    keys = ((a << 16) | b)[(a != 0) & (b != 0)]
    return np.unique(keys)


def subfp_best_window(hay: bytes, needle: bytes) -> tuple[float, int]:
    """(bit-set Jaccard at the best containment window, that window's
    start position in hops): slide the needle stream over the hay
    stream at every alignment and keep the max. Ties resolve to the
    earliest position (argmax). Bounded by FP_MAX_SUBFP on both sides:
    the (alignments x needle) popcount temporaries stay under ~16 MB.
    A needle longer than the hay scores 0 (containment is directed —
    callers decide which side is the corpus clip)."""
    h, n = unpack_subfps(hay), unpack_subfps(needle)
    if n.size == 0 or h.size < n.size:
        return 0.0, -1
    from numpy.lib.stride_tricks import sliding_window_view

    w = sliding_window_view(h, n.size)
    inter = _POPCOUNT16[w & n[None, :]].sum(axis=1, dtype=np.int64)
    union = _POPCOUNT16[w | n[None, :]].sum(axis=1, dtype=np.int64)
    jac = np.where(union > 0, inter / np.maximum(union, 1), 0.0)
    pos = int(jac.argmax())
    return float(jac[pos]), pos


_SNIPPET_MATCH_SCHEMA = StructType(
    [
        StructField("qid", StringType()),
        StructField("clip_id", StringType()),
        StructField("jaccard", DoubleType()),
        # containment offset in stream positions (32 ms hops)
        StructField("pos", IntegerType()),
    ]
)


def _shingle_key_rows(fpf: DataFrame, id_alias: str) -> DataFrame:
    """(id, key) exploded shingle-key rows for eligible fingerprint
    rows — one mapInArrow over the packed streams. At corpus scale
    this is the stage a production root would COMMIT next to probes
    (it is pure function of the stream); the operator computes it
    inline so fixture-scale callers need no extra table."""
    elig = fpf.filter(F.col("err").isNull() & ~F.col("fp_degenerate")).select(
        "clip_id", "subfps"
    )

    return map_rows(
        elig,
        lambda cid, packed: [
            (cid, k) for k in snippet_shingle_keys(unpack_subfps(packed)).tolist()
        ],
        StructType([StructField(id_alias, StringType()), StructField("key", LongType())]),
    )


def audio_snippet_search(
    index_fpf: DataFrame,
    queries_fpf: DataFrame,
    min_jaccard: float = FP_SNIPPET_JACCARD,
    min_shared: int = FP_SNIPPET_MIN_SHARED,
    max_key_matches: int = FP_MAX_KEY_MATCHES,
) -> DataFrame:
    """(qid, clip_id, jaccard, pos) — corpus clips CONTAINING each
    query snippet (both sides fingerprint_clips_full rows; the query
    side is a short cut, the index side the committed corpus).
    Candidates block on shared distinct value-pair shingles
    (>= min_shared — one or two shared pairs are coincidence, see the
    knob comment), hot index keys rank-capped at max_key_matches;
    verify slides each query over each candidate stream once
    (subfp_best_window) in one mapInArrow at candidate volume. The
    index stream column moves only for candidate clip ids; queries
    are one ingest batch (small side of every join)."""
    from pyspark.sql.window import Window

    q_keys = _shingle_key_rows(queries_fpf, "qid")
    idx_keys = _shingle_key_rows(index_fpf, "clip_id")
    ranked = idx_keys.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("key").orderBy("clip_id")),
    )
    idx_kept = ranked.filter(F.col("rn") <= max_key_matches).drop("rn")
    cand = (
        q_keys.join(idx_kept, "key")
        .groupBy("qid", "clip_id")
        .agg(F.count_distinct("key").alias("shared"))
        .filter(F.col("shared") >= F.lit(min_shared))
        .select("qid", "clip_id")
    )
    joined = cand.join(
        queries_fpf.select(
            F.col("clip_id").alias("qid"), F.col("subfps").alias("needle")
        ),
        "qid",
    ).join(
        index_fpf.select("clip_id", F.col("subfps").alias("hay")), "clip_id"
    )

    return map_rows(
        joined.select("qid", "clip_id", "hay", "needle"),
        lambda qid, cid, hay, needle: [(qid, cid, *subfp_best_window(hay, needle))],
        _SNIPPET_MATCH_SCHEMA,
    ).filter(F.col("jaccard") >= F.lit(min_jaccard))
