"""Audio fingerprint + cross-codec near-dup: frozen-truth integrity,
hand-pinned arithmetic (independent of the kernel), robustness
contracts, and the Spark grouping path (pigeonhole LSH + components)
against the brute-force-derived expected partition."""

from __future__ import annotations

import numpy as np
import pytest

from go_pkg_spider_spark.fixtures import audio_fp_fixtures as fpx
from go_pkg_spider_spark.fixtures.audio_fixtures import _flac, _i16, _wav
from go_pkg_spider_spark.operators import audio_fp as afp

FP_GROUP_HAMMING = 7  # mirrors audio_fp.audio_neardup_groups default


def derive_expected() -> list[tuple]:
    """Recompute EXPECTED from the LIVE fingerprint kernel, grouping by
    brute-force all-pairs hamming + union-find (independent of the
    production pigeonhole-LSH path; the drift alarm AND the recall
    cross-check)."""
    from go_pkg_spider_spark.operators.audio_fp import _fp_row_full

    rows = [
        _fp_row_full(fid, blob, codec, sr_hz)[:5]
        for fid, blob, codec, sr_hz in fpx.build_rows()
    ]
    # union-find over eligible rows (decoded, non-degenerate)
    parent = {fid: fid for fid, err, _, _, deg in rows if err is None and not deg}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    elig = sorted(parent)
    for i, a in enumerate(elig):
        fa = next(r[3] for r in rows if r[0] == a)
        for b in elig[i + 1 :]:
            fb = next(r[3] for r in rows if r[0] == b)
            if bin(fa ^ fb).count("1") <= FP_GROUP_HAMMING:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    out = []
    for fid, err, n_subfp, fp64, deg in rows:
        gid = find(fid) if fid in parent else fid
        out.append((fid, err, n_subfp, fp64, deg, gid))
    return out


def derive_subfp_expected() -> list[tuple]:
    """Recompute SUBFP_EXPECTED from the live kernels: BOTH tiers'
    groupings by independent brute-force union-find over all pairs,
    mirroring the production predicates exactly — fp64 tier: hamming
    <= FP_GROUP_HAMMING; subfp tier: >= 1 shared encoded (cell, value)
    probe AND bit-set Jaccard / overlap-ratio at the best scanned
    alignment. The
    frozen table therefore cross-checks probe-blocking recall AND the
    measured fp64-misses-these contrast (drift alarm for either
    tier)."""
    from go_pkg_spider_spark.operators.audio_fp import (
        FP_MIN_SHARED_SITES,
        _fp_row_full,
        probe_shared_sites,
        subfp_match_stats,
        subfp_pair_passes,
    )

    full = {
        cid: _fp_row_full(cid, blob, codec, sr_hz)
        for cid, blob, codec, sr_hz in fpx.build_subfp_rows()
    }
    elig = sorted(cid for cid, r in full.items() if r[1] is None and not r[4])

    def union_find(match) -> dict[str, str]:
        parent = {cid: cid for cid in full}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i, a in enumerate(elig):
            for b in elig[i + 1 :]:
                if match(full[a], full[b]):
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        return {cid: find(cid) for cid in full}

    def subfp_match(ra, rb) -> bool:
        hit = probe_shared_sites(ra[6], rb[6]) >= FP_MIN_SHARED_SITES
        jac, ratio, shift = subfp_match_stats(ra[5], rb[5])
        return hit and subfp_pair_passes(jac, ratio, shift)

    def fp64_match(ra, rb) -> bool:
        return bin(ra[3] ^ rb[3]).count("1") <= FP_GROUP_HAMMING

    sub_g = union_find(subfp_match)
    fp_g = union_find(fp64_match)
    return [
        (cid, r[1], r[2], r[4], sub_g[cid], fp_g[cid])
        for cid, r in sorted(full.items())
    ]



def test_expected_matches_live_derivation():
    derived = derive_expected()
    assert len(derived) == len(fpx.EXPECTED) == 15
    for got, frozen in zip(derived, fpx.EXPECTED):
        assert got == frozen, f"fid {frozen[0]} drifted: {got} != {frozen}"


def _splitmix64_py(x: int) -> int:
    M = (1 << 64) - 1
    z = (x + 0x9E3779B97F4A7C15) & M
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & M
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M
    return z ^ (z >> 31)


def test_splitmix64_hand_pin():
    """fp64 vote arithmetic re-derived with pure-Python ints
    (independent of the numpy kernel): zero shingles ABSTAIN, so the
    all-zero stream returns 0 (no evidence — the round-8 fix for the
    splitmix64(0) collapse that false-grouped every sparse clip);
    a constant NONZERO stream is a unanimous vote returning its one
    shingle hash verbatim."""
    assert _splitmix64_py(0) == 0xE220A8397B1DCDAF  # published vector
    assert afp.fp64_of_subfps(np.zeros(8, dtype=np.uint64)) == 0
    by_fid = {r[0]: r for r in fpx.EXPECTED}
    assert by_fid[10][3] == by_fid[11][3] == 0  # tone == silence == 0
    ones = _splitmix64_py(0x0001000100010001)
    want = ones - (1 << 64) if ones >= (1 << 63) else ones
    assert afp.fp64_of_subfps(np.ones(8, dtype=np.uint64)) == want


def test_reencode_twins_bit_identical():
    """The six-way duplicate decodes to the same sub-fingerprint
    STREAM, not just the same fp64 — container, word width, sample
    rate, and gain all cancel by construction."""
    rows = {fid: (b, c, s) for fid, b, c, s in fpx.build_rows()}
    streams = []
    for fid in range(6):
        from go_pkg_spider_spark.operators.decode import decode_blob

        pcm, sr, err = decode_blob(*rows[fid])
        assert err is None, fid
        streams.append(afp.subfingerprints(pcm, sr))
    for fid, s in enumerate(streams[1:], start=1):
        assert np.array_equal(streams[0], s), f"fid {fid} stream diverged"


def test_distinct_clips_are_far():
    """Pairwise fp64 hamming between the four distinct singletons and
    the duplicate group stays far above the grouping threshold —
    near-random (measured 28..35), frozen here with margin."""
    by_fid = {r[0]: r[3] for r in fpx.EXPECTED}
    anchors = [0, 6, 7, 8, 9]
    for i, a in enumerate(anchors):
        for b in anchors[i + 1 :]:
            h = bin((by_fid[a] ^ by_fid[b]) & ((1 << 64) - 1)).count("1")
            assert h >= 3 * FP_GROUP_HAMMING, (a, b, h)


def test_degenerate_flag_semantics():
    """Stationary clips collapse to equal fp64 but stay ungrouped; a
    sub-two-frame clip yields zero sub-fingerprints and no error."""
    by_fid = {r[0]: r for r in fpx.EXPECTED}
    assert by_fid[10][4] and by_fid[11][4]  # degenerate
    assert by_fid[10][5] == 10 and by_fid[11][5] == 11  # NOT merged
    assert by_fid[14] == (14, None, 0, 0, True, 14)


def test_sparse_stream_collapse_regression():
    """Round-8 false-group regression (found by driving the datagen
    corpus): three DIFFERENT sparse clips — mostly silence, one short
    tone burst each — used to share the splitmix64(0) fp64 verbatim
    (zero shingles outvoted the content) and merged at hamming 0.
    Defense in depth now: the FP_MIN_ACTIVE evidence floor flags them
    degenerate, AND the abstention vote keeps their fp64s far apart
    (measured hamming 22/23) even if a future floor change re-admits
    them."""
    sr = 16_000

    def burst(pos_s: float, f: float) -> np.ndarray:
        n = 4 * sr
        sig = np.zeros(n)
        m = int(0.15 * sr)
        t = np.arange(m) / sr
        i0 = int(pos_s * sr)
        sig[i0 : i0 + m] = 0.6 * np.sin(2 * np.pi * f * t) * np.hanning(m)
        return sig

    rows = [
        afp._fp_row_full(cid, _wav(burst(p, f), sr), "wav", sr)[:5]
        for cid, p, f in (("s0", 1.0, 500.0), ("s1", 2.5, 1500.0), ("s2", 1.7, 900.0))
    ]
    for cid, err, n_subfp, fp64, deg in rows:
        assert err is None and n_subfp > 0
        assert deg, f"{cid}: sparse stream must be flagged degenerate"
        assert fp64 != 0  # abstention fp64 reflects the active content
    fps = [r[3] for r in rows]
    for i in range(3):
        for j in range(i + 1, 3):
            h = bin((fps[i] ^ fps[j]) & ((1 << 64) - 1)).count("1")
            assert h > 2 * FP_GROUP_HAMMING, (i, j, h)


def test_tie_guard_absorbs_16bit_quantization():
    """FP_TIE_EPS sits above the measured 16-bit quantization
    perturbation: the float signal and its 16-bit quantized twin
    produce identical streams (the contract the 24-bit WAV fixture
    rides on). 8-bit is documented OUTSIDE the contract."""
    sig = fpx._chirp(16_000, 16_000, 200.0, 2000.0)
    q16 = _i16(sig).astype(np.float64) / 32767.0
    assert np.array_equal(
        afp.subfingerprints(sig, 16_000), afp.subfingerprints(q16, 16_000)
    )


def test_max_subfp_cap_bounds_long_clips():
    """A clip past FP_MAX_SUBFP transitions is truncated, not O(dur)."""
    long_pcm = fpx._am(afp.FP_SR * 5, afp.FP_SR, 440.0, 3.0)
    old = afp.FP_MAX_SUBFP
    afp.FP_MAX_SUBFP = 16
    try:
        assert afp.subfingerprints(long_pcm, afp.FP_SR).size == 16
    finally:
        afp.FP_MAX_SUBFP = old


def test_spark_grouping_matches_brute_force(spark):
    """The production pigeonhole-LSH + connected-components path must
    reproduce the brute-force union-find partition frozen in EXPECTED
    — the block split's recall guarantee at hamming <= 7, verified on
    the corpus plus a synthetic near-miss pair (hamming exactly 8
    must NOT merge; hamming exactly 7 must)."""
    from go_pkg_spider_spark.operators.audio_fp import (
        audio_neardup_groups,
        fingerprint_clips,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        fpx.build_rows(), "fid long, bytes binary, codec string, sr_hz int"
    ).select(
        F.col("fid").cast("string").alias("clip_id"), "bytes", "codec", "sr_hz"
    )
    fp = fingerprint_clips(df)
    got = {
        int(r.clip_id): int(r.group_id)
        for r in audio_neardup_groups(fp).collect()
    }
    want = {r[0]: r[5] for r in fpx.EXPECTED}
    assert got == want

    base = fpx.EXPECTED[0][3]
    flip7 = base ^ ((1 << 7) - 1)  # hamming 7 from base
    flip8 = base ^ (0xFF << 32)  # hamming 8 from base, 15 from flip7
    syn = spark.createDataFrame(
        [("a", base, False, None), ("b", flip7, False, None), ("c", flip8, False, None)],
        "clip_id string, fp64 long, fp_degenerate boolean, err string",
    )
    g = {r.clip_id: r.group_id for r in audio_neardup_groups(syn).collect()}
    assert g["a"] == g["b"] == "a" and g["c"] == "c"


def test_fingerprint_clips_schema_and_errors(spark):
    """Typed-error contract through the mapInPandas operator: the
    whitelist/empty errors surface in `err`, never as exceptions, and
    NULL sr_hz rides the decoder default (the decode.py contract)."""
    from go_pkg_spider_spark.operators.audio_fp import fingerprint_clips

    pcm = fpx._chirp(8000, 8000, 300.0, 1500.0)
    df = spark.createDataFrame(
        [
            ("ok", _wav(pcm, 8000), "wav", 8000),
            ("bad", b"JUNK", "wav", 8000),
            ("unlisted", _wav(pcm, 8000), "speex", 8000),
            ("nullsr", _i16(pcm).tobytes(), "pcm_s16le", None),
        ],
        "clip_id string, bytes binary, codec string, sr_hz int",
    )
    rows = {r.clip_id: r for r in fingerprint_clips(df).collect()}
    assert rows["ok"].err is None and rows["ok"].n_subfp > 0
    assert rows["bad"].err == "bad_riff_header" and rows["bad"].fp64 == 0
    assert rows["unlisted"].err == "codec_not_whitelisted"
    assert rows["nullsr"].err is None and not rows["nullsr"].fp_degenerate


# ------------------------------------------------------ property fuzz

from hypothesis import given, settings, strategies as st


@settings(max_examples=40, deadline=None, derandomize=True)
@given(
    st.lists(
        st.floats(
            min_value=-1.5, max_value=1.5, allow_nan=False, allow_infinity=False
        ),
        min_size=0,
        max_size=4000,
    ),
    st.integers(min_value=4000, max_value=192_000),
)
def test_kernel_total_on_finite_pcm(samples, sr):
    """The kernel's contract over everything decode_blob can hand it
    (finite float PCM, plausible rate): never raises, subfp dtype/size
    bounded, fp64 in int64 range, degenerate consistent with n==0."""
    pcm = np.asarray(samples, dtype=np.float64)
    subs = afp.subfingerprints(pcm, sr)
    assert subs.dtype == np.uint16 and subs.size <= afp.FP_MAX_SUBFP
    fp64 = afp.fp64_of_subfps(subs)
    assert -(1 << 63) <= fp64 < (1 << 63)
    if subs.size == 0:
        assert fp64 == 0


def test_fp_robustness_contract():
    """Measured robustness floors (tools/fp_robustness.py, published in
    BENCH/BASELINE.md): every lossless-ish re-encode (quantization to
    8-bit, gain, exact 2:1 resample) must fingerprint IDENTICALLY;
    40 dB additive noise must still group at the default threshold;
    the distinct-signal control must stay far. The 30 dB row documents
    the 64-bit compression tradeoff: low sub-fingerprint BER but no
    fp64 grouping — pinned so a silent recall change surfaces."""
    from tools.fp_robustness import measure

    rows = {r["perturbation"]: r for r in measure()["rows"]}
    for name in (
        "quantize_16bit",
        "quantize_8bit",
        "gain_0.25x",
        "resample_2to1_8k",
    ):
        assert rows[name]["fp64_hamming"] == 0, (name, rows[name])
    assert rows["add_noise_snr40dB"]["groups_at_default"]
    assert rows["add_noise_snr30dB"]["subfp_ber"] <= 0.15
    assert not rows["add_noise_snr30dB"]["groups_at_default"]
    assert rows["control_distinct_signal"]["fp64_hamming"] >= 20
    # the sub-fingerprint tier's measured recall upgrade: everything
    # the 64-bit compression loses (non-integer resample round-trip,
    # additive noise down to 10 dB SNR) must group under the full
    # production predicate (probe blocking + Jaccard + overlap), and
    # the distinct control must stay rejected by a wide margin
    for name in (
        "resample_rt_11025",
        "add_noise_snr30dB",
        "add_noise_snr20dB",
        "add_noise_snr10dB",
    ):
        assert rows[name]["subfp_tier_groups"], (name, rows[name])
    assert rows["add_noise_snr10dB"]["subfp_jaccard"] >= 0.6
    # trim robustness (round 8): coarse-cell probes + shift-scan verify
    # recover trimmed re-uploads up to the FP_SHIFT_SCAN window —
    # integer-hop trims exactly (32 ms: Jaccard 1.0), arbitrary trims
    # through the sub-hop residual (100/500 ms) — while a trim past
    # the window stays out (the bounded-tolerance pin). Band-limiting
    # and hard clipping are subfp-tier recoveries too (fp64 loses
    # both at hamming 16/12).
    for name in (
        "trim_start_4ms",
        "trim_start_32ms",
        "trim_start_100ms",
        "trim_start_500ms",
        "prepend_silence_100ms",
        "prepend_silence_500ms",
        "bandlimit_300_3400",
        "hard_clip_0.5",
        "time_stretch_+1pct",
    ):
        assert rows[name]["subfp_tier_groups"], (name, rows[name])
    assert rows["trim_start_32ms"]["subfp_jaccard"] == pytest.approx(1.0)
    assert rows["trim_start_100ms"]["subfp_jaccard"] >= 0.7
    # the winning shift equals the offset in hops, signed: a trim
    # shifts positive, an added intro negative (both directions of
    # the scan are exercised)
    assert rows["trim_start_100ms"]["subfp_shift"] == 3
    assert rows["prepend_silence_100ms"]["subfp_shift"] == -3
    assert not rows["trim_start_1000ms"]["subfp_tier_groups"]
    # 4% stretch sits AT the Jaccard threshold (measured 0.40) — pin
    # the floor loosely, not the group bit, so host-independent but
    # honest about the boundary
    assert rows["time_stretch_+4pct"]["subfp_jaccard"] >= 0.3
    assert not rows["control_distinct_signal"]["subfp_tier_groups"]
    # the 33-alignment scan raises the null max-statistic (~0.03 ->
    # ~0.09 measured) — still a >4x margin under FP_SUBFP_JACCARD
    assert rows["control_distinct_signal"]["subfp_jaccard"] <= 0.15


def test_pairs_match_brute_force(spark):
    """Canonical-block emission (round 8): audio_fp_pairs must equal
    the brute-force all-pairs set (unordered, exactly once — no
    duplicate edges despite up to 8 block collisions per pair) on the
    fixture corpus AND on a synthetic set engineered to collide in
    several blocks at once."""
    from go_pkg_spider_spark.operators.audio_fp import (
        audio_fp_pairs,
        fingerprint_clips,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        fpx.build_rows(), "fid long, bytes binary, codec string, sr_hz int"
    ).select(
        F.col("fid").cast("string").alias("clip_id"), "bytes", "codec", "sr_hz"
    )
    fp = fingerprint_clips(df).localCheckpoint()
    got = [
        (min(int(r.id_a), int(r.id_b)), max(int(r.id_a), int(r.id_b)))
        for r in audio_fp_pairs(fp).collect()
    ]
    assert len(got) == len(set(got))  # exactly-once emission
    elig = {
        r[0]: r[3] for r in fpx.EXPECTED if r[1] is None and not r[4]
    }
    ids = sorted(elig)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((elig[a] ^ elig[b]) & ((1 << 64) - 1)).count("1")
        <= FP_GROUP_HAMMING
    }
    assert set(got) == want

    # synthetic: base and base^(bit 17) agree in blocks 0,1 and 3..7
    # (7 collisions) — must come out exactly once; a pair differing in
    # EVERY block must not appear at all
    base = fpx.EXPECTED[0][3]
    syn = spark.createDataFrame(
        [
            ("x", base, False, None),
            ("y", base ^ (1 << 17), False, None),
            ("z", base ^ 0x0101010101010101, False, None),  # 1 bit/block
        ],
        "clip_id string, fp64 long, fp_degenerate boolean, err string",
    )
    sp = [(r.id_a, r.id_b, r.hamming) for r in audio_fp_pairs(syn).collect()]
    assert sorted((min(a, b), max(a, b)) for a, b, _ in sp) == [("x", "y")]


# ---------------------------------------------- sub-fingerprint tier


def test_popcount16_and_pack_roundtrip():
    assert afp._POPCOUNT16[0] == 0
    assert afp._POPCOUNT16[0xFFFF] == 16
    assert afp._POPCOUNT16[0x0F0F] == 8
    subs = np.array([0, 1, 0xABCD, 0xFFFF], dtype=np.uint16)
    assert np.array_equal(afp.unpack_subfps(afp.pack_subfps(subs)), subs)


def test_subfp_match_stats_hand_pin():
    """Bit-set Jaccard at the best scanned alignment, by-hand
    arithmetic. Unshifted case: words (0011,1100) vs (0001,1100) ->
    inter 1+2, union 2+2 at s=0, and no reachable shift beats it
    (the scan is capped at min_len // 2 = 1 here; s=-1: 2/8)."""
    a = afp.pack_subfps(np.array([0b0011, 0b1100], dtype=np.uint16))
    b = afp.pack_subfps(np.array([0b0001, 0b1100, 0b1111], dtype=np.uint16))
    jac, ratio, shift = afp.subfp_match_stats(a, b)
    assert jac == pytest.approx(3 / 4)
    assert ratio == pytest.approx(2 / 3)
    assert shift == 0
    assert afp.subfp_match_stats(b"", b"") == (0.0, 0.0, 0)
    z = afp.pack_subfps(np.zeros(4, dtype=np.uint16))
    assert afp.subfp_match_stats(z, z)[0] == 0.0  # no evidence != match
    # shifted twin: c = two junk words + seq, exact at s=-2 (jac 1.0,
    # overlap 6 of max(8,6)); index-aligned scoring saw junk vs signal
    seq = np.array([3, 12, 48, 192, 768, 3072], dtype=np.uint16)
    c = afp.pack_subfps(
        np.concatenate([np.array([0b1010, 0b0101], dtype=np.uint16), seq])
    )
    jac, ratio, shift = afp.subfp_match_stats(afp.pack_subfps(seq), c)
    assert (jac, shift) == (pytest.approx(1.0), -2)
    assert ratio == pytest.approx(6 / 8)
    # symmetric in value (scan covers both signs)
    sym = afp.subfp_match_stats(c, afp.pack_subfps(seq))
    assert (sym[0], sym[1], sym[2]) == (jac, ratio, 2)
    # the scan is bounded by FP_SHIFT_SCAN: a long stream planted after
    # FP_SHIFT_SCAN junk words aligns exactly, after one more it cannot
    n = afp.FP_SHIFT_SCAN + 1
    long_seq = np.array([(i * 40503) & 0xFFFF for i in range(1, 2 * n + 1)], dtype=np.uint16)
    for junk, reachable in ((n - 1, True), (n, False)):
        planted = afp.pack_subfps(
            np.concatenate([np.full(junk, 0b1010, dtype=np.uint16), long_seq])
        )
        jac_far, _, shift_far = afp.subfp_match_stats(afp.pack_subfps(long_seq), planted)
        assert (jac_far == 1.0) is reachable, (junk, jac_far, shift_far)
        if reachable:
            assert shift_far == -junk
    # half-min-length cap: a 2-word stream against the same stream
    # 3 positions later can never align (cap = 1)
    short = np.array([3, 12], dtype=np.uint16)
    far = afp.pack_subfps(
        np.concatenate([np.array([80, 80, 80], dtype=np.uint16), short])
    )
    jacc, _, _ = afp.subfp_match_stats(afp.pack_subfps(short), far)
    assert jacc < 1.0
    # the penalized acceptance predicate (shared production rule)
    assert afp.subfp_pair_passes(0.45, 0.6, 0)
    assert not afp.subfp_pair_passes(0.45, 0.6, 3)  # pays the penalty
    assert afp.subfp_pair_passes(0.55, 0.6, 3)
    assert not afp.subfp_pair_passes(0.9, 0.4, 0)  # containment floor


_SUBFP_SCHEMA = "clip_id string, bytes binary, codec string, sr_hz int"


def _subfp_corpus():
    """The frozen subfp-tier corpus (fixtures/audio_fp_fixtures.py —
    also the audio_subfp_docs gate input)."""
    return fpx.build_subfp_rows(), _SUBFP_SCHEMA


def test_subfp_expected_matches_live_derivation():
    """SUBFP_EXPECTED is the frozen output of derive_subfp_expected()
    — both tiers' brute-force union-finds over the live kernels. Any
    kernel/predicate drift trips here before the driver gate does."""
    assert derive_subfp_expected() == fpx.SUBFP_EXPECTED


def test_subfp_grouping_matches_brute_force(spark):
    """The Spark sub-fingerprint path (probe blocking + canonical
    emission + verify join + components) must reproduce the frozen
    brute-force partition (fixtures SUBFP_EXPECTED), whose
    by-construction truth: noisy twins and the 60% truncation group
    with the anchor; the 40% exact-prefix truncation of b0 is kept out
    by the overlap-ratio containment guard alone (Jaccard 1.0 over the
    overlap, no transitive chain); distinct / degenerate / error rows
    stay singleton. The same fingerprint pass must ALSO show the fp64
    tier missing the noisy twins — the measured contrast the subfp
    tier exists for."""
    want = {r[0]: r[4] for r in fpx.SUBFP_EXPECTED}
    assert want == {
        "a0": "a0", "a1": "a0", "a2": "a0", "a3": "a0", "a4": "a0",
        "b0": "b0", "b1": "b1", "c0": "c0", "d0": "d0", "e0": "e0",
        "t0": "t0",
    }

    rows, schema = _subfp_corpus()
    fpf = afp.fingerprint_clips_full(
        spark.createDataFrame(rows, schema)
    ).localCheckpoint()
    got = {
        r.clip_id: r.group_id
        for r in afp.audio_subfp_neardup_groups(fpf).collect()
    }
    assert got == want

    pairs = afp.audio_subfp_pairs(fpf).collect()
    keys = [(min(r.id_a, r.id_b), max(r.id_a, r.id_b)) for r in pairs]
    assert len(keys) == len(set(keys))  # exactly-once emission
    for r in pairs:
        assert r.jaccard >= afp.FP_SUBFP_JACCARD
        assert r.overlap_ratio >= afp.FP_MIN_OVERLAP_RATIO

    # the containment guard is the SOLE rejector of b1: relaxing only
    # min_overlap_ratio admits the b0-b1 pair at Jaccard 1.0
    relaxed = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b)): r
        for r in afp.audio_subfp_pairs(fpf, min_overlap_ratio=0.0).collect()
    }
    b = relaxed[("b0", "b1")]
    assert b.jaccard == 1.0
    assert b.overlap_ratio < afp.FP_MIN_OVERLAP_RATIO

    # the contrast: the fp64 tier (same fingerprint rows) leaves the
    # noisy twins ungrouped — hamming far past 7
    fp64_groups = {
        r.clip_id: r.group_id
        for r in afp.audio_neardup_groups(fpf).collect()
    }
    assert fp64_groups == {r[0]: r[5] for r in fpx.SUBFP_EXPECTED}
    assert fp64_groups["a1"] != fp64_groups["a0"]
    assert fp64_groups["a2"] != fp64_groups["a0"]
    assert fp64_groups["a3"] != fp64_groups["a0"]  # truncation too
    assert fp64_groups["a4"] != fp64_groups["a0"]  # non-integer trim too


def test_fingerprint_clips_full_consistency(spark):
    """fingerprint_clips_full extends (never drifts from) the frozen
    fp64 kernel: shared fields equal the per-row kernel
    (_fp_row_full's first five) exactly, and so do fingerprint_clips'
    rows, the packed stream unpacks to n_subfp words, probes match the
    probe spec, error rows carry empty stream/probes."""
    rows, schema = _subfp_corpus()
    df = spark.createDataFrame(rows, schema)
    fpf = {r.clip_id: r for r in afp.fingerprint_clips_full(df).collect()}
    fp = {r.clip_id: tuple(r) for r in afp.fingerprint_clips(df).collect()}
    assert set(fpf) == set(fp) == {cid for cid, *_ in rows}
    for cid, blob, codec, sr in rows:
        base = afp._fp_row_full(cid, blob, codec, sr)[:5]
        r = fpf[cid]
        assert (r.clip_id, r.err, r.n_subfp, r.fp64, r.fp_degenerate) == base
        assert fp[cid] == base
        subs = afp.unpack_subfps(bytes(r.subfps))
        assert subs.size == r.n_subfp
        assert r.probes == afp.probe_vector(subs)


def test_verify_pairs_rejects_false_fp64_candidates(spark):
    """The composed job's fp64-candidate stream verification: a forced
    candidate pair of DISTINCT clips (the sparse-corpus false-dup
    class — different audio whose under-voted simhashes collide) must
    be rejected, while a true re-encode twin pair passes at
    Jaccard 1.0. Fed as explicit candidates so the test pins the
    verify semantics independently of whether fp64 happens to
    collide."""
    sr = 16_000
    up = fpx._chirp(sr, sr, 200.0, 2000.0)
    rows = [
        ("t0", _wav(up, sr), "wav", sr),
        ("t1", _flac(up, sr), "flac", sr),  # true twin of t0
        ("d0", _wav(fpx._chirp(sr, sr, 2000.0, 200.0), sr), "wav", sr),
    ]
    fpf = afp.fingerprint_clips_full(
        spark.createDataFrame(
            rows, "clip_id string, bytes binary, codec string, sr_hz int"
        )
    )
    cand = spark.createDataFrame(
        [("t0", "t1"), ("t0", "d0")], "id_a string, id_b string"
    )
    got = {(r.id_a, r.id_b): r for r in afp.verify_pairs(fpf, cand).collect()}
    assert set(got) == {("t0", "t1")}
    assert got[("t0", "t1")].jaccard == 1.0
