"""Measured robustness contract for the audio fingerprint (the
ann_recall.py precedent applied to the round-8 fingerprint slot):
sub-fingerprint bit-error rate and fp64 hamming under the
perturbations a re-encoded clip actually suffers — quantization
depth, additive noise at controlled SNR, non-integer resample
round-trip — on a deterministic broadband speech-like probe.

Everything is closed-form (chirp/AM mix + shader-hash noise), so the
numbers are exact and pinned by tests/test_audio_fp.py's contract
floors. Published in BENCH/BASELINE.md.

Reading the table: the fp64 near-dup key groups at hamming <= 7.
Lossless re-encodes, any quantization >= 8-bit, 2:1 resamples, and
gain changes measure hamming 0; additive noise at 40 dB SNR sits at
the threshold; 30 dB and below do NOT group at the fp64 level even
though the sub-fingerprint BER is still low (~12%) — the cost of
compressing the H&K stream to one 64-bit key (shingle hashes amplify
single-bit flips). A recall upgrade would match at the sub-
fingerprint level (H&K's 256-block BER test); the dial is measured,
not blind.

Usage: python tools/fp_robustness.py
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_pkg_spider_spark.fixtures.audio_fixtures import _hashnoise  # noqa: E402
from go_pkg_spider_spark.operators import audio_fp as afp  # noqa: E402
from go_pkg_spider_spark.operators.audio_features import linear_resample  # noqa: E402

SR = 16_000
DUR_S = 2


def probe_signal() -> np.ndarray:
    """Broadband speech-like probe: AM'd chirp + vibrato tone + noise
    floor. Closed form — no RNG."""
    n = SR * DUR_S
    t = np.arange(n, dtype=np.float64) / SR
    return (
        0.4 * np.sin(2 * np.pi * (200 * t + 400 * t * t)) * (0.5 + 0.5 * np.sin(2 * np.pi * 4 * t))
        + 0.2 * np.sin(2 * np.pi * (700 + 300 * np.sin(2 * np.pi * 1.3 * t)) * t)
        + 0.05 * _hashnoise(n)
    )


def _ham64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def measure() -> dict:
    sig = probe_signal()
    base = afp.subfingerprints(sig, SR)
    fp0 = afp.fp64_of_subfps(base)
    out: dict = {"n_subfp": int(base.size), "rows": []}

    base_packed = afp.pack_subfps(base)
    base_probes = afp.probe_vector(base)

    def row(name, pert, sr=SR):
        subs = afp.subfingerprints(pert, sr)
        m = min(subs.size, base.size)
        ber = float((subs[:m] != base[:m]).mean()) if m else 1.0
        h = _ham64(afp.fp64_of_subfps(subs), fp0)
        # the sub-fingerprint tier's full production predicate: >= 1
        # shared encoded (pos, value) probe (candidate blocking) AND
        # bit-set Jaccard / overlap-ratio over the aligned streams
        # (verify) — audio_subfp_pairs semantics on this single pair
        probes = afp.probe_vector(subs)
        blocked = (
            afp.probe_shared_sites(base_probes, probes)
            >= afp.FP_MIN_SHARED_SITES
        )
        jac, ratio, shift = afp.subfp_match_stats(
            base_packed, afp.pack_subfps(subs)
        )
        out["rows"].append(
            {
                "perturbation": name,
                "subfp_ber": round(ber, 4),
                "fp64_hamming": h,
                "groups_at_default": h <= 7,
                "subfp_jaccard": round(jac, 4),
                "subfp_shift": shift,
                "subfp_tier_groups": bool(
                    blocked and afp.subfp_pair_passes(jac, ratio, shift)
                ),
            }
        )

    for bits in (16, 12, 10, 8):
        q = np.round(sig * (2 ** (bits - 1) - 1)) / (2 ** (bits - 1) - 1)
        row(f"quantize_{bits}bit", q)
    row("gain_0.25x", 0.25 * sig)
    row("resample_2to1_8k", linear_resample(sig, SR, 8000), sr=8000)
    rt = linear_resample(linear_resample(sig, SR, 11025), 11025, SR)
    row("resample_rt_11025", rt)
    noise = _hashnoise(sig.size, amp=1.0)
    p_sig = float(np.mean(sig**2))
    for snr_db in (40, 30, 20, 10):
        p_n = p_sig / 10 ** (snr_db / 10)
        row(
            f"add_noise_snr{snr_db}dB",
            sig + noise * np.sqrt(p_n / float(np.mean(noise**2))),
        )
    # trimmed re-uploads (crop the first k ms) — the canonical audio
    # near-dup transform. 32 ms = exactly one analysis hop (stream
    # shifts one position), 100/500 ms = non-integer hops (every frame
    # lands sub-hop misaligned), 1000 ms sits past the verify kernel's
    # shift-scan window (FP_SHIFT_SCAN) and past the 50% overlap floor
    # on a 2 s probe — the honest recall boundary.
    for ms in (4, 32, 100, 500, 1000):
        row(f"trim_start_{ms}ms", sig[int(SR * ms / 1000):])
    # prepended silence (the offset's other sign — an added intro);
    # exercises the scan's negative-shift direction
    for ms in (100, 500):
        row(
            f"prepend_silence_{ms}ms",
            np.concatenate([np.zeros(int(SR * ms / 1000)), sig]),
        )
    # time stretch (resample, then play back claiming the old rate)
    for pct in (1, 4):
        st = linear_resample(sig, SR, int(SR * (1 + pct / 100)))
        row(f"time_stretch_+{pct}pct", st)
    # telephone band-limit (FFT brickwall 300-3400 Hz) and hard
    # clipping at half full-scale — common re-encode artifacts
    spec = np.fft.rfft(sig)
    freqs = np.fft.rfftfreq(sig.size, 1.0 / SR)
    row(
        "bandlimit_300_3400",
        np.fft.irfft(np.where((freqs >= 300) & (freqs <= 3400), spec, 0), n=sig.size),
    )
    row("hard_clip_0.5", np.clip(sig, -0.5, 0.5))
    # control: an unrelated signal must be far
    t = np.arange(sig.size, dtype=np.float64) / SR
    other = 0.5 * np.sin(2 * np.pi * (2400 * t - 500 * t * t)) * (
        0.5 + 0.5 * np.sin(2 * np.pi * 7 * t)
    )
    row("control_distinct_signal", other)
    return out


def main() -> None:
    res = measure()
    print(f"probe: {DUR_S}s broadband mix @ {SR} Hz, {res['n_subfp']} subfps")
    print(
        f"{'perturbation':<24} {'subfp BER':>10} {'fp64 ham':>9} {'groups':>7}"
        f" {'jaccard':>8} {'shift':>6} {'subfp tier':>10}"
    )
    for r in res["rows"]:
        print(
            f"{r['perturbation']:<24} {r['subfp_ber']:>10.4f}"
            f" {r['fp64_hamming']:>9d} {str(r['groups_at_default']):>7}"
            f" {r['subfp_jaccard']:>8.4f} {r['subfp_shift']:>6d}"
            f" {str(r['subfp_tier_groups']):>10}"
        )
    print(json.dumps(res))


if __name__ == "__main__":
    main()
