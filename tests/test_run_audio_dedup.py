"""Composed audio near-dup job (jobs/run_audio_dedup.py): end-to-end
decisions on a corpus with KNOWN re-encode duplicates, stage-manifest
resume idempotence, and the per-stage params_sig semantics (a grouping
knob change must NOT re-run the fingerprint decode stage)."""

from __future__ import annotations

import json

import numpy as np
import pytest

from go_pkg_spider_spark.fixtures.audio_fixtures import _flac, _wav
from go_pkg_spider_spark.fixtures.audio_fp_fixtures import _am, _chirp
from jobs.run_audio_dedup import (
    run_audio_dedup,
    run_audio_dedup_compact,
    run_audio_dedup_increment,
)


def _corpus(spark):
    sr = 16_000
    up = _chirp(sr, sr, 200.0, 2000.0)
    t = np.arange(sr, dtype=np.float64) / sr
    rows = [
        # re-encode family: same chirp as WAV / FLAC / half-gain (a keeps)
        ("clip-a", _wav(up, sr), "wav", sr),
        ("clip-b", _flac(up, sr), "flac", sr),
        ("clip-c", _wav(_chirp(sr, sr, 200.0, 2000.0, amp=0.3), sr), "wav", sr),
        # distinct clips
        ("clip-d", _wav(_chirp(sr, sr, 2000.0, 200.0), sr), "wav", sr),
        ("clip-e", _wav(_am(sr, sr, 440.0, 3.0), sr), "wav", sr),
        # degenerate (stationary tone + silence): kept, never merged
        ("clip-f", _wav(0.6 * np.sin(2 * np.pi * 440.0 * t), sr), "wav", sr),
        ("clip-g", _wav(np.zeros(sr), sr), "wav", sr),
        # typed error row
        ("clip-h", b"JUNK", "wav", sr),
    ]
    return spark.createDataFrame(
        rows, "clip_id string, bytes binary, codec string, sr_hz int"
    )


def test_audio_dedup_decisions_resume_and_stage_sigs(spark, tmp_path):
    clips = _corpus(spark)
    root = str(tmp_path / "audio_dedup")

    s1 = run_audio_dedup(spark, clips, root, run_id="t1")
    assert s1["stages_run"] == 4 and s1["stages_skipped"] == 0
    hist = s1["decision_histogram"]
    assert hist == {
        "keep": 3,  # a (group winner), d, e
        "drop_audio_dup": 2,  # b, c
        "keep_degenerate": 2,  # f, g
        "error": 1,  # h
    }
    # counted during the decisions write, equal to a groupBy over it
    grouped = spark.read.parquet(f"{root}/decisions").groupBy("decision").count()
    assert hist == {r.decision: r["count"] for r in grouped.collect()}
    dec = {r.clip_id: r for r in spark.read.parquet(f"{root}/decisions").collect()}
    assert dec["clip-a"].decision == "keep" and dec["clip-b"].group_id == "clip-a"
    assert dec["clip-c"].group_id == "clip-a"
    assert dec["clip-f"].group_id == "clip-f"  # degenerate: own group
    # bucket drop accounting surfaced
    assert s1["metrics"]["pairs"]["dropped_members"] == "0"

    # full resume: same params -> every stage skipped, same histogram
    s2 = run_audio_dedup(spark, clips, root, run_id="t2")
    assert s2["stages_run"] == 0 and s2["stages_skipped"] == 4
    assert s2["decision_histogram"] == hist

    # grouping-knob change: the fingerprint stage (its OWN empty sig)
    # is reused; pairs + downstream rerun with the new threshold
    s3 = run_audio_dedup(spark, clips, root, run_id="t3", max_hamming=0)
    assert s3["stages_skipped"] == 1 and s3["stages_run"] == 3
    # hamming 0 still groups the re-encode family (identical fp64)
    assert s3["decision_histogram"] == hist


def test_audio_dedup_subfp_tier_and_tier_switch_resume(spark, tmp_path):
    """--tier subfp drives the sub-fingerprint matcher through the
    composed job: a 20 dB noisy twin (fp64 hamming far past 7 on this
    chirp — the fp64 tier must KEEP it) becomes drop_audio_dup at the
    subfp tier, and the tier switch reuses the committed fingerprint
    stage (decode runs once across BOTH tiers)."""
    from go_pkg_spider_spark.fixtures.audio_fp_fixtures import _noisy

    sr = 16_000
    up = _chirp(sr, sr, 200.0, 2000.0)
    rows = [
        ("clip-a", _wav(up, sr), "wav", sr),
        ("clip-n", _wav(_noisy(up, 20.0), sr), "wav", sr),  # noisy twin
        ("clip-d", _wav(_chirp(sr, sr, 2000.0, 200.0), sr), "wav", sr),
        ("clip-g", _wav(np.zeros(sr), sr), "wav", sr),  # degenerate
        ("clip-h", b"JUNK", "wav", sr),  # error
    ]
    clips = spark.createDataFrame(
        rows, "clip_id string, bytes binary, codec string, sr_hz int"
    )
    root = str(tmp_path / "audio_dedup_tiers")

    s1 = run_audio_dedup(spark, clips, root, run_id="fp64-run")
    assert s1["decision_histogram"] == {
        "keep": 3,  # a, n (fp64 misses the noisy twin), d
        "keep_degenerate": 1,
        "error": 1,
    }

    # tier switch: fingerprints (knob-free sig) resume; pairs +
    # components + decisions re-run under the subfp matcher
    s2 = run_audio_dedup(spark, clips, root, run_id="subfp-run", tier="subfp")
    assert s2["stages_skipped"] == 1 and s2["stages_run"] == 3
    assert s2["metrics"]["pairs"]["tier"] == "subfp"
    assert s2["decision_histogram"] == {
        "keep": 2,  # a (group winner), d
        "drop_audio_dup": 1,  # the noisy twin, recovered
        "keep_degenerate": 1,
        "error": 1,
    }
    dec = {r.clip_id: r for r in spark.read.parquet(f"{root}/decisions").collect()}
    assert dec["clip-n"].decision == "drop_audio_dup"
    assert dec["clip-n"].group_id == "clip-a"

    # same-tier resume stays idempotent
    s3 = run_audio_dedup(spark, clips, root, run_id="subfp-rerun", tier="subfp")
    assert s3["stages_run"] == 0 and s3["stages_skipped"] == 4
    assert s3["decision_histogram"] == s2["decision_histogram"]


# Every mode's chain params_sig at default knobs. A committed root
# resumes only while its stages' sigs stay byte-identical, so a change
# here reruns every existing root of that mode. "{src}" is the
# compaction's source root.
_SIG_GOLDENS = {
    "batch_fp64": '{"max_bucket_size": 1024, "max_hamming": 7, '
    '"min_jaccard": 0.4, "min_overlap_ratio": 0.5, "tier": "fp64"}',
    "batch_subfp": '{"max_bucket_size": 1024, "min_jaccard": 0.4, '
    '"min_overlap_ratio": 0.5, "tier": "subfp"}',
    "increment_fp64": '{"max_bucket_size": 1024, "max_hamming": 7, '
    '"max_key_matches": 1024, "min_jaccard": 0.4, "min_overlap_ratio": 0.5, '
    '"tier": "fp64"}',
    "increment_subfp": '{"max_bucket_size": 1024, "max_key_matches": 1024, '
    '"min_jaccard": 0.4, "min_overlap_ratio": 0.5, "tier": "subfp"}',
    "compact": '{"compacted_from": {src}, "n_increments": 1, "rematch": false}',
    "compact_rematch_subfp": '{"compacted_from": {src}, "max_bucket_size": 1024, '
    '"min_jaccard": 0.4, "min_overlap_ratio": 0.5, "n_increments": 1, '
    '"rematch": true, "tier": "subfp"}',
    "compact_rematch_fp64": '{"compacted_from": {src}, "max_bucket_size": 1024, '
    '"max_hamming": 7, "min_jaccard": 0.4, "min_overlap_ratio": 0.5, '
    '"n_increments": 1, "rematch": true, "tier": "fp64"}',
}


class _Built(Exception):
    """Carries the params_sig of the StageRunner a job just built."""


@pytest.mark.parametrize("mode", sorted(_SIG_GOLDENS))
def test_params_sig_goldens(spark, tmp_path, monkeypatch, mode):
    """Each mode builds its StageRunner with the golden params_sig. The
    job stops as soon as the runner exists, so no stage runs; the
    source root is a committed-looking layout with one increment (its
    manifest's latest decisions row is done)."""
    from go_pkg_spider_spark.io import stages
    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.manifest import append_rows
    from jobs.run_audio_dedup import AUDIO_DEDUP_MANIFEST_TABLE

    class Capture(stages.StageRunner):
        def __init__(self, *a, **k):
            super().__init__(*a, **k)
            raise _Built(self.params_sig)

    monkeypatch.setattr(stages, "StageRunner", Capture)
    root = tmp_path / "root"
    for d in (root / "decisions", root / "increments" / "inc1" / "decisions"):
        d.mkdir(parents=True)
        (d / "_SUCCESS").touch()
    append_rows(
        Catalog(spark, str(root / "increments" / "inc1")),
        AUDIO_DEDUP_MANIFEST_TABLE,
        stages.STAGE_MANIFEST_SCHEMA,
        [{"stage": "decisions", "status": "done"}],
    )
    src, target = str(root), str(tmp_path / "target")
    calls = {
        "batch_fp64": lambda: run_audio_dedup(spark, None, src),
        "batch_subfp": lambda: run_audio_dedup(spark, None, src, tier="subfp"),
        "increment_fp64": lambda: run_audio_dedup_increment(
            spark, None, src, "inc2"
        ),
        "increment_subfp": lambda: run_audio_dedup_increment(
            spark, None, src, "inc2", tier="subfp"
        ),
        "compact": lambda: run_audio_dedup_compact(spark, src, target),
        "compact_rematch_subfp": lambda: run_audio_dedup_compact(
            spark, src, target, rematch=True
        ),
        "compact_rematch_fp64": lambda: run_audio_dedup_compact(
            spark, src, target, rematch=True, tier="fp64"
        ),
    }
    with pytest.raises(_Built) as built:
        calls[mode]()
    want = _SIG_GOLDENS[mode].replace("{src}", json.dumps(src))
    assert built.value.args[0] == want


def test_stage_reads_use_the_recorded_schemas(spark, tmp_path, stage_reads):
    """Every stage table of the batch chain (committed and resumed), of
    an increment and of a compaction reads with the schema its done
    row records: no inference job, the inferred schema."""
    from pyspark.sql import functions as F

    clips = _corpus(spark)
    late = F.col("clip_id").isin("clip-b", "clip-c", "clip-g")
    root = str(tmp_path / "audio_schemas")
    run_audio_dedup(spark, clips.filter(~late), root, run_id="t1")
    assert run_audio_dedup(spark, clips.filter(~late), root, run_id="t2")["stages_skipped"] == 4
    run_audio_dedup_increment(spark, clips.filter(late), root, "inc1")
    run_audio_dedup_compact(spark, root, str(tmp_path / "compacted"))
    chain = ["fingerprints", "pairs", "components", "decisions"]
    increment = ["fingerprints", "within_pairs", "matches", "decisions"]
    assert sorted(s for _, s in stage_reads()) == sorted(chain * 3 + increment)
