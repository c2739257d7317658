"""Incremental audio dedup (the production ingest mode): match a new
batch against the committed fingerprint state without re-decoding it,
label under incremental semantics (committed groups immutable,
smallest committed group wins, unmatched new clips group among
themselves), resume idempotently per increment, and surface deferred
merges when new clips bridge committed groups. The streaming twin
(jobs/run_streaming.py audio-dedup) derives its increment run_id from
the micro-batch id so replays resume instead of double-appending.
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import pytest

from go_pkg_spider_spark.fixtures.audio_fp_fixtures import (
    INCREMENT_BASE_IDS,
    INCREMENT_EXPECTED,
    build_increment_rows,
    build_subfp_rows,
    derive_increment_expected,
)
from go_pkg_spider_spark.operators import audio_fp as afp
from jobs.run_audio_dedup import (
    read_all_decisions,
    read_all_fingerprints,
    run_audio_dedup,
    run_audio_dedup_compact,
    run_audio_dedup_increment,
)

_SCHEMA = "clip_id string, bytes binary, codec string, sr_hz int"
_SR = 16_000


def _rows_by_id():
    return {cid: (cid, b, c, s) for cid, b, c, s in build_subfp_rows()}


def _df(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def _decisions(spark, root):
    return {
        r.clip_id: (r.group_id, r.decision)
        for r in read_all_decisions(spark, root).collect()
    }


def test_match_against_equals_self_join_closure(spark):
    """Operator contract: matching a corpus against ITSELF must return
    exactly the symmetric closure of the self-join pair generator
    (both tiers) — the cross matcher blocks on the same keys and
    verifies with the same kernel, so any divergence is a bug in one
    of the two paths."""
    fpf = afp.fingerprint_clips_full(
        _df(spark, build_subfp_rows())
    ).localCheckpoint()

    sub_self = {
        frozenset((r.id_a, r.id_b))
        for r in afp.audio_subfp_pairs(fpf).collect()
    }
    sub_cross = [
        (r.id_a, r.id_b)
        for r in afp.audio_fp_match_against(fpf, fpf, tier="subfp").collect()
    ]
    assert {frozenset(p) for p in sub_cross} == sub_self
    assert len(sub_cross) == 2 * len(sub_self)  # both directions, once

    fp_self = {
        frozenset((r.id_a, r.id_b))
        for r in afp.verify_pairs(fpf, afp.audio_fp_pairs(fpf)).collect()
    }
    fp_cross = {
        frozenset((r.id_a, r.id_b))
        for r in afp.audio_fp_match_against(fpf, fpf, tier="fp64").collect()
    }
    assert fp_cross == fp_self


def test_increment_frozen_truth_matches_live_derivation():
    """INCREMENT_EXPECTED is the frozen output of
    derive_increment_expected() — incremental semantics re-derived by
    independent union-finds over the predicates. Kernel drift trips
    here before the driver gate does."""
    assert derive_increment_expected() == INCREMENT_EXPECTED


def test_increment_matches_full_batch(spark, tmp_path):
    """Splitting the corpus into a committed base + an increment must
    label the increment rows exactly as one full batch run over the
    union does: noisy twins and the 200 ms trim attach to the
    committed a0 group (cross matches), t0 stays out (past the scan
    window), the x0/x1 AM pair — unseen by the index — founds its own
    new group (within-pairs), and degenerate/error rows stay typed."""
    rows = _rows_by_id()
    inc_rows = build_increment_rows()
    root = str(tmp_path / "root")

    run_audio_dedup(
        spark, _df(spark, [rows[i] for i in INCREMENT_BASE_IDS]), root,
        run_id="base", tier="subfp",
    )
    summary = run_audio_dedup_increment(
        spark, _df(spark, inc_rows), root, run_id="inc1", tier="subfp",
    )
    assert summary["stages_run"] == 4
    assert summary["decision_histogram"] == {
        "drop_audio_dup": 4,  # a1, a2, a4 -> a0; x1 -> x0
        "keep": 2,  # t0, x0
        "keep_degenerate": 1,  # z0
        "error": 1,  # e1
    }
    assert summary["metrics"]["decisions"]["deferred_merges"] == "0"

    got = _decisions(spark, root)
    for cid, _err, _n, _deg, group, decision in INCREMENT_EXPECTED:
        assert got[cid] == (group, decision), (cid, got[cid])

    # equivalence with ONE full batch run over the union, on the
    # increment's rows (committed base rows are immutable by design)
    full_root = str(tmp_path / "full")
    run_audio_dedup(
        spark,
        _df(spark, [rows[i] for i in INCREMENT_BASE_IDS] + inc_rows),
        full_root,
        run_id="full",
        tier="subfp",
    )
    full = _decisions(spark, full_root)
    for cid, *_ in INCREMENT_EXPECTED:
        assert got[cid] == full[cid], (cid, got[cid], full[cid])

    # the full fingerprint state now covers base + increment, and a
    # SECOND increment matches against it: a fresh twin of x1 (same
    # bytes, new id) attaches to the x0 group committed by increment 1
    n_fp = read_all_fingerprints(spark, root).count()
    assert n_fp == len(INCREMENT_BASE_IDS) + len(inc_rows)
    x1_bytes = next(r[1] for r in inc_rows if r[0] == "x1")
    s2 = run_audio_dedup_increment(
        spark, _df(spark, [("x2", x1_bytes, "wav", _SR)]), root,
        run_id="inc2", tier="subfp",
    )
    assert s2["decision_histogram"] == {"drop_audio_dup": 1}
    assert _decisions(spark, root)["x2"] == ("x0", "drop_audio_dup")


def test_increment_rerun_resumes(spark, tmp_path):
    """Re-running an increment under the same run_id must resume every
    stage (no recompute, no double rows) — the exactly-once story the
    streaming twin's batch_id-derived run_ids lean on."""
    rows = _rows_by_id()
    root = str(tmp_path / "root")
    run_audio_dedup(
        spark, _df(spark, [rows["a0"], rows["b0"]]), root,
        run_id="base", tier="subfp",
    )
    first = run_audio_dedup_increment(
        spark, _df(spark, [rows["a1"]]), root, run_id="inc", tier="subfp"
    )
    again = run_audio_dedup_increment(
        spark, _df(spark, [rows["a1"]]), root, run_id="inc", tier="subfp"
    )
    assert first["stages_run"] == 4
    assert again["stages_run"] == 0
    assert again["stages_skipped"] == 4
    assert again["decision_histogram"] == first["decision_histogram"]
    assert read_all_decisions(spark, root).count() == 3


def test_increment_fp64_tier(spark, tmp_path):
    """The cheap tier works through the job-level append path too: an
    exact re-encode twin (same PCM, FLAC container) collides at fp64
    hamming 0, survives the always-on stream verify at Jaccard 1.0,
    and attaches to the committed group; the 20 dB noisy twin stays
    un-matched at this tier (the measured contrast)."""
    from go_pkg_spider_spark.fixtures.audio_fixtures import _flac
    from go_pkg_spider_spark.fixtures.audio_fp_fixtures import _chirp

    rows = _rows_by_id()
    root = str(tmp_path / "root")
    run_audio_dedup(
        spark, _df(spark, [rows["a0"], rows["b0"]]), root,
        run_id="base", tier="fp64",
    )
    up = _chirp(_SR, _SR, 200.0, 2000.0)
    s = run_audio_dedup_increment(
        spark,
        _df(spark, [("f0", _flac(up, _SR), "flac", _SR), rows["a1"]]),
        root,
        run_id="inc",
        tier="fp64",
    )
    assert s["decision_histogram"] == {"drop_audio_dup": 1, "keep": 1}
    got = _decisions(spark, root)
    assert got["f0"] == ("a0", "drop_audio_dup")
    assert got["a1"] == ("a1", "keep")  # fp64 misses the noisy twin


def test_increment_requires_committed_base(spark, tmp_path):
    with pytest.raises(ValueError, match="no committed"):
        run_audio_dedup_increment(
            spark,
            _df(spark, list(_rows_by_id().values())[:1]),
            str(tmp_path / "nothing_here"),
            run_id="inc",
        )


def test_increment_bridge_counts_deferred_merge(spark, tmp_path):
    """A new clip verifying against TWO committed groups attaches to
    the smallest and surfaces a deferred merge, never rewrites the
    committed rows. Construction: the fp64-tier base run leaves a0
    and a3 (its 60% truncation) in SEPARATE committed groups (hamming
    far past 7 — the measured contrast); the subfp-tier increment's
    a1 (20 dB noisy full-length twin) verifies against BOTH."""
    rows = _rows_by_id()
    root = str(tmp_path / "root")
    base = run_audio_dedup(
        spark, _df(spark, [rows["a0"], rows["a3"], rows["b0"]]), root,
        run_id="base", tier="fp64",
    )
    assert base["decision_histogram"] == {"keep": 3}  # a0, a3 separate

    s = run_audio_dedup_increment(
        spark, _df(spark, [rows["a1"]]), root, run_id="inc", tier="subfp"
    )
    assert s["metrics"]["decisions"]["deferred_merges"] == "1"
    got = _decisions(spark, root)
    assert got["a1"] == ("a0", "drop_audio_dup")
    assert got["a3"] == ("a3", "keep")  # committed row untouched


def test_compact_resolves_deferred_merges(spark, tmp_path):
    """The --compact-to maintenance pass must recluster over the
    COMMITTED edges alone (no re-fingerprint, no re-verify) and
    resolve the bridge the increment deferred: the fp64 base leaves
    a0/a3 split, the subfp increment's a1 bridges them, and the
    compacted root puts all three in ONE group. The compacted root is
    itself a valid append target, and re-compacting resumes."""
    rows = _rows_by_id()
    root = str(tmp_path / "root")
    run_audio_dedup(
        spark, _df(spark, [rows["a0"], rows["a3"], rows["b0"]]), root,
        run_id="base", tier="fp64",
    )
    run_audio_dedup_increment(
        spark, _df(spark, [rows["a1"]]), root, run_id="inc", tier="subfp"
    )
    # deferred state: committed a3 still keeps its own group
    assert _decisions(spark, root)["a3"] == ("a3", "keep")

    target = str(tmp_path / "compacted")
    s = run_audio_dedup_compact(spark, root, target)
    assert s["compacted_increments"] == 1
    assert s["decision_histogram"] == {"keep": 2, "drop_audio_dup": 2}
    got = _decisions(spark, target)
    assert got["a0"] == ("a0", "keep")
    assert got["a1"] == ("a0", "drop_audio_dup")
    assert got["a3"] == ("a0", "drop_audio_dup")  # the deferred merge
    assert got["b0"] == ("b0", "keep")
    # source root untouched (blue/green)
    assert _decisions(spark, root)["a3"] == ("a3", "keep")

    # resume: re-compacting the same source into the same target skips
    again = run_audio_dedup_compact(spark, root, target)
    assert again["stages_run"] == 0
    assert again["stages_skipped"] == 4

    # the compacted root accepts appends: a2 attaches to the merged a0
    s2 = run_audio_dedup_increment(
        spark, _df(spark, [rows["a2"]]), target, run_id="inc2", tier="subfp"
    )
    assert s2["decision_histogram"] == {"drop_audio_dup": 1}
    assert _decisions(spark, target)["a2"] == ("a0", "drop_audio_dup")


def test_compact_rematch_recovers_missing_edges(spark, tmp_path):
    """--rematch re-runs the pair generator over the unioned
    fingerprints instead of trusting committed edges — recovering
    pairs no committed table holds (concurrent increments, or as
    here, an increment that ran under a stricter threshold). Plain
    edge-union compaction faithfully preserves the miss; rematch at
    the default threshold finds it. No re-decode either way."""
    rows = _rows_by_id()
    root = str(tmp_path / "root")
    run_audio_dedup(
        spark, _df(spark, [rows["a0"], rows["b0"]]), root,
        run_id="base", tier="subfp",
    )
    # strict-threshold increment: the 20 dB twin scores ~0.97 < 0.995
    s = run_audio_dedup_increment(
        spark, _df(spark, [rows["a1"]]), root, run_id="inc",
        tier="subfp", min_jaccard=0.995,
    )
    assert s["decision_histogram"] == {"keep": 1}  # the miss

    plain = str(tmp_path / "plain")
    sp = run_audio_dedup_compact(spark, root, plain)
    assert sp["decision_histogram"] == {"keep": 3}  # faithfully missed

    re = str(tmp_path / "rematch")
    sr = run_audio_dedup_compact(spark, root, re, rematch=True, tier="subfp")
    assert sr["decision_histogram"] == {"keep": 2, "drop_audio_dup": 1}
    assert _decisions(spark, re)["a1"] == ("a0", "drop_audio_dup")


def test_streaming_twin_parity_and_restart(spark, tmp_path):
    """The foreachBatch streaming twin over a landing dir must produce
    the same increment decisions as the batch --append call, and a
    restart from the same checkpoint must not reprocess (no new
    increments, same rows)."""
    from go_pkg_spider_spark.streaming.jobs import read_clips_stream

    rows = _rows_by_id()
    root = str(tmp_path / "root")
    run_audio_dedup(
        spark, _df(spark, [rows["a0"], rows["b0"]]), root,
        run_id="base", tier="subfp",
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    spark.createDataFrame(
        [
            (cid, b, sr, 1000, c, None)
            for cid, b, c, sr in (rows["a1"], rows["t0"])
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    ).coalesce(1).write.parquet(str(landing / "batch0"))

    def drain():
        stream = read_clips_stream(spark, str(landing / "batch0"))

        def handle(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            run_audio_dedup_increment(
                spark, batch_df, root,
                run_id=f"stream-{batch_id:012d}", tier="subfp",
            )

        q = (
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    got = _decisions(spark, root)
    assert got["a1"] == ("a0", "drop_audio_dup")
    assert got["t0"][1] == "keep"
    n_rows = read_all_decisions(spark, root).count()

    # restart: checkpoint says the file is consumed — nothing re-runs
    drain()
    assert read_all_decisions(spark, root).count() == n_rows


def test_append_rejects_cross_root_fp_schema_mismatch(spark, tmp_path):
    """ADVICE r8 #1: --append against a base whose fingerprints stage
    was committed at an older fp_schema_v must FAIL LOUDLY instead of
    silently finding zero cross-matches (v3 pos-keyed probes vs v4
    cell-keyed probes never collide)."""
    import json

    from pyspark.sql import functions as F

    import jobs.run_audio_dedup as rad

    rows = _rows_by_id()
    root = str(tmp_path / "root")
    run_audio_dedup(
        spark, _df(spark, [rows[i] for i in INCREMENT_BASE_IDS]), root,
        run_id="base", tier="subfp",
    )
    # sanity: a matching-version root passes the guard
    rad._require_fp_schema(spark, [root])

    # tamper the committed manifest's fingerprints row to an older
    # schema version (simulating a root written by the v3 job)
    from go_pkg_spider_spark.io.catalog import Catalog

    cat = Catalog(spark, root)
    mdf = cat.read(rad.AUDIO_DEDUP_MANIFEST_TABLE)
    old_sig = json.dumps({"fp_schema_v": rad._FP_SCHEMA_V - 1}, sort_keys=True)
    tampered = mdf.withColumn(
        "metrics",
        F.when(
            F.col("stage") == "fingerprints",
            F.map_concat(
                F.map_filter(F.col("metrics"), lambda k, v: k != F.lit("params_sig")),
                F.create_map(F.lit("params_sig"), F.lit(old_sig)),
            ),
        ).otherwise(F.col("metrics")),
    )
    rows_t = tampered.collect()
    cat.write(
        spark.createDataFrame(rows_t, mdf.schema),
        rad.AUDIO_DEDUP_MANIFEST_TABLE,
    )

    with pytest.raises(RuntimeError, match="fp_schema_v"):
        rad._require_fp_schema(spark, [root])
    with pytest.raises(RuntimeError, match="fp_schema_v"):
        run_audio_dedup_increment(
            spark, _df(spark, build_increment_rows()), root,
            run_id="inc_bad", tier="subfp",
        )


def test_fp_schema_guard_skips_root_whose_latest_fingerprints_row_is_running(
    spark, tmp_path
):
    """The guard reads the LATEST fingerprints row. Once a later commit
    crashed mid-write (latest row `running`), an older done row no
    longer describes the table on disk, so the guard leaves the root to
    the existence checks, as it does a root with no done row."""
    import json

    import jobs.run_audio_dedup as rad
    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.manifest import append_rows
    from go_pkg_spider_spark.io.stages import STAGE_MANIFEST_SCHEMA

    root = str(tmp_path / "root")
    old_sig = json.dumps({"fp_schema_v": rad._FP_SCHEMA_V - 1}, sort_keys=True)

    def append(status):
        append_rows(
            Catalog(spark, root),
            rad.AUDIO_DEDUP_MANIFEST_TABLE,
            STAGE_MANIFEST_SCHEMA,
            [{"stage": "fingerprints", "status": status,
              "metrics": {"params_sig": old_sig}}],
        )

    append("done")
    with pytest.raises(RuntimeError, match="fp_schema_v"):
        rad._require_fp_schema(spark, [root])
    append("running")
    rad._require_fp_schema(spark, [root])
