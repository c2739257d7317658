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

import pytest

from go_pkg_spider_spark.fixtures.audio_fp_fixtures import (
    INCREMENT_BASE_IDS,
    INCREMENT_EXPECTED,
    build_increment_rows,
    build_subfp_rows,
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


def derive_increment_expected() -> list[tuple]:
    """Recompute the incremental gate truth INDEPENDENTLY of the Spark
    operators: committed groups = brute-force subfp union-find over
    the base rows alone; increment labels = union-find over the batch
    rows plus one node per reachable committed group (prefixed so the
    committed group always wins the min-id label — the
    assign_increment semantics re-derived from the predicates, not
    from the production code path)."""
    from go_pkg_spider_spark.operators.audio_fp import (
        FP_MIN_SHARED_SITES,
        _fp_row_full,
        probe_shared_sites,
        subfp_match_stats,
        subfp_pair_passes,
    )

    def match(ra, rb) -> bool:
        if probe_shared_sites(ra[6], rb[6]) < FP_MIN_SHARED_SITES:
            return False
        jac, ratio, shift = subfp_match_stats(ra[5], rb[5])
        return subfp_pair_passes(jac, ratio, shift)

    base_rows = {cid: r for cid, r in (
        (cid, _fp_row_full(cid, b, c, s))
        for cid, b, c, s in build_subfp_rows()
        if cid in INCREMENT_BASE_IDS
    )}
    batch_rows = {
        cid: _fp_row_full(cid, b, c, s)
        for cid, b, c, s in build_increment_rows()
    }

    def eligible(rows):
        return sorted(c for c, r in rows.items() if r[1] is None and not r[4])

    # committed groups over the base alone (the batch job's truth)
    parent = {cid: cid for cid in base_rows}

    def find(p, x):
        while p[x] != x:
            p[x] = p[p[x]]
            x = p[x]
        return x

    b_elig = eligible(base_rows)
    for i, a in enumerate(b_elig):
        for b in b_elig[i + 1:]:
            ra, rb = find(parent, a), find(parent, b)
            if ra != rb and match(base_rows[a], base_rows[b]):
                parent[max(ra, rb)] = min(ra, rb)
    base_group = {cid: find(parent, cid) for cid in base_rows}

    # increment graph: batch nodes + prefixed committed-group nodes
    nodes = {cid: cid for cid in batch_rows}
    i_elig = eligible(batch_rows)
    for i, a in enumerate(i_elig):
        for b in i_elig[i + 1:]:
            if match(batch_rows[a], batch_rows[b]):
                ra, rb = find(nodes, a), find(nodes, b)
                if ra != rb:
                    nodes[max(ra, rb)] = min(ra, rb)
    for a in i_elig:
        for b in b_elig:
            if match(batch_rows[a], base_rows[b]):
                g = "\x00" + base_group[b]
                nodes.setdefault(g, g)
                ra, rb = find(nodes, a), find(nodes, g)
                if ra != rb:
                    nodes[max(ra, rb)] = min(ra, rb)

    out = []
    for cid in sorted(batch_rows):
        err, n_subfp, deg = (
            batch_rows[cid][1],
            batch_rows[cid][2],
            batch_rows[cid][4],
        )
        label = find(nodes, cid) if cid in i_elig else cid
        group = label[1:] if label.startswith("\x00") else label
        if err is not None:
            decision = "error"
        elif deg:
            decision = "keep_degenerate"
        elif group != cid:
            decision = "drop_audio_dup"
        else:
            decision = "keep"
        out.append((cid, err, n_subfp, deg, group, decision))
    return out
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
    # counted during the increment's decisions write, equal to a groupBy
    # over the table it committed
    grouped = spark.read.parquet(f"{root}/increments/inc1/decisions").groupBy("decision").count()
    assert summary["decision_histogram"] == {r.decision: r["count"] for r in grouped.collect()}

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


def test_cross_root_reads_start_no_schema_job(spark, tmp_path, jobs_of):
    """The reads an increment makes of the committed state (every
    root's fingerprints, then every root's decisions) take each table's
    schema from its root's done row, so building them starts no Spark
    job: counted by job group, with a base root and one increment.
    Inferring the schema instead starts one job per root and read."""
    from jobs.run_audio_dedup import read_committed

    rows = _rows_by_id()
    root = str(tmp_path / "root")
    run_audio_dedup(
        spark, _df(spark, [rows["a0"], rows["b0"]]), root,
        run_id="base", tier="subfp",
    )
    run_audio_dedup_increment(
        spark, _df(spark, [rows["a1"]]), root, run_id="inc", tier="subfp"
    )
    fp, fp_jobs = jobs_of(lambda: read_all_fingerprints(spark, root))
    dec, dec_jobs = jobs_of(lambda: read_all_decisions(spark, root))
    assert (fp_jobs, dec_jobs) == (0, 0)
    assert fp.count() == dec.count() == 3
    # the compaction's edge union reads the same way
    inc = str(tmp_path / "root" / "increments" / "inc")
    for r, stage in ((root, "pairs"), (inc, "within_pairs"), (inc, "matches")):
        _, jobs = jobs_of(lambda r=r, stage=stage: read_committed(spark, r, stage))
        assert jobs == 0, stage


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


def test_compact_rematch_fp64_equals_edge_union(spark, tmp_path):
    """With no concurrent increments every fp64 pair of the union is
    already a committed edge (the base's pairs, the increment's
    within_pairs or its matches), so a rematch compaction at the fp64
    tier must decide exactly as the edge-union one. The fixture has
    one edge of each increment kind: f0, a FLAC re-encode of the
    committed a0 (a match), and y0/y1, a new AM clip and its FLAC
    re-encode (a within pair); the noisy twin a1 stays unmatched at
    this tier."""
    from go_pkg_spider_spark.fixtures.audio_fixtures import _flac, _wav
    from go_pkg_spider_spark.fixtures.audio_fp_fixtures import _am, _chirp

    rows = _rows_by_id()
    root = str(tmp_path / "root")
    run_audio_dedup(
        spark, _df(spark, [rows["a0"], rows["b0"]]), root,
        run_id="base", tier="fp64",
    )
    up = _chirp(_SR, _SR, 200.0, 2000.0)
    am = _am(_SR, _SR, 1200.0, 7.0)
    run_audio_dedup_increment(
        spark,
        _df(spark, [
            ("f0", _flac(up, _SR), "flac", _SR),
            ("y0", _wav(am, _SR), "wav", _SR),
            ("y1", _flac(am, _SR), "flac", _SR),
            rows["a1"],
        ]),
        root,
        run_id="inc",
        tier="fp64",
    )

    plain = str(tmp_path / "plain")
    run_audio_dedup_compact(spark, root, plain)
    re = str(tmp_path / "rematch")
    s = run_audio_dedup_compact(spark, root, re, rematch=True, tier="fp64")
    assert s["metrics"]["pairs"]["tier"] == "fp64"
    got = _decisions(spark, re)
    assert got == _decisions(spark, plain)
    assert got["f0"] == ("a0", "drop_audio_dup")
    assert got["y1"] == ("y0", "drop_audio_dup")
    assert got["a1"] == ("a1", "keep")


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
