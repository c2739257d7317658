"""Composed AUDIO near-dup job: robust fingerprint -> candidate pairs
-> connected components -> one decision row per clip — the perceptual
twin of jobs/run_dedup.py for the north-star's audio payload, as ONE
spark-submit artifact.

    zip -qr /tmp/pkg.zip go_pkg_spider_spark
    spark-submit --driver-memory 24g --py-files /tmp/pkg.zip \
        jobs/run_audio_dedup.py --input /data/clips \
        --output-root /data/audio_dedup --run-id nightly [--tier subfp]

Two matching tiers over ONE committed fingerprint table
(operators/audio_fp.py module docstring has the measured trade):

- ``--tier fp64`` (default): 8x8-bit pigeonhole blocking over the
  64-bit shingle-simhash key, exact recall at hamming <= max_hamming.
  Cheapest; re-encode transforms exact, noise to 40 dB SNR.
- ``--tier subfp``: active-position probe blocking + bit-set-Jaccard
  verify over the packed sub-fingerprint streams — recovers noise to
  10 dB SNR and non-integer resamples the 64-bit compression loses.

Both tiers STREAM-VERIFY their candidates by default (the H&K
lookup-then-verify architecture; ``--no-verify-pairs`` restores raw
fp64 grouping): on sparse semi-stationary corpora the 64-bit simhash
is voted by too few shingles and DISTINCT clips collide at
hamming <= 7 — measured on the 500-clip datagen corpus, all 8 fp64
candidate pairs were false (aligned-overlap Jaccard 0.09-0.23 vs 1.0
for true re-encode twins). Verification joins the committed streams
at candidate-pair volume only.

Scale/resume design (the run_dedup.py conventions, stage-manifested):
- `fingerprints` commits the FULL fingerprint table FIRST (fp64 key +
  packed subfp stream + blocking probes, <= ~8 KiB/clip — still ~400x
  smaller than the PCM it summarizes): the expensive decode+FFT pass
  runs exactly once, and EVERY downstream rerun — including a TIER
  switch — reads it back instead of re-decoding the corpus. The
  fp64-tier stages select only the ~20-byte columns, so the parquet
  scan prunes the stream column and never pays for it. Grouping knobs
  (tier, max_hamming, min_jaccard, min_overlap_ratio,
  max_bucket_size) are therefore EXCLUDED from the fingerprint
  stage's params_sig (StageRunner per-stage extra_sig) and only gate
  the downstream stages.
- `pairs` commits the verified candidate pairs with the bucket-cap
  drop accounting observed into the manifest metrics (fp64: hamming
  column; subfp: jaccard + overlap_ratio columns).
- `components` labels over the COMMITTED pairs (lineage cut),
  endpoint-only node set.
- `decisions`: error rows -> 'error'; degenerate fingerprints (zero
  or sub-evidence-floor spectro-temporal variation) ->
  'keep_degenerate' (no identity to assert; NEVER merged); group
  losers -> 'drop_audio_dup'; else 'keep'.
- Single-writer run lease on the output root (io/stages.run_lease).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

AUDIO_DEDUP_MANIFEST_TABLE = "audio_dedup_manifest"

# the committed fingerprint stage's schema/semantics version: bumped
# when the stage table's columns OR their contents change so a
# manifest written by an older job version re-runs the stage instead
# of resuming into incompatible committed rows (v2: + subfps, probes;
# v3: probes re-keyed to encoded (pos << 16 | value) at active
# positions; v4: trim-robust coarse-cell probes, (cell << 16 | value)
# double-emitted at adjacent cells)
_FP_SCHEMA_V = 4


def run_audio_dedup(
    spark,
    clips,
    output_root: str,
    run_id: str = "adhoc",
    tier: str = "fp64",
    max_hamming: int = 7,
    max_bucket_size: int = 1024,
    min_jaccard: float | None = None,
    min_overlap_ratio: float | None = None,
    verify_pairs: bool = True,
) -> dict:
    from go_pkg_spider_spark.io.stages import run_lease

    if tier not in ("fp64", "subfp"):
        raise ValueError(f"unknown tier {tier!r} (fp64 | subfp)")
    with run_lease(output_root, run_id):
        return _run_locked(
            spark,
            clips,
            output_root,
            run_id,
            tier,
            max_hamming,
            max_bucket_size,
            min_jaccard,
            min_overlap_ratio,
            verify_pairs,
        )


def _run_locked(
    spark,
    clips,
    output_root: str,
    run_id: str,
    tier: str,
    max_hamming: int,
    max_bucket_size: int,
    min_jaccard: float | None,
    min_overlap_ratio: float | None,
    verify_pairs: bool,
) -> dict:
    from pyspark.sql import Observation, functions as F

    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.stages import StageRunner
    from go_pkg_spider_spark.operators import components as cc_ops
    from go_pkg_spider_spark.operators import audio_fp as afp

    if min_jaccard is None:
        min_jaccard = afp.FP_SUBFP_JACCARD
    if min_overlap_ratio is None:
        min_overlap_ratio = afp.FP_MIN_OVERLAP_RATIO

    # every knob that changes the PAIR tier's output rides the global
    # sig; the fingerprint stage is knob-free by design (only the
    # committed schema version) so tier/threshold changes never
    # re-decode the corpus
    if tier == "fp64":
        params = {
            "tier": tier,
            "max_hamming": max_hamming,
            "max_bucket_size": max_bucket_size,
            "verify_pairs": verify_pairs,
        }
        if verify_pairs:
            params["min_jaccard"] = min_jaccard
            params["min_overlap_ratio"] = min_overlap_ratio
    else:
        # the subfp tier always verifies — that IS the tier
        params = {
            "tier": tier,
            "min_jaccard": min_jaccard,
            "min_overlap_ratio": min_overlap_ratio,
            "max_bucket_size": max_bucket_size,
        }

    cat = Catalog(spark, output_root)
    runner = StageRunner(
        spark,
        cat,
        AUDIO_DEDUP_MANIFEST_TABLE,
        params,
        run_id,
        stage_params={"fingerprints": {"fp_schema_v": _FP_SCHEMA_V}},
    )
    summary = runner.summary
    commit, resumable = runner.commit, runner.resumable

    if not resumable("fingerprints"):
        commit("fingerprints", afp.fingerprint_clips_full(clips))
    fp = cat.read("fingerprints")

    if not resumable("pairs"):
        obs = Observation()
        if tier == "fp64":
            pairs = afp.audio_fp_pairs(
                fp,
                max_hamming=max_hamming,
                max_bucket_size=max_bucket_size,
                observation=obs,
            )
            if verify_pairs:
                pairs = afp.verify_pairs(
                    fp, pairs, min_jaccard, min_overlap_ratio
                )
        else:
            pairs = afp.audio_subfp_pairs(
                fp,
                min_jaccard=min_jaccard,
                min_overlap_ratio=min_overlap_ratio,
                max_bucket_size=max_bucket_size,
                observation=obs,
            )

        def _bucket_metrics():
            try:
                got = obs.get
            except Exception:
                # AQE empty-relation propagation through the verify
                # join eliminates the CollectMetrics node when the
                # bucket subtree produced ZERO rows (all-singleton
                # buckets) — the only collapse case, measured: with
                # any nonempty bucket the observation survives even
                # when every pair is later rejected. Zero buckets
                # means zero drops by definition.
                got = {}
            m = {
                "dropped_members": str(got.get("dropped_members") or 0),
                "max_bucket_members": str(got.get("max_bucket_members") or 0),
                "n_buckets": str(got.get("n_buckets") or 0),
                "tier": tier,
            }
            if tier == "fp64":
                m["max_hamming"] = str(max_hamming)
                m["verify_pairs"] = str(verify_pairs)
            if tier == "subfp" or verify_pairs:
                m["min_jaccard"] = str(min_jaccard)
                m["min_overlap_ratio"] = str(min_overlap_ratio)
            return m

        commit("pairs", pairs, metrics_after=_bucket_metrics)

    if not resumable("components"):
        # pair endpoints only (no corpus-wide node set): clips in no
        # pair are singletons and the decisions stage's left-join
        # coalesce labels them — keeps every iterative round at
        # O(near-dup members), not O(corpus)
        labels = cc_ops.connected_components(
            cat.read("pairs").select("id_a", "id_b"),
            src="id_a",
            dst="id_b",
            id_col="id",
        )
        commit("components", labels.select(F.col("id").alias("clip_id"), "component"))

    if not resumable("decisions"):
        labels = cat.read("components")
        # narrow column select: the parquet scan prunes the packed
        # subfp stream — decisions never pay for the 8 KiB column
        enriched = fp.select("clip_id", "err", "fp_degenerate", "fp64").join(
            labels, "clip_id", "left"
        )
        decision = (
            F.when(F.col("err").isNotNull(), "error")
            .when(F.col("fp_degenerate"), "keep_degenerate")
            .when(F.col("component") != F.col("clip_id"), "drop_audio_dup")
            .otherwise("keep")
        )
        commit(
            "decisions",
            enriched.select(
                "clip_id",
                "fp64",
                F.coalesce(F.col("component"), F.col("clip_id")).alias("group_id"),
                decision.alias("decision"),
            ),
        )

    dec = cat.read("decisions")
    summary["decision_histogram"] = {
        r.decision: r["count"] for r in dec.groupBy("decision").count().collect()
    }
    return summary


def _require_fp_schema(spark, roots) -> None:
    """ADVICE r8 #1 (correctness): cross-root reads of COMMITTED
    fingerprints (--append matching against a base, --compact-to
    unioning a base plus increments) must fail loudly when a source
    root's fingerprints stage was committed at a different
    fp_schema_v — a v3 root (pos<<16|value probes) silently yields
    ZERO subfp cross-matches against a v4 reader and every new dup
    would be labeled 'keep'. The in-root _FP_SCHEMA_V stage_params only
    protects same-root resume, not cross-root reads. A root whose
    latest fingerprints row is not `done` (no manifest, a crash
    mid-commit) is left to the existing existence checks."""
    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.manifest import latest_rows, read_manifest
    from go_pkg_spider_spark.io.stages import STAGE_MANIFEST_SCHEMA

    for root in roots:
        rows = read_manifest(
            Catalog(spark, root), AUDIO_DEDUP_MANIFEST_TABLE, STAGE_MANIFEST_SCHEMA
        )
        latest = latest_rows(rows, "stage").get("fingerprints")
        if latest is None or latest.status != "done":
            continue
        sig = (latest.metrics or {}).get("params_sig")
        try:
            v = json.loads(sig).get("fp_schema_v") if sig else None
        except (TypeError, ValueError):
            v = None
        if v != _FP_SCHEMA_V:
            raise RuntimeError(
                f"fingerprints under {root!r} were committed at "
                f"fp_schema_v={v!r} but this job reads/writes "
                f"v{_FP_SCHEMA_V} — cross-version matching would "
                "silently find zero matches. Re-run the batch job for "
                "that root (or compact it with a matching job version) "
                "before appending."
            )


def _increment_roots(output_root: str) -> list[str]:
    """Committed increment roots under output_root/increments, sorted
    by name. Only increments whose DECISIONS stage committed count —
    a crashed half-written increment is invisible to readers and its
    re-run resumes from its own manifest."""
    base = os.path.join(output_root, "increments")
    if not os.path.isdir(base):
        return []
    return sorted(
        os.path.join(base, d)
        for d in os.listdir(base)
        if os.path.isdir(os.path.join(base, d, "decisions"))
    )


def read_all_fingerprints(spark, output_root: str, inc_roots=None):
    """The full committed fingerprint state: the base run's table plus
    every committed increment — the index the next increment matches
    against. A union of parquet scans (no shuffle); column pruning
    still reaches every member scan. inc_roots (optional) pins the
    increment list to a caller-taken snapshot so a multi-stage reader
    (compaction) unions a CONSISTENT set even if new increments land
    mid-run."""
    from go_pkg_spider_spark.io.catalog import Catalog

    df = Catalog(spark, output_root).read("fingerprints")
    if inc_roots is None:
        inc_roots = _increment_roots(output_root)
    for root in inc_roots:
        df = df.unionByName(Catalog(spark, root).read("fingerprints"))
    return df


def read_all_decisions(spark, output_root: str, inc_roots=None):
    """Base decisions plus every committed increment's — one row per
    clip ever ingested (increments only ever ADD clip ids). inc_roots
    as in read_all_fingerprints."""
    from go_pkg_spider_spark.io.catalog import Catalog

    df = Catalog(spark, output_root).read("decisions")
    if inc_roots is None:
        inc_roots = _increment_roots(output_root)
    for root in inc_roots:
        df = df.unionByName(Catalog(spark, root).read("decisions"))
    return df


def run_audio_dedup_increment(
    spark,
    new_clips,
    output_root: str,
    run_id: str,
    tier: str = "fp64",
    max_hamming: int = 7,
    max_bucket_size: int = 1024,
    max_key_matches: int | None = None,
    min_jaccard: float | None = None,
    min_overlap_ratio: float | None = None,
) -> dict:
    """Incremental ingest against a committed run_audio_dedup root:
    fingerprint ONLY the new batch, match it against the committed
    fingerprint state (base + prior increments — never re-decoded,
    never self-joined), and label the new clips under incremental
    semantics (committed groups immutable, smallest committed group
    wins, unmatched new clips form groups among themselves; bridges
    across k committed groups surface as a deferred_merges metric —
    see operators/audio_fp.assign_increment).

    Each increment is its own immutable stage chain under
    output_root/increments/<run_id> with its own lease + manifest, so
    re-running an increment resumes instead of double-appending, and
    a crashed increment never corrupts the committed state — the
    idempotence story the streaming twin (jobs/run_streaming.py
    audio-dedup) leans on for exactly-once batches. Cross-matches are
    ALWAYS stream-verified (the raw-fp64 false-dup lesson); there is
    deliberately no --no-verify-pairs dial here."""
    from pyspark.sql import Observation, functions as F

    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.stages import StageRunner, run_lease
    from go_pkg_spider_spark.operators import audio_fp as afp

    if tier not in ("fp64", "subfp"):
        raise ValueError(f"unknown tier {tier!r} (fp64 | subfp)")
    if not Catalog(spark, output_root).exists("decisions"):
        raise ValueError(
            f"no committed run_audio_dedup state under {output_root!r} — "
            "run the batch job first"
        )
    if min_jaccard is None:
        min_jaccard = afp.FP_SUBFP_JACCARD
    if min_overlap_ratio is None:
        min_overlap_ratio = afp.FP_MIN_OVERLAP_RATIO
    if max_key_matches is None:
        max_key_matches = afp.FP_MAX_KEY_MATCHES

    params = {
        "tier": tier,
        "min_jaccard": min_jaccard,
        "min_overlap_ratio": min_overlap_ratio,
        "max_bucket_size": max_bucket_size,
        "max_key_matches": max_key_matches,
    }
    if tier == "fp64":
        params["max_hamming"] = max_hamming

    inc_root = os.path.join(output_root, "increments", run_id)
    with run_lease(inc_root, run_id):
        cat = Catalog(spark, inc_root)
        runner = StageRunner(
            spark,
            cat,
            AUDIO_DEDUP_MANIFEST_TABLE,
            params,
            run_id,
            stage_params={"fingerprints": {"fp_schema_v": _FP_SCHEMA_V}},
        )
        summary = runner.summary
        commit, resumable = runner.commit, runner.resumable

        if not resumable("fingerprints"):
            commit("fingerprints", afp.fingerprint_clips_full(new_clips))
        fp_new = cat.read("fingerprints")
        # the committed state is read AFTER the lease is held so a
        # concurrent increment cannot commit between read and match;
        # increments under different run_ids still race on the
        # DEFERRED-merge semantics only (both attach to committed
        # groups; neither sees the other — same tradeoff as bridges).
        # THIS increment is excluded from its own index: re-running a
        # COMPLETED run_id with changed params would otherwise match
        # the batch against its own prior fingerprints and attach to
        # its own stale decisions.
        index_incs = [
            r for r in _increment_roots(output_root) if r != inc_root
        ]
        _require_fp_schema(spark, [output_root, *index_incs])
        index_fp = read_all_fingerprints(
            spark, output_root, inc_roots=index_incs
        )

        if not resumable("within_pairs"):
            if tier == "fp64":
                wp = afp.verify_pairs(
                    fp_new,
                    afp.audio_fp_pairs(
                        fp_new,
                        max_hamming=max_hamming,
                        max_bucket_size=max_bucket_size,
                    ),
                    min_jaccard,
                    min_overlap_ratio,
                )
            else:
                wp = afp.audio_subfp_pairs(
                    fp_new,
                    min_jaccard=min_jaccard,
                    min_overlap_ratio=min_overlap_ratio,
                    max_bucket_size=max_bucket_size,
                )
            commit("within_pairs", wp)

        if not resumable("matches"):
            obs = Observation()
            cross = afp.audio_fp_match_against(
                index_fp,
                fp_new,
                tier=tier,
                max_hamming=max_hamming,
                max_key_matches=max_key_matches,
                min_jaccard=min_jaccard,
                min_overlap_ratio=min_overlap_ratio,
                observation=obs,
            )

            def _match_metrics():
                try:
                    got = obs.get
                except Exception:
                    # same AQE empty-relation collapse as the batch
                    # job's bucket metrics: zero key matches = zero
                    # drops by definition
                    got = {}
                return {
                    "dropped_index_keys": str(got.get("dropped_index_keys") or 0),
                    "max_key_matches_seen": str(
                        got.get("max_key_matches_seen") or 0
                    ),
                    "tier": tier,
                }

            commit("matches", cross, metrics_after=_match_metrics)

        if not resumable("decisions"):
            decisions, deferred = afp.assign_increment(
                fp_new,
                cat.read("within_pairs"),
                cat.read("matches"),
                read_all_decisions(
                    spark, output_root, inc_roots=index_incs
                ).select("clip_id", "group_id"),
            )
            commit(
                "decisions",
                decisions,
                metrics_after=lambda: {"deferred_merges": str(deferred)},
            )

        dec = cat.read("decisions")
        summary["decision_histogram"] = {
            r.decision: r["count"]
            for r in dec.groupBy("decision").count().collect()
        }
        return summary


def run_audio_dedup_compact(
    spark,
    source_root: str,
    target_root: str,
    run_id: str = "compact",
    rematch: bool = False,
    tier: str = "subfp",
    max_hamming: int = 7,
    max_bucket_size: int = 1024,
    min_jaccard: float | None = None,
    min_overlap_ratio: float | None = None,
) -> dict:
    """Resolve every deferred merge by reclustering over the edges the
    base run and all increments ALREADY committed — no clip is
    re-decoded, no pair re-verified; the work is one connected
    components over pair-volume tables plus the decision rebuild.
    Writes a fresh consolidated base (fingerprints union + unioned
    pairs + components + decisions) into target_root via the normal
    stage chain — blue/green: the source root stays untouched and
    readable until the caller switches readers, so a crash mid-compact
    never corrupts the committed state. The new root is itself a valid
    --append target.

    Why this resolves bridges: an increment clip that verified against
    two committed groups carries edges to members of BOTH in its
    committed matches table; the global components pass merges them —
    exactly the merge assign_increment deferred.

    Honest limit of the default (edge-union) mode: increments that ran
    CONCURRENTLY under different run_ids never matched against each
    other, so a mutual dup between them has no committed edge and the
    recluster cannot conjure one — sequential ingest (the streaming
    twin's batch-id ordering) has no such gap. `rematch=True` closes
    it: instead of unioning committed edges, the pairs stage re-runs
    the full self-join pair generator (tier + thresholds as given)
    over the UNIONED fingerprint table — still no re-decode (the
    decode is what makes the batch job expensive; pair generation over
    committed fingerprints is the cheap tail), at the cost of
    re-verifying candidate pairs."""
    from pyspark.sql import functions as F

    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.stages import StageRunner, run_lease
    from go_pkg_spider_spark.operators import components as cc_ops

    from go_pkg_spider_spark.operators import audio_fp as afp

    if tier not in ("fp64", "subfp"):
        raise ValueError(f"unknown tier {tier!r} (fp64 | subfp)")
    if min_jaccard is None:
        min_jaccard = afp.FP_SUBFP_JACCARD
    if min_overlap_ratio is None:
        min_overlap_ratio = afp.FP_MIN_OVERLAP_RATIO
    src = Catalog(spark, source_root)
    if not src.exists("decisions"):
        raise ValueError(
            f"no committed run_audio_dedup state under {source_root!r}"
        )
    inc_roots = _increment_roots(source_root)

    params: dict = {
        "compacted_from": source_root,
        "n_increments": len(inc_roots),
        "rematch": rematch,
    }
    if rematch:
        params.update(
            tier=tier,
            min_jaccard=min_jaccard,
            min_overlap_ratio=min_overlap_ratio,
            max_bucket_size=max_bucket_size,
        )
        if tier == "fp64":
            params["max_hamming"] = max_hamming

    with run_lease(target_root, run_id):
        cat = Catalog(spark, target_root)
        runner = StageRunner(
            spark,
            cat,
            AUDIO_DEDUP_MANIFEST_TABLE,
            params,
            run_id,
            stage_params={"fingerprints": {"fp_schema_v": _FP_SCHEMA_V}},
        )
        summary = runner.summary
        commit, resumable = runner.commit, runner.resumable

        if not resumable("fingerprints"):
            # inc_roots is the snapshot taken above: the fingerprint
            # union and the edge union must cover the SAME increment
            # set even if a new increment commits mid-compaction
            _require_fp_schema(spark, [source_root, *inc_roots])
            commit(
                "fingerprints",
                read_all_fingerprints(spark, source_root, inc_roots=inc_roots),
            )
        fp = cat.read("fingerprints")

        if not resumable("pairs"):
            if rematch:
                if tier == "fp64":
                    edges = afp.verify_pairs(
                        fp,
                        afp.audio_fp_pairs(
                            fp,
                            max_hamming=max_hamming,
                            max_bucket_size=max_bucket_size,
                        ),
                        min_jaccard,
                        min_overlap_ratio,
                    ).select("id_a", "id_b")
                else:
                    edges = afp.audio_subfp_pairs(
                        fp,
                        min_jaccard=min_jaccard,
                        min_overlap_ratio=min_overlap_ratio,
                        max_bucket_size=max_bucket_size,
                    ).select("id_a", "id_b")
            else:
                edges = src.read("pairs").select("id_a", "id_b")
                for root in inc_roots:
                    icat = Catalog(spark, root)
                    edges = edges.unionByName(
                        icat.read("within_pairs").select("id_a", "id_b")
                    ).unionByName(icat.read("matches").select("id_a", "id_b"))
            commit("pairs", edges)

        if not resumable("components"):
            labels = cc_ops.connected_components(
                cat.read("pairs"), src="id_a", dst="id_b", id_col="id"
            )
            commit(
                "components",
                labels.select(F.col("id").alias("clip_id"), "component"),
            )

        if not resumable("decisions"):
            labels = cat.read("components")
            enriched = fp.select(
                "clip_id", "err", "fp_degenerate", "fp64"
            ).join(labels, "clip_id", "left")
            decision = (
                F.when(F.col("err").isNotNull(), "error")
                .when(F.col("fp_degenerate"), "keep_degenerate")
                .when(F.col("component") != F.col("clip_id"), "drop_audio_dup")
                .otherwise("keep")
            )
            commit(
                "decisions",
                enriched.select(
                    "clip_id",
                    "fp64",
                    F.coalesce(F.col("component"), F.col("clip_id")).alias(
                        "group_id"
                    ),
                    decision.alias("decision"),
                ),
            )

        dec = cat.read("decisions")
        summary["decision_histogram"] = {
            r.decision: r["count"]
            for r in dec.groupBy("decision").count().collect()
        }
        summary["compacted_increments"] = len(inc_roots)
        return summary


def main() -> None:
    p = argparse.ArgumentParser(description="composed audio near-dup job")
    p.add_argument(
        "--input",
        default=None,
        help="clips table path (required except with --compact-to)",
    )
    p.add_argument("--output-root", required=True)
    p.add_argument("--run-id", default="adhoc")
    p.add_argument(
        "--tier",
        choices=("fp64", "subfp"),
        default="fp64",
        help="matching tier: fp64 key blocking (cheapest) or "
        "sub-fingerprint stream matching (noise-robust)",
    )
    p.add_argument("--max-hamming", type=int, default=7)
    p.add_argument("--max-bucket-size", type=int, default=1024)
    p.add_argument("--min-jaccard", type=float, default=None)
    p.add_argument("--min-overlap-ratio", type=float, default=None)
    p.add_argument(
        "--no-verify-pairs",
        action="store_true",
        help="skip stream verification of fp64-tier candidates "
        "(raw hamming grouping; false-dups on sparse corpora)",
    )
    p.add_argument(
        "--append",
        action="store_true",
        help="incremental ingest: --input is a NEW batch matched "
        "against the committed state under --output-root (which must "
        "hold a prior batch run); writes an immutable increment under "
        "increments/<run-id>. Always stream-verifies.",
    )
    p.add_argument(
        "--max-key-matches",
        type=int,
        default=None,
        help="append mode: hot-key cap on index-side blocking keys",
    )
    p.add_argument(
        "--compact-to",
        default=None,
        metavar="TARGET_ROOT",
        help="recluster the committed root (base + all increments) "
        "over its COMMITTED edges into a fresh consolidated base at "
        "TARGET_ROOT, resolving deferred merges — blue/green, the "
        "source root is untouched; --input is ignored",
    )
    p.add_argument(
        "--rematch",
        action="store_true",
        help="with --compact-to: re-run the full pair generator over "
        "the unioned fingerprints (tier/threshold flags apply) instead "
        "of unioning committed edges — recovers mutual dups between "
        "CONCURRENT increments; still no re-decode",
    )
    args = p.parse_args()

    from go_pkg_spider_spark.session import get_spark

    if args.compact_to is None and args.input is None:
        p.error("--input is required except with --compact-to")
    spark = get_spark(app_name=f"audio-dedup-{args.run_id}")
    if args.compact_to is not None:
        summary = run_audio_dedup_compact(
            spark,
            args.output_root,
            args.compact_to,
            run_id=args.run_id,
            rematch=args.rematch,
            tier=args.tier,
            max_hamming=args.max_hamming,
            max_bucket_size=args.max_bucket_size,
            min_jaccard=args.min_jaccard,
            min_overlap_ratio=args.min_overlap_ratio,
        )
        print(json.dumps(summary))
        spark.stop()
        return
    clips = spark.read.parquet(args.input)
    if args.append:
        summary = run_audio_dedup_increment(
            spark,
            clips,
            args.output_root,
            run_id=args.run_id,
            tier=args.tier,
            max_hamming=args.max_hamming,
            max_bucket_size=args.max_bucket_size,
            max_key_matches=args.max_key_matches,
            min_jaccard=args.min_jaccard,
            min_overlap_ratio=args.min_overlap_ratio,
        )
    else:
        summary = run_audio_dedup(
            spark,
            clips,
            args.output_root,
            run_id=args.run_id,
            tier=args.tier,
            max_hamming=args.max_hamming,
            max_bucket_size=args.max_bucket_size,
            min_jaccard=args.min_jaccard,
            min_overlap_ratio=args.min_overlap_ratio,
            verify_pairs=not args.no_verify_pairs,
        )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
