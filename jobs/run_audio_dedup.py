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

Both tiers STREAM-VERIFY their candidates (the H&K
lookup-then-verify architecture; operators/audio_fp.audio_pairs is the
one pair generator of the batch run, an increment and a rematch
compaction): on sparse semi-stationary corpora the 64-bit simhash is
voted by too few shingles and DISTINCT clips collide at
hamming <= 7 — measured on the 500-clip datagen corpus, all 8 fp64
candidate pairs were false (aligned-overlap Jaccard 0.09-0.23 vs 1.0
for true re-encode twins). Verification joins the committed streams
at candidate-pair volume only.

Scale/resume design (the run_dedup.py conventions, stage-manifested):
- `fingerprints` commits the FULL fingerprint table FIRST (fp64 key +
  packed subfp stream + blocking probes, <= ~8 KiB/clip — still ~400x
  smaller than the PCM it summarizes): the expensive decode+FFT pass
  runs exactly once, and EVERY downstream rerun — including a TIER
  switch — reads it back instead of re-decoding the corpus. fp64
  blocking and the decisions select only the ~20-byte columns, so
  their parquet scans prune the stream column; only verification
  reads it. Grouping knobs (tier, max_hamming, min_jaccard,
  min_overlap_ratio, max_bucket_size) are therefore EXCLUDED from the
  fingerprint stage's params_sig (StageRunner stage_params) and only
  gate the downstream stages.
- `pairs` commits the verified pairs (id_a, id_b, jaccard,
  overlap_ratio, shift) at either tier, with the tier and the
  bucket-cap drop accounting observed into the manifest metrics.
- `components` labels over the COMMITTED pairs (lineage cut),
  endpoint-only node set.
- `decisions`: operators/audio_fp.audio_decisions, the one rule the
  batch run, an increment and a compaction share — error rows ->
  'error'; degenerate fingerprints (zero or sub-evidence-floor
  spectro-temporal variation) -> 'keep_degenerate' (no identity to
  assert; NEVER merged); group losers -> 'drop_audio_dup'; else
  'keep'. The decision histogram is counted during that write.
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


def _tier_params(
    tier: str,
    max_hamming: int,
    max_bucket_size: int,
    min_jaccard: float | None,
    min_overlap_ratio: float | None,
) -> dict:
    """The one tier check, run before anything is decoded, and the
    knobs that change a tier's pairs, thresholds defaulted: the pair
    stages' part of the params_sig and the keyword arguments of
    afp.audio_pairs. max_hamming exists only on the fp64 tier."""
    from go_pkg_spider_spark.operators import audio_fp as afp

    if tier not in ("fp64", "subfp"):
        raise ValueError(f"unknown tier {tier!r} (fp64 | subfp)")
    knobs = {
        "tier": tier,
        "min_jaccard": afp.FP_SUBFP_JACCARD if min_jaccard is None else min_jaccard,
        "min_overlap_ratio": (
            afp.FP_MIN_OVERLAP_RATIO
            if min_overlap_ratio is None
            else min_overlap_ratio
        ),
        "max_bucket_size": max_bucket_size,
    }
    if tier == "fp64":
        knobs["max_hamming"] = max_hamming
    return knobs


def _stage_runner(spark, root: str, params: dict, run_id: str):
    """The StageRunner of one audio dedup chain under root. The
    fingerprint stage is knob-free by design (only the committed schema
    version), so tier and threshold changes never re-decode the corpus;
    the decisions commit counts the decision histogram."""
    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.stages import StageRunner
    from go_pkg_spider_spark.operators import audio_fp as afp

    return StageRunner(
        spark,
        Catalog(spark, root),
        AUDIO_DEDUP_MANIFEST_TABLE,
        params,
        run_id,
        stage_params={"fingerprints": {"fp_schema_v": _FP_SCHEMA_V}},
        histograms={"decisions": ("decision", afp.AUDIO_DECISIONS)},
    )


def _commit_groups(runner, fp) -> dict:
    """The chain's tail over its committed `pairs`: `components` labels
    the pair endpoints only (no corpus-wide node set: clips in no pair
    are singletons, and the decisions' left join labels them, so every
    iterative round stays at O(near-dup members), not O(corpus)), then
    `decisions`. Returns the decision histogram."""
    from pyspark.sql import functions as F

    from go_pkg_spider_spark.operators import audio_fp as afp
    from go_pkg_spider_spark.operators import components as cc_ops

    if not runner.resumable("components"):
        labels = cc_ops.connected_components(
            runner.read("pairs").select("id_a", "id_b"),
            src="id_a",
            dst="id_b",
            id_col="id",
        )
        runner.commit(
            "components", labels.select(F.col("id").alias("clip_id"), "component")
        )
    if not runner.resumable("decisions"):
        runner.commit(
            "decisions", afp.audio_decisions(fp, runner.read("components"))
        )
    return runner.histogram("decisions")


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
) -> dict:
    from pyspark.sql import Observation

    from go_pkg_spider_spark.io.stages import run_lease
    from go_pkg_spider_spark.operators import audio_fp as afp

    # every knob that changes the pairs rides the chain's sig
    knobs = _tier_params(
        tier, max_hamming, max_bucket_size, min_jaccard, min_overlap_ratio
    )
    with run_lease(output_root, run_id):
        runner = _stage_runner(spark, output_root, knobs, run_id)
        commit, resumable = runner.commit, runner.resumable
        if not resumable("fingerprints"):
            commit("fingerprints", afp.fingerprint_clips_full(clips))
        fp = runner.read("fingerprints")
        if not resumable("pairs"):
            obs = Observation()
            pairs = afp.audio_pairs(fp, observation=obs, **knobs)
            commit("pairs", pairs, metrics={"tier": tier}, observation=obs)
        runner.summary["decision_histogram"] = _commit_groups(runner, fp)
        return runner.summary


def latest_done_row(spark, root: str, stage: str):
    """The manifest row a committed `stage` under root resumes from:
    the stage's latest row when it is `done`, else None (never
    committed, or a crash mid-commit)."""
    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.manifest import latest_rows, read_manifest
    from go_pkg_spider_spark.io.stages import STAGE_MANIFEST_SCHEMA

    rows = read_manifest(
        Catalog(spark, root), AUDIO_DEDUP_MANIFEST_TABLE, STAGE_MANIFEST_SCHEMA
    )
    latest = latest_rows(rows, "stage").get(stage)
    return latest if latest is not None and latest.status == "done" else None


def read_committed(spark, root: str, stage: str):
    """`stage` as committed under root, read with the schema its done
    row records (stages.read_stage), so a cross-root read starts no
    schema-inference job."""
    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.stages import read_stage

    done = latest_done_row(spark, root, stage)
    return read_stage(Catalog(spark, root), stage, done.schema if done else None)


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
    for root in roots:
        latest = latest_done_row(spark, root, "fingerprints")
        if latest is None:
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
    df = read_committed(spark, output_root, "fingerprints")
    if inc_roots is None:
        inc_roots = _increment_roots(output_root)
    for root in inc_roots:
        df = df.unionByName(read_committed(spark, root, "fingerprints"))
    return df


def read_all_decisions(spark, output_root: str, inc_roots=None):
    """Base decisions plus every committed increment's — one row per
    clip ever ingested (increments only ever ADD clip ids). inc_roots
    as in read_all_fingerprints."""
    df = read_committed(spark, output_root, "decisions")
    if inc_roots is None:
        inc_roots = _increment_roots(output_root)
    for root in inc_roots:
        df = df.unionByName(read_committed(spark, root, "decisions"))
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
    no unverified mode."""
    from pyspark.sql import Observation

    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.stages import run_lease
    from go_pkg_spider_spark.operators import audio_fp as afp

    knobs = _tier_params(
        tier, max_hamming, max_bucket_size, min_jaccard, min_overlap_ratio
    )
    if not Catalog(spark, output_root).exists("decisions"):
        raise ValueError(
            f"no committed run_audio_dedup state under {output_root!r} — "
            "run the batch job first"
        )
    if max_key_matches is None:
        max_key_matches = afp.FP_MAX_KEY_MATCHES

    inc_root = os.path.join(output_root, "increments", run_id)
    with run_lease(inc_root, run_id):
        runner = _stage_runner(
            spark,
            inc_root,
            {**knobs, "max_key_matches": max_key_matches},
            run_id,
        )
        commit, resumable, read = runner.commit, runner.resumable, runner.read

        if not resumable("fingerprints"):
            commit("fingerprints", afp.fingerprint_clips_full(new_clips))
        fp_new = read("fingerprints")
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
            obs = Observation()
            wp = afp.audio_pairs(fp_new, observation=obs, **knobs)
            commit("within_pairs", wp, metrics={"tier": tier}, observation=obs)

        if not resumable("matches"):
            obs = Observation()
            cross = afp.audio_fp_match_against(
                index_fp,
                fp_new,
                tier=tier,
                max_hamming=max_hamming,
                max_key_matches=max_key_matches,
                min_jaccard=knobs["min_jaccard"],
                min_overlap_ratio=knobs["min_overlap_ratio"],
                observation=obs,
            )
            commit("matches", cross, metrics={"tier": tier}, observation=obs)

        if not resumable("decisions"):
            decisions, deferred = afp.assign_increment(
                fp_new,
                read("within_pairs"),
                read("matches"),
                read_all_decisions(
                    spark, output_root, inc_roots=index_incs
                ).select("clip_id", "group_id"),
            )
            commit(
                "decisions",
                decisions,
                metrics={"deferred_merges": str(deferred)},
            )

        runner.summary["decision_histogram"] = runner.histogram("decisions")
        return runner.summary


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
    from pyspark.sql import Observation

    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.stages import run_lease
    from go_pkg_spider_spark.operators import audio_fp as afp

    knobs = _tier_params(
        tier, max_hamming, max_bucket_size, min_jaccard, min_overlap_ratio
    )
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
        params.update(knobs)

    with run_lease(target_root, run_id):
        runner = _stage_runner(spark, target_root, params, run_id)
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
        fp = runner.read("fingerprints")

        if not resumable("pairs"):
            if rematch:
                obs = Observation()
                edges = afp.audio_pairs(fp, observation=obs, **knobs)
                commit(
                    "pairs",
                    edges.select("id_a", "id_b"),
                    metrics={"tier": tier},
                    observation=obs,
                )
            else:
                edges = read_committed(spark, source_root, "pairs").select("id_a", "id_b")
                for root in inc_roots:
                    for stage in ("within_pairs", "matches"):
                        edges = edges.unionByName(
                            read_committed(spark, root, stage).select("id_a", "id_b")
                        )
                commit("pairs", edges)

        runner.summary["decision_histogram"] = _commit_groups(runner, fp)
        runner.summary["compacted_increments"] = len(inc_roots)
        return runner.summary


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
        )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
