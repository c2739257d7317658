"""Composed dedup job: exact dedup -> MinHash+LSH candidates (capped
buckets) -> connected components -> deterministic keep-one + stratified
mix — the full training-data dedup pass as ONE spark-submit artifact
(round-3 verdict #7: the operators were individually oracled; this is
what a user actually runs at 100 TB).

    zip -qr /tmp/pkg.zip go_pkg_spider_spark
    spark-submit --driver-memory 24g --py-files /tmp/pkg.zip \
        jobs/run_dedup.py --input /data/documents --output-root /data/dedup \
        --run-id nightly --threshold 0.5 --sample-rate 0.9

Scale/resume design:
- The chain is STAGE-manifested, not bucket-manifested: near-dup
  candidate pairs cross any bucketing of the input, so each stage runs
  as one distributed job and commits its output table between a
  `running` and a `done` manifest row (io/stages.py); resume skips
  committed stages and reads their tables back (which also cuts
  lineage — the components loop joins against materialized pairs,
  never re-executing the minhash UDF). A committed stage is reusable
  ONLY if its latest manifest row is done with the same parameter
  fingerprint (params_sig) as the current invocation — rerunning the
  same output-root with a different threshold reruns the chain
  instead of silently returning stale results — and once any stage
  reruns, all downstream stages rerun. (The input PATH is the caller's
  responsibility: point different inputs at different output roots.)
- Stage outputs are the small derived tables (hash groups, pairs,
  labels, decisions) — never a copy of the corpus.
- The LSH bucket cap's drop accounting (operators/bucketing.py) is
  surfaced through a pyspark Observation into the manifest metrics, so
  a production run can see exactly how many candidate-pair members a
  hot bucket dropped (the honesty requirement: capped never means
  silently discarded).
- Decisions are deterministic and layout-independent: exact losers by
  min-id per content hash, near-dup losers by min-id per component,
  stratified mix by md5_u64_le(id) (the same hash the stratified-
  sample oracle entry replays in DuckDB).
"""

from __future__ import annotations

import argparse
import json
import sys

DEDUP_MANIFEST_TABLE = "dedup_manifest"

# the decisions stage's closed vocabulary, in rule precedence order
DEDUP_DECISIONS = ("drop_exact_dup", "drop_near_dup", "drop_sample_miss", "keep")


def run_dedup(
    spark,
    docs,
    output_root: str,
    run_id: str = "adhoc",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    sample_rate: float = 1.0,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int = 1024,
) -> dict:
    """Run (or resume) the dedup chain under the root's single-writer
    lease (two concurrent invocations on one root would overwrite the
    same stage tables — the second one fails fast with LeaseHeldError).
    Returns a summary dict with per-stage
    rows/metrics and stages_run/stages_skipped counts."""
    from go_pkg_spider_spark.io.stages import run_lease

    with run_lease(output_root, run_id):
        return _run_dedup_locked(
            spark,
            docs,
            output_root,
            run_id,
            id_col,
            text_col,
            threshold,
            sample_rate,
            num_hashes,
            bands,
            max_bucket_size,
        )


def _run_dedup_locked(
    spark,
    docs,
    output_root: str,
    run_id: str,
    id_col: str,
    text_col: str,
    threshold: float,
    sample_rate: float,
    num_hashes: int,
    bands: int,
    max_bucket_size: int,
) -> dict:
    from pyspark.sql import Observation, functions as F

    from go_pkg_spider_spark.functions.tokens import content_hash_md5, md5_u64_le
    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.stages import StageRunner
    from go_pkg_spider_spark.operators import components as cc_ops
    from go_pkg_spider_spark.operators import dedup

    cat = Catalog(spark, output_root)

    # Resume gate (io/stages.StageRunner): a committed stage is
    # reusable only if its LATEST manifest row carries the SAME
    # parameter fingerprint — the sig covers every knob that changes
    # stage outputs; once any stage reruns, every DOWNSTREAM stage
    # reruns too (their inputs changed).
    runner = StageRunner(
        spark,
        cat,
        DEDUP_MANIFEST_TABLE,
        {
            "id_col": id_col,
            "text_col": text_col,
            "threshold": threshold,
            "sample_rate": sample_rate,
            "num_hashes": num_hashes,
            "bands": bands,
            "max_bucket_size": max_bucket_size,
        },
        run_id,
        histograms={"decisions": ("decision", DEDUP_DECISIONS)},
    )
    summary = runner.summary
    commit, resumable, read = runner.commit, runner.resumable, runner.read

    # stage 1: exact dedup — one row per distinct normalized text
    if not resumable("exact"):
        commit("exact", dedup.exact_dedup(docs, text_col, id_col))
    groups = read("exact")

    # survivors of exact dedup (id == kept_id), re-derived from the
    # committed groups: a hash semi-join on the id column only
    survivors = docs.join(
        groups.select(F.col("kept_id").alias(id_col)), id_col, "semi"
    )

    # stage 2: LSH candidate pairs over the survivors (capped buckets,
    # drop accounting observed into the manifest)
    if not resumable("pairs"):
        obs = Observation()
        pairs = dedup.minhash_lsh_candidates(
            survivors,
            text_col,
            id_col,
            num_hashes=num_hashes,
            bands=bands,
            max_bucket_size=max_bucket_size,
            observation=obs,
        ).filter(F.col("jaccard") >= threshold)
        commit("pairs", pairs, metrics={"threshold": str(threshold)}, observation=obs)

    # stage 3: connected components over the COMMITTED pairs (reading
    # the parquet back cuts the minhash lineage — the iteration joins a
    # materialized table, round-3 lesson) with the survivor ids as the
    # node set so singletons label themselves
    if not resumable("components"):
        labels = cc_ops.connected_components(
            read("pairs"),
            src="id_a",
            dst="id_b",
            nodes=survivors.select(id_col),
            id_col=id_col,
        )
        commit("components", labels)

    # stage 4: one decision row per INPUT doc. Deterministic precedence:
    # exact loser -> near-dup loser -> stratified-sample miss -> keep.
    if not resumable("decisions"):
        labels = read("components")
        with_hash = docs.select(
            F.col(id_col), content_hash_md5(F.col(text_col)).alias("content_md5")
        )
        enriched = with_hash.join(
            groups.select("content_md5", "kept_id"), "content_md5", "left"
        ).join(labels, id_col, "left")
        # the u64 threshold exceeds int64 — route the literal through a
        # string cast to decimal(20,0) (same dtype md5_u64_le returns)
        in_sample = (
            F.lit(True)
            if sample_rate >= 1.0
            else md5_u64_le(F.col(id_col))
            < F.lit(str(int(sample_rate * (1 << 64)))).cast("decimal(20,0)")
        )
        exact, near, miss, keep = DEDUP_DECISIONS
        decision = (
            F.when(F.col(id_col) != F.col("kept_id"), exact)
            .when(F.col("component") != F.col(id_col), near)
            .when(~in_sample, miss)
            .otherwise(keep)
        )
        commit(
            "decisions",
            enriched.select(
                id_col,
                "content_md5",
                F.col("component"),
                decision.alias("decision"),
            ),
            metrics={"sample_rate": str(sample_rate)},
        )

    summary["decision_histogram"] = runner.histogram("decisions")
    return summary


def main() -> None:
    p = argparse.ArgumentParser(description="composed dedup job")
    p.add_argument("--input", required=True, help="documents table path")
    p.add_argument("--output-root", required=True)
    p.add_argument("--run-id", default="adhoc")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument("--sample-rate", type=float, default=1.0)
    p.add_argument("--max-bucket-size", type=int, default=1024)
    args = p.parse_args()

    from go_pkg_spider_spark.session import get_spark

    spark = get_spark(app_name=f"dedup-{args.run_id}")
    docs = spark.read.parquet(args.input)
    summary = run_dedup(
        spark,
        docs,
        args.output_root,
        run_id=args.run_id,
        id_col=args.id_col,
        text_col=args.text_col,
        threshold=args.threshold,
        sample_rate=args.sample_rate,
        max_bucket_size=args.max_bucket_size,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
