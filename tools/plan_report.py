"""Dump annotated physical plans for the headline operators into
BENCH/PLANS.md — the plan-quality evidence (pushdown, broadcast,
partial aggregation, top-k without global sort, shuffle-free pipeline).

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPORT = [
    (
        "clips_pipeline",
        "End-to-end quality filter: ONE narrow stage, ZERO Exchange; exactly one "
        "ArrowEvalPython (the fused decode+langid+ppl UDF). Scales by input "
        "splits alone.",
        None,
    ),
    (
        "q6_forecast_revenue",
        "Filter pushdown: discount/quantity predicates in PushedFilters reach "
        "the parquet scan; ReadSchema carries only the 3 needed columns.",
        "q6_forecast_revenue",
    ),
    (
        "broadcast_join_nation",
        "J1-J5 lookup-join shape: 25-row dim broadcast (BroadcastHashJoin) — no "
        "shuffle of the fact side.",
        "broadcast_join_nation",
    ),
    (
        "anti_join_resume",
        "J6 seen-set resume: left-anti broadcast join.",
        "anti_join_resume",
    ),
    (
        "q1_pricing_summary",
        "Partial+final HashAggregate around one Exchange (map-side combine); "
        "decimal-cast sums keep results order-independent for the oracle.",
        "q1_pricing_summary",
    ),
    (
        "ann_topk_embeddings",
        "Top-k via TakeOrderedAndProject: each partition keeps k rows, no "
        "global Sort.",
        "ann_topk_embeddings",
    ),
    (
        "minhash_lsh_docs",
        "LSH dedup: ONE shuffle (band-bucket groupBy); candidate pairs via "
        "in-bucket array combinatorics — no self-join, and exactly one "
        "ArrowEvalPython (pure-column pre-filter instead of filtering the "
        "UDF output, which double-evaluated it; round 9: the UDF "
        "tokenizes+shingles the normalized text itself).",
        "minhash_lsh_docs",
    ),
    (
        "embedding_neardup_pairs",
        "Multi-band hyperplane LSH near-dups: bucket-collect pair "
        "generation — no join operator, one groupBy Exchange on "
        "(band, bits); round 9: in-bucket pairwise cosine runs in ONE "
        "MapInArrow (numpy left-fold, bit-identical to the old HOF "
        "fold — similarity.py).",
        "embedding_neardup_pairs",
    ),
    (
        "q3_shipping_priority",
        "TPC-H Q3 shape: Catalyst-ordered three-way join, grouped revenue, "
        "top-k via TakeOrderedAndProject after the aggregate.",
        "q3_shipping_priority",
    ),
    (
        "asof_join_events",
        "As-of join as union + window (last non-null click over "
        "rows-unbounded-preceding): ONE shuffle on user_id, no join "
        "operator, no per-row probing.",
        "asof_join_events",
    ),
    (
        "winnow_fingerprints_docs",
        "Winnowing fingerprints: pure column math, zero Python; let-bound "
        "stages (expr_utils.let_col) keep the normalization and gram hashes "
        "single-evaluated per row. The RoundRobin Exchange below is the "
        "round-7 small-scan spread guard (_spread_small_scan: a sub-64MB "
        "single-file input is unsplittable, so it is repartitioned to the "
        "session parallelism; the guard is a no-op at production scale "
        "where the scan has >= parallelism splits).",
        "winnow_fingerprints_docs",
    ),
    (
        "q5_local_supplier_volume",
        "TPC-H Q5 six-table tree: supplier/nation/region broadcast "
        "(>=3 BroadcastHashJoin), orderdate range pushed to the orders "
        "scan, the local-supplier predicate rides the join condition.",
        "q5_local_supplier_volume",
    ),
    (
        "range_join_events",
        "Bucketized interval join: LEFT exploded into 3 time buckets, one "
        "equi-join Exchange on (user, bucket), exact |dt|<=W filter on "
        "bucket-local candidates — no CartesianProduct / "
        "BroadcastNestedLoopJoin anywhere.",
        "range_join_events",
    ),
    (
        "stratified_sample_docs",
        "Deterministic stratified sample: scan-side filter only (the md5 "
        "route is a row-local expression — zero shuffle, zero Python), "
        "ReadSchema pruned to (doc_id, source).",
        "stratified_sample_docs",
    ),
    (
        "extract_news_docs",
        "Title-clean + date-cascade extraction: one narrow projection "
        "stage, all regex JVM-side, zero Exchange, zero Python.",
        "extract_news_docs",
    ),
    (
        "link_types_docs",
        "LinkTypes two-pass (§3.2): per-link classification feeds two "
        "site-level aggregations (publishProb, topPaths) whose one-row-"
        "per-site outputs rejoin via BroadcastHashJoin — the link table "
        "itself never shuffles for the rejoin; all classification regex "
        "JVM-side, zero Python.",
        "link_types_docs",
    ),
    (
        "simtext_argmax_docs",
        "A11 similarity argmax: exactly one ArrowEvalPython (the struct "
        "UDF evaluates once; best/ratio are field reads of the same "
        "call), no shuffle.",
        "simtext_argmax_docs",
    ),
    (
        "ann_ivf_batch_topk",
        "Batch IVF ANN serving: the index side is consumed in place by ONE "
        "MapInArrow (no Exchange below it — one numpy matmul per "
        "(partition, cell) against the driver-broadcast probes + local "
        "top-k/slack band), so the per-query window Exchange moves "
        "~partitions x queries x k rows instead of every scored pair "
        "(~200x fewer at 500k/2k).",
        "ann_ivf_batch_topk",
    ),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from go_pkg_spider_spark.session import get_spark
    from go_pkg_spider_spark import pipeline, datagen
    import __spark_entry__ as entry

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    clips_path = "/tmp/plans_clips.parquet"
    if not os.path.exists(clips_path):
        datagen.write_clips_parquet(clips_path, 200)

    out = ["# Physical plans — scale-design evidence\n"]
    out.append(
        "Generated by tools/plan_report.py; plan-shape regressions are pinned "
        "in tests/test_plans.py.\n"
    )
    for name, note, qname in REPORT:
        if qname is None:
            df = pipeline.run_pipeline(spark.read.parquet(clips_path))
        else:
            df = qs[qname](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # cut each node's line, not the plan: a cap on the whole text
        # lost every node below the clips pipeline's long projections
        lines = "\n".join(line[:400] for line in plan.splitlines())
        out.append(f"\n## {name}\n\n{note}\n\n```\n{lines}\n```\n")

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as f:
        f.write("".join(out))
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
