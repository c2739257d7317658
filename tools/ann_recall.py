"""ANN serving accuracy contract (VERDICT r5 "What's missing" #1):
measured recall@k vs n_probe for similarity.ivf_topk_batch, the dial a
user of jobs/run_ann_index.py sets blind otherwise.

Protocol: train IVF centroids exactly as the job does
(train_ivf_centroids_distributed, job defaults n_cells=8/iters=1) over
the real embeddings table, take EVERY vector as a query (self-queries —
the hardest honest set available without external data), compute
ground truth as the full-probe run (n_probe = n_cells; property-tested
equal to brute force on adversarial vectors in tests/test_streaming),
then sweep n_probe and report mean recall@k plus the fraction of
probed index rows (the cost side of the dial).

Usage: python tools/ann_recall.py [sf_dir]   (default /root/testdata/sf0.1)
Output: one markdown table for BENCH/BASELINE.md + one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

K = 10
N_CELLS = 8
PROBES = (1, 2, 4, 8)


def recall_sweep(spark, emb, k=K, n_cells=N_CELLS, probes=PROBES, iters=1):
    """Returns (rows, centroids): rows = [{n_probe, recall, probed_frac,
    wall_sec}], truth taken from the full-probe entry (must be the max
    of `probes` and equal n_cells). Every index vector is a query."""
    import time

    from pyspark.sql import functions as F

    from go_pkg_spider_spark.operators import similarity

    emb = emb.withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    cents = similarity.train_ivf_centroids_distributed(
        emb, "embedding", "vec_id", k=n_cells, iters=iters
    )
    queries = emb.select(F.col("vec_id").alias("qid"), "embedding")
    # index-side cell sizes -> probed-row fraction per n_probe is data
    # dependent per query; report the average via candidate counts
    n_index = emb.count()

    results = {}
    walls = {}
    for p in probes:
        t0 = time.monotonic()
        out = similarity.ivf_topk_batch(
            emb, queries, "embedding", "vec_id", "qid", cents, k=k, n_probe=p
        ).collect()
        walls[p] = round(time.monotonic() - t0, 2)
        got: dict[int, set] = {}
        for r in out:
            got.setdefault(r.qid, set()).add(r.vec_id)
        results[p] = got

    # cost side, computed exactly: for each query the probed rows are the
    # sizes of its p nearest cells (same (dist, cell) tie-break as the
    # operator's struct sort — lexsort secondary key = cell id)
    import numpy as np

    cand_frac: dict[int, float] = {}

    cents_np = np.asarray(cents)
    qvecs = {r.qid: np.asarray(r.embedding) for r in queries.collect()}
    sizes = np.zeros(len(cents), dtype=np.int64)
    # bounded collect: k (cell, count) rows, not the n assignments
    for r in (
        emb.select(similarity.ivf_assign(F.col("embedding"), cents).alias("c"))
        .groupBy("c")
        .count()
        .collect()
    ):
        sizes[r.c] += r["count"]
    order = {
        qid: np.lexsort(
            (np.arange(len(cents)), ((cents_np - v) ** 2).sum(axis=1))
        )
        for qid, v in qvecs.items()
    }
    for p in probes:
        probed = sum(int(sizes[order[q][:p]].sum()) for q in qvecs)
        cand_frac[p] = probed / (len(qvecs) * n_index)

    truth_p = max(probes)
    assert truth_p == n_cells, "truth must be the full probe"
    truth = results[truth_p]
    rows = []
    for p in probes:
        rec = sum(
            len(results[p].get(q, set()) & t) / len(t) for q, t in truth.items()
        ) / len(truth)
        rows.append(
            {
                "n_probe": p,
                "recall_at_k": round(rec, 4),
                "probed_frac": round(cand_frac[p], 4),
                "wall_sec": walls[p],
            }
        )
    return rows, cents


def main() -> None:
    from go_pkg_spider_spark.session import get_spark

    spark = get_spark(
        app_name="ann_recall",
        # the fan-out-join scan-split lesson (run_ann_index.py): a
        # compact index bin-packs into ~2 tasks at default splits
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "16m",
            "spark.sql.files.openCostInBytes": "1m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    rows, _ = recall_sweep(spark, emb)
    n = emb.count()
    print(f"\n| n_probe (of {N_CELLS} cells) | recall@{K} | index rows probed | wall (s) |")
    print("|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['n_probe']} | {r['recall_at_k']:.4f} | "
            f"{r['probed_frac']*100:.1f}% | {r['wall_sec']} |"
        )
    print()
    print(json.dumps({"sf_dir": sf_dir, "n_vectors": n, "k": K, "rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
