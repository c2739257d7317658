"""Composed ANN index job: train IVF centroids -> materialize the
cell-partitioned index -> optionally serve a query batch — the
similarity-search counterpart of jobs/run_dedup.py, as ONE
spark-submit artifact (what a user actually runs to stand up ANN over
a 100 TB embedding corpus).

    zip -qr /tmp/pkg.zip go_pkg_spider_spark
    spark-submit --driver-memory 24g --py-files /tmp/pkg.zip \
        jobs/run_ann_index.py --input /data/embeddings \
        --output-root /data/ann --run-id nightly --n-cells 256 \
        --queries /data/query_vecs --topk 10 --n-probe 8

Scale/resume design:
- Stage-manifested via io/stages.StageRunner (the run_dedup machinery:
  latest-row params_sig gate, append-only running -> done rows around
  each overwrite, downstream rerun on any upstream rerun).
- `centroids` commits the trained coarse quantizer in LONG form
  (cell, pos, val) — k x dim rounded doubles, the same bounded driver
  budget as the trainer itself (similarity.
  train_ivf_centroids_distributed: first-k-ids seeds + Lloyd steps
  whose per-(cell,pos) means are partial aggs).
- `index` commits (id, cell, vector) PARTITIONED BY cell — unlike the
  dedup chain's small derived tables, the index IS the product (the
  distributed analog of Faiss IVF lists): a copy of the corpus
  clustered by cell, so a serve-time scan task reads few cells and
  scores each as one matmul.
- `topk` (only when --queries is given) reads the committed index and
  serves the batch with similarity.ivf_topk_batch(cell_col="cell") —
  probes broadcast to the index scan, one numpy matmul per (partition,
  cell) with a local top-k, per-query top-k window; results land in
  the `topk` table, one row per (query id, rank).
- The params_sig covers every knob INCLUDING a CONTENT fingerprint of
  the queries path (file count + bytes + max mtime — overwriting the
  batch in place invalidates topk): a new query batch against the same
  root reruns only `topk` (centroids and index stay resumable because
  sig_core excludes query knobs — see below), while changing
  n_cells/iters rebuilds everything.

Two fingerprints, deliberately: index stages are gated on the CORE sig
(training + layout knobs) and the topk stage on core + query knobs —
so re-serving a different query file, k, or n_probe reuses the
committed index (the whole point of materializing it) yet can never
reuse a topk table computed with other parameters.
"""

from __future__ import annotations

import argparse
import json
import sys

ANN_MANIFEST_TABLE = "ann_manifest"


def _centroids_long_rows(cents: list[list[float]]):
    return [
        (cell, pos, float(val))
        for cell, row in enumerate(cents)
        for pos, val in enumerate(row)
    ]


def _centroids_from_table(df) -> list[list[float]]:
    rows = df.collect()
    by_cell: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cell.setdefault(r.cell, {})[r.pos] = r.val
    return [
        [by_cell[c][p] for p in sorted(by_cell[c])] for c in sorted(by_cell)
    ]


def queries_fingerprint(path: str) -> str:
    """Content fingerprint for a query-batch path (ADVICE r5): the path
    alone is not enough — overwriting the file in place and rerunning
    with identical knobs must NOT resume the stale committed topk table.
    Cheap proxy: parquet file count + total bytes + max mtime (never a
    data scan), collected with a RECURSIVE walk so partitionBy layouts
    (key=val subdirectories) fingerprint their leaf files instead of
    degenerating to n=0 (ADVICE r6 #5). Falls back to the bare path for
    non-local URIs, where the caller should use a fresh --run-id/path
    per batch."""
    import os

    try:
        if not os.path.exists(path):
            return path  # non-local URI (s3://...) or missing: bare path
        stats = [
            os.stat(os.path.join(d, n))
            for d, _subdirs, files in sorted(os.walk(path))
            for n in sorted(files)
            if n.endswith(".parquet")
        ]
        if not stats and not os.path.isdir(path):
            stats = [os.stat(path)]  # a single parquet FILE path
        return (
            f"{path}#n={len(stats)}"
            f"#bytes={sum(s.st_size for s in stats)}"
            f"#mtime={max((s.st_mtime_ns for s in stats), default=0)}"
        )
    except OSError:
        return path


def run_ann_index(
    spark,
    emb,
    output_root: str,
    run_id: str = "adhoc",
    **kwargs,
) -> dict:
    """Run (or resume) the ANN index chain under the output root's
    single-writer lease (see io/stages.run_lease — a concurrent
    invocation on the same root fails fast with LeaseHeldError).
    `queries` is an optional DataFrame of (query_id_col, vec_col);
    `queries_sig` identifies its CONTENT (use queries_fingerprint(path),
    not the bare path) for the topk resume gate. Returns the
    StageRunner summary."""
    from go_pkg_spider_spark.io.stages import run_lease

    with run_lease(output_root, run_id):
        return _run_ann_index_locked(spark, emb, output_root, run_id, **kwargs)


def _run_ann_index_locked(
    spark,
    emb,
    output_root: str,
    run_id: str = "adhoc",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iters: int = 1,
    queries=None,
    queries_sig: str | None = None,
    query_id_col: str = "vec_id",
    topk: int = 10,
    n_probe: int = 4,
    round_digits: int = 6,
) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.stages import StageRunner
    from go_pkg_spider_spark.operators import similarity
    from go_pkg_spider_spark.session import local_frame

    cat = Catalog(spark, output_root)
    core = {
        "id_col": id_col,
        "vec_col": vec_col,
        "n_cells": n_cells,
        "iters": iters,
    }
    runner = StageRunner(spark, cat, ANN_MANIFEST_TABLE, core, run_id)

    emb = emb.withColumn(
        vec_col, F.transform(F.col(vec_col), lambda x: x.cast("double"))
    )

    # stage 1: coarse quantizer (k x dim rounded doubles, long form).
    # The empty-input guard fires BEFORE commit — committing an empty
    # centroids table as `done` would poison the output root for this
    # params_sig (resume would then skip training forever).
    if not runner.resumable("centroids"):
        # NULL vectors would seed/assign as NULL and crash the Lloyd
        # step — train on the indexable rows only (the index stage
        # below counts the dropped rows into the manifest)
        cents = similarity.train_ivf_centroids_distributed(
            emb.filter(F.col(vec_col).isNotNull()),
            vec_col,
            id_col,
            k=n_cells,
            iters=iters,
        )
        if not cents:
            raise ValueError(
                "run_ann_index: no centroids trained — input table is "
                f"empty or every {vec_col} is NULL; nothing to index "
                "(nothing was committed; rerun after fixing the input)"
            )
        runner.commit(
            "centroids",
            local_frame(
                spark,
                _centroids_long_rows(cents),
                StructType(
                    [
                        StructField("cell", IntegerType()),
                        StructField("pos", IntegerType()),
                        StructField("val", DoubleType()),
                    ]
                ),
            ),
            metrics={"n_cells": str(len(cents)), "dim": str(len(cents[0]))},
        )
    cents = _centroids_from_table(runner.read("centroids"))
    if not cents:
        raise ValueError(
            "run_ann_index: committed centroids table is empty (written "
            "by an older job version?) — delete the output root and rerun"
        )

    # stage 2: the cell-partitioned index (id, vector, cell). Rows with
    # NULL vectors cannot be indexed: they are dropped HERE, with the
    # drop count surfaced in the manifest metrics (never silent). The
    # per-cell sizes are counted during the write, one count_if per
    # cell.
    if not runner.resumable("index"):
        from pyspark.sql import Observation

        obs = Observation()
        assigned = (
            emb.select(F.col(id_col), F.col(vec_col))
            .observe(
                obs,
                F.sum(F.col(vec_col).isNull().cast("long")).alias(
                    "null_vectors_dropped"
                ),
            )
            .filter(F.col(vec_col).isNotNull())
            .select(
                F.col(id_col),
                F.col(vec_col),
                similarity.ivf_assign(F.col(vec_col), cents).alias("cell"),
            )
        )
        used = F.filter(
            F.array(*[F.count_if(F.col("cell") == c) for c in range(len(cents))]),
            lambda n: n > 0,
        )
        runner.commit(
            "index",
            assigned,
            metrics={
                "cells_used": F.size(used),
                "max_cell_rows": F.coalesce(F.array_max(used), F.lit(0)),
                "min_cell_rows": F.coalesce(F.array_min(used), F.lit(0)),
            },
            observation=obs,
            partition_by=["cell"],
        )

    # stage 3: serve the query batch against the committed index
    if queries is not None:
        # topk gate = core + query knobs: a new batch/k/n_probe reruns
        # only this stage against the already-committed index. An
        # UNIDENTIFIED batch (no queries_sig — a caller-constructed
        # DataFrame) is never resumable: two different inline batches
        # would otherwise share a fingerprint and the second would
        # silently read the first one's results.
        topk_runner = StageRunner(
            spark,
            cat,
            ANN_MANIFEST_TABLE + "_topk",
            {
                **core,
                "queries": queries_sig or "<inline-unresumable>",
                "topk": topk,
                "n_probe": n_probe,
                "round_digits": round_digits,
            },
            run_id,
        )
        # an upstream rebuild invalidates any committed topk result
        topk_runner.upstream_reran = runner.upstream_reran or queries_sig is None
        if not topk_runner.resumable("topk"):
            q = queries.withColumn(
                vec_col, F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ).select(F.col(query_id_col).alias("qid"), F.col(vec_col))
            result = similarity.ivf_topk_batch(
                runner.read("index"),
                q,
                vec_col,
                id_col,
                "qid",
                cents,
                k=topk,
                n_probe=n_probe,
                round_digits=round_digits,
                cell_col="cell",
            )
            topk_runner.commit("topk", result)
            # release any index projection the scorer persisted
            # for a multi-chunk probe batch (the commit materialized it)
            similarity.release_serve_caches()
        for k_, v in topk_runner.summary.items():
            if isinstance(v, dict):
                runner.summary.setdefault(k_, {}).update(v)
            else:
                runner.summary[k_] = runner.summary.get(k_, 0) + v
    return runner.summary


def main() -> None:
    p = argparse.ArgumentParser(description="composed ANN index job")
    p.add_argument("--input", required=True, help="embeddings table path")
    p.add_argument("--output-root", required=True)
    p.add_argument("--run-id", default="adhoc")
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--n-cells", type=int, default=8)
    p.add_argument("--iters", type=int, default=1)
    p.add_argument("--queries", default=None, help="query vectors table path")
    p.add_argument("--query-id-col", default="vec_id")
    p.add_argument("--topk", type=int, default=10)
    p.add_argument("--n-probe", type=int, default=4)
    p.add_argument("--round-digits", type=int, default=6)
    args = p.parse_args()

    from go_pkg_spider_spark.session import get_spark

    # Small scan splits: the serve step scores every index row against
    # ~n_queries x n_probe / n_cells probing queries, so per-byte scan
    # cost is far above a plain column scan — at the default 128m
    # splits a compact index bin-packs into a handful of tasks and the
    # scoring stage runs at ~2 cores regardless of local[N] (measured
    # with the earlier per-pair scorer on the 500k x 64-dim index =
    # 256MB, BENCH/BASELINE.md sf1 ANN section). At 100TB the index has
    # abundant splits and this conf is a no-op for parallelism.
    spark = get_spark(
        app_name=f"ann-index-{args.run_id}",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "16m",
            "spark.sql.files.openCostInBytes": "1m",
        },
    )
    emb = spark.read.parquet(args.input)
    queries = spark.read.parquet(args.queries) if args.queries else None
    summary = run_ann_index(
        spark,
        emb,
        args.output_root,
        run_id=args.run_id,
        id_col=args.id_col,
        vec_col=args.vec_col,
        n_cells=args.n_cells,
        iters=args.iters,
        queries=queries,
        queries_sig=queries_fingerprint(args.queries) if args.queries else None,
        query_id_col=args.query_id_col,
        topk=args.topk,
        n_probe=args.n_probe,
        round_digits=args.round_digits,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
