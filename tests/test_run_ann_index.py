"""Composed ANN index job (jobs/run_ann_index.py): served-batch
correctness (exact equality with brute force when every cell is
probed), stage-manifest resume idempotence, and the two-fingerprint
design (query-knob changes rerun only topk against the committed
index)."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_pkg_spider_spark.operators import similarity
from jobs.run_ann_index import run_ann_index


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _queries(emb):
    return (
        emb.orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )


def test_full_run_resume_and_query_only_rerun(spark, tmp_path):
    emb = _emb(spark)
    root = str(tmp_path / "ann")
    kw = dict(
        n_cells=8,
        iters=1,
        query_id_col="qid",
        topk=5,
        n_probe=8,  # probe EVERY cell -> exact
        round_digits=4,
    )
    s1 = run_ann_index(
        spark, emb, root, queries=_queries(emb), queries_sig="q1", **kw
    )
    assert s1["stages_run"] == 3 and s1["stages_skipped"] == 0
    assert int(s1["metrics"]["centroids"]["n_cells"]) == 8
    assert int(s1["metrics"]["index"]["cells_used"]) >= 4
    # the cell metrics are counted during the index write, and equal a
    # groupBy over the committed index
    sizes = [
        r["count"]
        for r in spark.read.parquet(f"{root}/index").groupBy("cell").count().collect()
    ]
    m = s1["metrics"]["index"]
    assert (m["cells_used"], m["max_cell_rows"], m["min_cell_rows"]) == (
        str(len(sizes)), str(max(sizes)), str(min(sizes))
    )
    assert m["null_vectors_dropped"] == "0"

    # with n_probe == n_cells the probe prunes nothing, so the served
    # batch must EQUAL brute-force top-k for every query
    got = spark.read.parquet(f"{root}/topk").collect()
    e = emb.withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    for q in _queries(emb).collect():
        want = [
            (i + 1, r.vec_id, r.cosine_sim)
            for i, r in enumerate(
                similarity.brute_force_topk(
                    e, "embedding", "vec_id",
                    [float(x) for x in q.embedding], k=5, round_digits=4,
                ).collect()
            )
        ]
        mine = sorted(
            [(r.rk, r.vec_id, r.cosine_sim) for r in got if r.qid == q.qid]
        )
        assert mine == want, f"qid={q.qid}"

    # identical rerun: everything resumes
    s2 = run_ann_index(
        spark, emb, root, queries=_queries(emb), queries_sig="q1", **kw
    )
    assert s2["stages_run"] == 0 and s2["stages_skipped"] == 3

    # query-knob change (n_probe): ONLY topk reruns — the committed
    # centroids/index are reused (the point of materializing them)
    kw2 = dict(kw, n_probe=4)
    s3 = run_ann_index(
        spark, emb, root, queries=_queries(emb), queries_sig="q1", **kw2
    )
    assert s3["stages_run"] == 1 and s3["stages_skipped"] == 2

    # training-knob change (n_cells): the WHOLE chain reruns
    kw3 = dict(kw, n_cells=4)
    s4 = run_ann_index(
        spark, emb, root, queries=_queries(emb), queries_sig="q1", **kw3
    )
    assert s4["stages_run"] == 3 and s4["stages_skipped"] == 0


def test_index_table_is_cell_partitioned(spark, tmp_path):
    import os

    emb = _emb(spark)
    root = str(tmp_path / "ann")
    run_ann_index(spark, emb, root, n_cells=8, iters=1)
    dirs = [d for d in os.listdir(f"{root}/index") if d.startswith("cell=")]
    assert len(dirs) >= 4  # physical layout: one directory per cell
    # read-back restores the partition column and the vectors intact
    idx = spark.read.parquet(f"{root}/index")
    assert set(idx.columns) == {"vec_id", "embedding", "cell"}
    assert idx.count() == emb.count()


def test_empty_input_raises_clearly(spark, tmp_path):
    import pytest

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no centroids trained"):
        run_ann_index(spark, empty, str(tmp_path / "ann_empty"))


def test_null_vectors_dropped_with_accounting(spark, tmp_path):
    emb = _emb(spark).withColumn(
        "embedding",
        F.when(F.col("vec_id") % 17 == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    n_null = emb.filter(F.col("embedding").isNull()).count()
    assert n_null > 0
    root = str(tmp_path / "ann")
    s = run_ann_index(spark, emb, root, n_cells=8, iters=1)
    assert int(s["metrics"]["index"]["null_vectors_dropped"]) == n_null
    assert s["stage_rows"]["index"] == emb.count() - n_null


def test_inline_queries_never_resume_topk(spark, tmp_path):
    emb = _emb(spark)
    root = str(tmp_path / "ann")
    s1 = run_ann_index(spark, emb, root, queries=_queries(emb), query_id_col="qid")
    assert s1["stages_run"] == 3
    # identical inline batch, NO queries_sig: index resumes, topk must
    # rerun (two different inline batches would share a fingerprint)
    s2 = run_ann_index(spark, emb, root, queries=_queries(emb), query_id_col="qid")
    assert s2["stages_skipped"] == 2 and s2["stages_run"] == 1


def test_stage_reads_use_the_recorded_schemas(spark, tmp_path, stage_reads):
    """Committed and resumed, every stage table, the cell-partitioned
    index included, reads with the schema its done row records: no
    inference job, the inferred schema (partition column last)."""
    emb = _emb(spark)
    root = str(tmp_path / "ann_schemas")
    kw = dict(n_cells=4, iters=1, queries_sig="q1", query_id_col="qid", topk=3, n_probe=2)
    run_ann_index(spark, emb, root, queries=_queries(emb), **kw)
    s2 = run_ann_index(spark, emb, root, queries=_queries(emb), **kw)
    assert s2["stages_skipped"] == 3
    checked = stage_reads()
    assert sorted(checked) == sorted(
        [("ann_manifest", "centroids"), ("ann_manifest", "index"), ("ann_manifest_topk", "topk")]
        * 2
    )
    assert spark.read.parquet(f"{root}/index").columns[-1] == "cell"


def test_root_committed_with_a_scorer_reruns_only_topk(spark, tmp_path):
    """The topk params once carried a "scorer" key (the serve step had
    two interchangeable scorers). A root whose topk done row records
    that older params_sig does not resume topk: topk reruns once while
    centroids and index resume, and the next identical run resumes all
    three stages."""
    import json

    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.manifest import append_rows, latest_rows, read_manifest
    from go_pkg_spider_spark.io.stages import STAGE_MANIFEST_SCHEMA
    from jobs.run_ann_index import ANN_MANIFEST_TABLE

    emb = _emb(spark)
    root = str(tmp_path / "ann")
    kw = dict(n_cells=4, iters=1, queries_sig="q1", query_id_col="qid", topk=3, n_probe=2)
    run_ann_index(spark, emb, root, queries=_queries(emb), **kw)

    cat = Catalog(spark, root)
    table = ANN_MANIFEST_TABLE + "_topk"
    done = latest_rows(read_manifest(cat, table, STAGE_MANIFEST_SCHEMA), "stage")["topk"]
    old_sig = json.dumps(
        {**json.loads(done.metrics["params_sig"]), "scorer": "join"}, sort_keys=True
    )
    append_rows(
        cat,
        table,
        STAGE_MANIFEST_SCHEMA,
        [
            {
                "stage": "topk",
                "status": "done",
                "rows": done.rows,
                "metrics": {**done.metrics, "params_sig": old_sig},
                "run_id": "old",
                "schema": done.schema,
            }
        ],
    )

    s = run_ann_index(spark, emb, root, queries=_queries(emb), **kw)
    assert (s["stages_run"], s["stages_skipped"]) == (1, 2)
    assert s["stage_rows"]["topk"] == 3 * 3
    s = run_ann_index(spark, emb, root, queries=_queries(emb), **kw)
    assert (s["stages_run"], s["stages_skipped"]) == (0, 3)
