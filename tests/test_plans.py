"""Physical-plan shape assertions — the scale-design contract:
pushdown reaches the scan, small dims broadcast, aggregates are
partial+final, top-k avoids global sort, and the per-clip pipeline
stays shuffle-free."""

from __future__ import annotations

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filter_pushdown(spark):
    plan = _plan(entry.queries()["q6_forecast_revenue"](spark, SF))
    assert "PushedFilters: [" in plan
    assert "l_discount" in plan.split("PushedFilters")[1][:300]


def test_broadcast_join_used(spark):
    plan = _plan(entry.queries()["broadcast_join_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_anti_join_broadcast(spark):
    plan = _plan(entry.queries()["anti_join_resume"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q1_partial_aggregation(spark):
    plan = _plan(entry.queries()["q1_pricing_summary"](spark, SF))
    # map-side partial + final aggregate around one shuffle
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_ann_topk_no_global_sort(spark):
    plan = _plan(entry.queries()["ann_topk_embeddings"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no full sort operator


def test_scan_prunes_columns(spark):
    df = entry.queries()["token_stats_docs"](spark, SF)
    plan = _plan(df)
    # only doc_id + text should be read (ReadSchema pruned)
    read = plan.split("ReadSchema")[1][:200]
    assert "text" in read and "doc_id" in read
    assert "source" not in read and "n_chars" not in read


def test_rules_are_jvm_side(spark):
    # rule chain is pure column math: no Python eval node anywhere
    # (higher-order filter() lambdas keep it out of whole-stage codegen,
    # but it stays fully JVM-side)
    plan = _plan(entry.queries()["keep_drop_docs"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_whole_stage_codegen_on_aggregates(spark):
    df = entry.queries()["q1_pricing_summary"](spark, SF)
    df.collect()  # AQE: codegen markers appear in the FINAL plan only
    plan = _plan(df)
    # '*(n)' prefixes mark whole-stage-codegen spans in the final plan
    assert "isFinalPlan=true" in plan and "*(" in plan


def test_minhash_single_python_hop(spark):
    """The minhash UDF must evaluate ONCE per row: a filter on the UDF
    output (sig.isNotNull) made Spark evaluate it twice (Filter +
    Project = two ArrowEvalPython nodes, 2x Python cost). The pure-column
    word-count pre-filter keeps it to one."""
    plan = _plan(entry.queries()["minhash_lsh_docs"](spark, SF))
    assert plan.count("ArrowEvalPython") == 1


def test_entry_single_python_hop(spark):
    """entry() scores the model residual and ppl through the fused UDF
    in one pass: one ArrowEvalPython node, as in the clips pipeline."""
    plan = _plan(entry.entry(spark))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_entry_evaluates_the_guards_once(spark):
    """entry() projects the lang-independent guards once and reads
    them in both the ppl mask and the drop-reason chain, so the
    licence-blacklist regex appears once in its optimized plan."""
    from go_pkg_spider_spark.functions.rules import ZH_LICENCE_BLACKLIST_RE

    df = entry.entry(spark)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count(ZH_LICENCE_BLACKLIST_RE) == 1


def test_fused_import_leaves_pandas_out():
    """The fused UDF's import chain is pandas-free, so its Arrow UDF
    worker never pays for loading pandas."""
    import subprocess
    import sys

    code = (
        "import sys, go_pkg_spider_spark.operators.fused; "
        "print('pandas' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False"


def test_simhash_single_python_hop(spark):
    plan = _plan(entry.queries()["simhash_docs"](spark, SF))
    assert plan.count("ArrowEvalPython") == 1


def test_embedding_neardup_no_join_no_python(spark):
    """Bucket-collect pair generation: no self-join (the old sig==sig
    join re-executed the hyperplane projection on both sides), no
    row-at-a-time Python, one groupBy exchange. Round 9: in-bucket
    scoring moved to ONE MapInPandas (numpy left-fold cosine, bit-
    identical to the old HOF fold — see similarity.py) — the plan must
    hold exactly one Python stage and still no join."""
    plan = _plan(entry.queries()["embedding_neardup_pairs"](spark, SF))
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, bad
    assert plan.count("MapInPandas") == 1


def test_q3_topk_no_global_sort(spark):
    plan = _plan(entry.queries()["q3_shipping_priority"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_asof_join_single_user_shuffle(spark):
    """The as-of join must be the union-window form: shuffles on
    user_id for the window, never a per-row join/probe."""
    plan = _plan(entry.queries()["asof_join_events"](spark, SF))
    assert "Window" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_winnow_no_python_and_bounded(spark):
    """Winnowing is pure column math (one md5 per gram, materialized
    stage columns — the inline form re-evaluated the gram pipeline per
    window, the O(n^2) array-expression trap)."""
    plan = _plan(entry.queries()["winnow_fingerprints_docs"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_q5_dims_broadcast(spark):
    """Six-table Q5 tree: the dim joins (supplier/nation/region) must
    broadcast — no shuffle exchange for a side that fits in memory."""
    plan = _plan(entry.queries()["q5_local_supplier_volume"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_range_join_no_cartesian(spark):
    """Bucketized range join: equi-join on (key, bucket) only — a naive
    inequality join degenerates to a per-key cross product
    (BroadcastNestedLoopJoin/CartesianProduct must NOT appear)."""
    plan = _plan(entry.queries()["range_join_events"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_assign_expression_is_linear(spark):
    """ivf_assign must be the let-bound argmin form: the old sequential
    when-chain nested best_d into itself (exponential tree, measured
    177s vs <1s at k=8,dim=32). Guard: the assignment expression for
    k=8 centroids stays small."""
    from pyspark.sql import functions as F

    from go_pkg_spider_spark.operators import similarity

    cents = [[float(i), float(i + 1)] for i in range(8)]
    df = spark.range(1).select(F.array(F.lit(1.0), F.lit(2.0)).alias("v"))
    out = df.select(similarity.ivf_assign(F.col("v"), cents).alias("cell"))
    analyzed = out._jdf.queryExecution().analyzed().toString()
    # the analyzed tree printout is a cheap proxy for node count: the
    # nested when-chain form printed megabytes for k=8
    assert len(analyzed) < 50_000
    assert out.collect()[0].cell == 1  # [1,2] is exactly centroid 1


def test_link_types_stats_rejoin_broadcasts(spark):
    """LinkTypes two-pass: the one-row-per-site stats must come back via
    BroadcastHashJoin (the link table never shuffles for the rejoin)
    and the whole flow stays JVM-side (no Python nodes)."""
    plan = _plan(entry.queries()["link_types_docs"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # expression-duplication pin (round-4 verdict #1): before the pass-2
    # features were materialized as columns, the path.Dir CASE tree was
    # re-inlined at every when-chain reference (~24 copies); the
    # inherent floor is one copy per uncached DAG branch (~10 today)
    assert plan.count("(.*)/[^/]*") <= 12, (
        f"path.Dir tree duplicated {plan.count('(.*)/[^/]*')}x — "
        "pass-2 feature columns are being re-inlined again"
    )


def test_simtext_argmax_single_python_hop(spark):
    """A11 argmax: the struct UDF evaluates ONCE — best/ratio are field
    reads of the same ArrowEvalPython call, not two UDF evaluations."""
    plan = _plan(entry.queries()["simtext_argmax_docs"](spark, SF))
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan


def test_spread_small_scan_guard_semantics(spark, tmp_path):
    """Round 7: the small-scan spreader repartitions ONLY a tiny
    few-file local scan (the unsplittable one-row-group case that ran
    winnow in one task — 5.5s -> ~1.1s at sf0.1); a scan with >= 
    parallelism input files passes through untouched, so at production
    scale (thousands of splits) the helper is a metadata-only no-op."""
    from go_pkg_spider_spark.entry_queries import _spread_small_scan

    par = spark.sparkContext.defaultParallelism
    one = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.parquet(one)
    small = spark.read.parquet(one)
    spread = _spread_small_scan(small, spark)
    assert "Repartition" in spread._jdf.queryExecution().logical().toString()
    assert spread.rdd.getNumPartitions() == par
    assert spread.count() == 1000

    many = str(tmp_path / "many")
    spark.range(1000).repartition(par).write.parquet(many)
    wide = spark.read.parquet(many)
    same = _spread_small_scan(wide, spark)
    assert "Repartition" not in same._jdf.queryExecution().logical().toString()


def test_audio_fp_confinement(spark):
    """Round 8 fingerprint leg: decode + FFT + fingerprint run in ONE
    MapInPandas stage with zero Exchange — PCM and per-frame spectra
    never cross a shuffle; only ~20 bytes/clip leave the stage. The
    grouping side shuffles exactly once on the pigeonhole blocks
    before the component rounds."""
    from go_pkg_spider_spark.fixtures.audio_fp_fixtures import build_rows
    from go_pkg_spider_spark.operators.audio_fp import fingerprint_clips
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        build_rows(), "fid long, bytes binary, codec string, sr_hz int"
    ).select(
        F.col("fid").cast("string").alias("clip_id"), "bytes", "codec", "sr_hz"
    )
    plan = _plan(fingerprint_clips(df))
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_audio_fp_pairs_single_exchange(spark):
    """The pair-generation plan shuffles exactly ONCE — the pigeonhole
    bucket key (blk_idx, blk); the cap window and the bucket collect
    reuse that partitioning. Canonical-block emission (keep a pair only
    in the first block where the fingerprints agree) replaced the old
    dropDuplicates, whose pair-key Exchange was a second shuffle
    carrying up to 8x the surviving pairs."""
    from go_pkg_spider_spark.operators.audio_fp import audio_fp_pairs

    fp = spark.createDataFrame(
        [(f"c{i:03d}", (i // 3) * 0x1_0001 + i % 3, False, None) for i in range(24)],
        "clip_id string, fp64 long, fp_degenerate boolean, err string",
    )
    plan = _plan(audio_fp_pairs(fp))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
