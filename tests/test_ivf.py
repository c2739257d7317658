"""IVF ANN: centroid training determinism, assignment, and recall vs
brute force on the real embeddings table."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_pkg_spider_spark.operators import similarity


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )


def test_centroids_deterministic(spark):
    e = _emb(spark)
    c1 = similarity.train_ivf_centroids_distributed(e, "embedding", "vec_id", k=8)
    c2 = similarity.train_ivf_centroids_distributed(e, "embedding", "vec_id", k=8)
    assert c1 == c2 and len(c1) == 8 and len(c1[0]) == 64


def test_ivf_assignment_covers_all(spark):
    e = _emb(spark)
    cents = similarity.train_ivf_centroids_distributed(e, "embedding", "vec_id", k=8)
    cells = e.select(similarity.ivf_assign(F.col("embedding"), cents).alias("c"))
    counts = {r.c: r["count"] for r in cells.groupBy("c").count().collect()}
    assert sum(counts.values()) == e.count()
    assert len(counts) >= 4  # spread over multiple cells


def test_ivf_assign_arrow_matches_literal(spark):
    """The large-k Arrow argmin must assign every vector to the same
    cell as the pure-column literal form (max_literal_k=0 forces the
    Arrow path at k=8)."""
    e = _emb(spark)
    cents = similarity.train_ivf_centroids_distributed(e, "embedding", "vec_id", k=8)
    lit = e.select(
        "vec_id", similarity.ivf_assign(F.col("embedding"), cents).alias("c")
    )
    arrow = e.select(
        "vec_id",
        similarity.ivf_assign(F.col("embedding"), cents, max_literal_k=0).alias("c"),
    )
    a = {r.vec_id: r.c for r in lit.collect()}
    b = {r.vec_id: r.c for r in arrow.collect()}
    assert a == b


def test_ivf_assign_large_k_plan_is_constant_size(spark):
    """At k > max_literal_k the plan must be the O(1)-size Arrow form
    (ArrowEvalPython), not a k x dim literal expression — the round-3
    'plan is the bottleneck at production k' defect."""
    e = _emb(spark)
    cents = [[float((i * 7 + p) % 13) for p in range(64)] for i in range(256)]
    df = e.select(similarity.ivf_assign(F.col("embedding"), cents).alias("c"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    # the literal form at k=256 x dim=64 would embed ~16k literals; the
    # Arrow plan stays flat
    assert len(plan) < 20_000
    # and it actually runs: every row lands in a valid cell
    mn, mx = df.agg(F.min("c"), F.max("c")).first()
    assert 0 <= mn and mx <= 255


def test_ivf_recall_vs_brute_force(spark):
    e = _emb(spark)
    cents = similarity.train_ivf_centroids_distributed(e, "embedding", "vec_id", k=8)
    q = [((-1.0) ** i) * (1.0 / (1 + i)) for i in range(64)]
    exact = {r.vec_id for r in similarity.brute_force_topk(e, "embedding", "vec_id", q, 10).collect()}
    approx = {
        r.vec_id
        for r in similarity.ivf_topk(e, "embedding", "vec_id", q, cents, 10, n_probe=4).collect()
    }
    assert len(exact & approx) >= 5  # half the probe budget recovers most


def test_ivf_assign_arrow_null_vector_yields_null_cell(spark):
    """A NULL embedding must produce a NULL cell in BOTH forms (the
    Arrow path previously crashed the task on np.stack over None)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [5.0, 5.0])],
        "id long, v array<double>",
    )
    cents = [[0.0, 0.0], [5.0, 5.0]]
    for max_k in (64, 0):  # literal form, then arrow form
        got = {
            r.id: r.c
            for r in df.select(
                "id",
                similarity.ivf_assign(F.col("v"), cents, max_literal_k=max_k).alias("c"),
            ).collect()
        }
        assert got[2] is None, max_k
        assert got[1] == 0 and got[3] == 1, max_k


def test_ivf_topk_batch_matches_single_query_loop(spark):
    """Cross-validation: the one-join batch operator must return, for
    every query, exactly the rows the single-query ivf_topk returns
    with the same centroids/k/n_probe (independent implementations:
    per-query filter+TakeOrdered vs broadcast-join+window)."""
    e = _emb(spark)
    cents = similarity.train_ivf_centroids_distributed(
        e, "embedding", "vec_id", k=8, iters=1
    )
    qrows = e.orderBy("vec_id").limit(3).collect()
    queries = spark.createDataFrame(
        [(r.vec_id, r.embedding) for r in qrows], "qid long, embedding array<double>"
    )
    batch = similarity.ivf_topk_batch(
        e, queries, "embedding", "vec_id", "qid", cents, k=5, n_probe=3,
        round_digits=4,
    ).collect()
    got = {
        qid: [(r.rk, r.vec_id, r.cosine_sim) for r in sorted(
            (x for x in batch if x.qid == qid), key=lambda x: x.rk
        )]
        for qid in {r.qid for r in batch}
    }
    for r in qrows:
        want = [
            (i + 1, w.vec_id, w.cosine_sim)
            for i, w in enumerate(
                similarity.ivf_topk(
                    e, "embedding", "vec_id", [float(x) for x in r.embedding],
                    cents, k=5, n_probe=3, round_digits=4,
                ).collect()
            )
        ]
        assert got[r.vec_id] == want, f"qid={r.vec_id}"


def test_ivf_topk_batch_plan_broadcasts_probes(spark):
    """Scale pins: the probe side is broadcast (no shuffle of the
    index for the join) and the plan contains no cartesian product;
    the only Exchange partitions the scored candidates by query id for
    the per-query top-k window."""
    e = _emb(spark)
    cents = similarity.train_ivf_centroids_distributed(
        e, "embedding", "vec_id", k=8, iters=1
    )
    queries = e.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    plan = (
        similarity.ivf_topk_batch(
            e, queries, "embedding", "vec_id", "qid", cents, k=5, n_probe=3
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_trainer_seed_spread_survives_cluster_sorted_input(spark):
    """Production corpora are routinely sorted by the structure the
    quantizer must find (ids assigned per shard/source). First-k-id
    seeding then puts every seed in ONE cluster and Lloyd collapses —
    measured at 500k vectors: k=64 -> 30 effective cells, 174x row
    imbalance (BENCH/BASELINE.md). The md5-order seed spread must
    recover all k clusters on a cluster-sorted corpus where the first
    k ids share a cluster."""
    from go_pkg_spider_spark.operators import similarity

    # 2 well-separated clusters of 50 CONSECUTIVE ids (0-49 around
    # (0,0), 50-99 around (10,10)). First-2-id seeding seeds BOTH in
    # cluster 0 (ids 0,1); md5 order starts 27 (cluster 0), 63
    # (cluster 1) — one seed per true cluster, so one Lloyd step must
    # recover the exact 50/50 split.
    rows = [
        (c * 50 + i, [10.0 * c + 0.01 * i, 10.0 * c + 0.01 * ((i * 7) % 50)])
        for c in range(2)
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.train_ivf_centroids_distributed(
        df, "embedding", "vec_id", k=2, iters=1
    )
    assert len(cents) == 2
    cells = df.select(
        similarity.ivf_assign(F.col("embedding"), cents).alias("c")
    )
    counts = sorted(r["count"] for r in cells.groupBy("c").count().collect())
    assert counts == [50, 50], counts
    # and seeding is INPUT-ORDER invariant (the actual guarantee —
    # first-k seeding silently depended on layout)
    cents_rev = similarity.train_ivf_centroids_distributed(
        df.orderBy(F.desc("vec_id")), "embedding", "vec_id", k=2, iters=1
    )
    assert cents == cents_rev


def test_ivf_recall_contract_at_default_probe(spark):
    """The serving accuracy contract (VERDICT r5 'What's missing' #1):
    the same sweep tools/ann_recall.py publishes to BENCH/BASELINE.md,
    pinned as properties at sf0.01 (500 vectors, the synthetic
    near-random corpus — IVF's worst case, so these bounds are floors):

    - recall@10 is monotone non-decreasing in n_probe,
    - the job default n_probe=4 (of 8 cells) achieves recall@10 >= 0.6
      while probing ~half the index (measured 0.74-0.76),
    - full probe is exact (recall 1.0; property-tested equal to brute
      force on adversarial vectors in test_streaming).
    """
    from tools.ann_recall import recall_sweep

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rows, _ = recall_sweep(spark, e, k=10, n_cells=8, probes=(1, 4, 8))
    by_probe = {r["n_probe"]: r for r in rows}
    recalls = [by_probe[p]["recall_at_k"] for p in (1, 4, 8)]
    assert recalls == sorted(recalls), recalls
    assert by_probe[4]["recall_at_k"] >= 0.6, by_probe[4]
    assert by_probe[4]["probed_frac"] < 0.6, by_probe[4]
    assert by_probe[8]["recall_at_k"] == 1.0, by_probe[8]
    # cost dial is real: probing fewer cells scans proportionally fewer rows
    assert by_probe[1]["probed_frac"] < by_probe[4]["probed_frac"]


def _rows_set(df):
    return {
        (r[0], r[1], r[2], r[3])
        for r in df.select("qid", "rk", "vec_id", "cosine_sim").collect()
    }


def test_ivf_topk_batch_gemm_matches_join_on_real_corpus(spark):
    """The GEMM scorer (mapInArrow local top-k + slack band) must
    return exactly the join scorer's rows — same qid/rk/id/cosine_sim —
    on the real embeddings table, for several k/n_probe settings."""
    e = _emb(spark)
    cents = similarity.train_ivf_centroids_distributed(
        e, "embedding", "vec_id", k=8, iters=1
    )
    queries = e.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    for k, p in ((5, 3), (10, 8), (1, 1)):
        join_out = similarity.ivf_topk_batch(
            e, queries, "embedding", "vec_id", "qid", cents, k=k, n_probe=p,
        )
        gemm_out = similarity.ivf_topk_batch_gemm(
            e, queries, "embedding", "vec_id", "qid", cents, k=k, n_probe=p,
        )
        assert _rows_set(join_out) == _rows_set(gemm_out), (k, p)


def test_ivf_topk_batch_gemm_degenerate_ties_and_nulls(spark):
    """Exact-tie floods and NULL rows: zero-norm index vectors all
    score 0.0 (resolved by id inside the GEMM local band, identically
    to the window tie-break); NULL index vectors and NULL query
    vectors contribute nothing — both scorers must agree row-for-row."""
    rows = (
        [(i, [0.0, 0.0, 0.0]) for i in range(20)]  # zero-norm flood
        + [(100 + i, [1.0 * i, 1.0, 0.5]) for i in range(5)]
        + [(900, None)]
    )
    idx = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[0.0, 0.0, 0.0], [3.0, 1.0, 0.5]]
    queries = spark.createDataFrame(
        [(1, [2.0, 1.0, 0.5]), (2, [0.1, -0.2, 0.3]), (3, None)],
        "qid long, embedding array<double>",
    )
    for k, p in ((5, 1), (8, 2)):
        join_out = similarity.ivf_topk_batch(
            idx, queries, "embedding", "vec_id", "qid", cents, k=k, n_probe=p,
        )
        gemm_out = similarity.ivf_topk_batch_gemm(
            idx, queries, "embedding", "vec_id", "qid", cents, k=k, n_probe=p,
        )
        assert _rows_set(join_out) == _rows_set(gemm_out), (k, p)


def test_trainer_ignores_null_vectors(spark):
    """ADVICE r6 #4: NULL vectors must not participate in md5-order
    seeding or the Lloyd step (the oracle's e CTE filters them first) —
    adding NULL rows leaves the trained centroids unchanged. Pre-fix, a
    NULL row either displaced a seed or crashed the Lloyd cell sort."""
    base = spark.createDataFrame(
        [(i, [float(i % 7), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    nulls = spark.createDataFrame(
        [(100 + i, None) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    c1 = similarity.train_ivf_centroids_distributed(
        base, "embedding", "vec_id", k=4, iters=1
    )
    c2 = similarity.train_ivf_centroids_distributed(
        base.unionByName(nulls), "embedding", "vec_id", k=4, iters=1
    )
    assert c1 == c2


def test_ivf_topk_batch_gemm_chunked_probe_batches_identical(spark):
    """VERDICT r6 #4: the probe batch is broadcast in bounded chunks.
    Serving a query frame whose probe rows exceed the per-chunk cap
    (cap=2 forces 5 queries x 3 probes into 8 chunks, splitting probe
    rows of single queries across chunks) must return exactly the
    single-broadcast result; an empty query batch returns 0 rows with
    the full schema."""
    e = _emb(spark)
    cents = similarity.train_ivf_centroids_distributed(
        e, "embedding", "vec_id", k=8, iters=1
    )
    queries = e.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    whole = similarity.ivf_topk_batch_gemm(
        e, queries, "embedding", "vec_id", "qid", cents, k=5, n_probe=3,
    )
    # single-chunk serve: no persist (plan snapshot taken BEFORE the
    # chunked call registers a cache over the same logical projection)
    whole_plan = whole._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in whole_plan
    whole_rows = _rows_set(whole)
    chunked = similarity.ivf_topk_batch_gemm(
        e, queries, "embedding", "vec_id", "qid", cents, k=5, n_probe=3,
        max_probe_rows_per_chunk=2,
    )
    assert whole_rows == _rows_set(chunked)
    # round 8 (VERDICT r7 #4): the multi-chunk serve persists the
    # cell-assigned index projection so the 8 chunk branches share ONE
    # index materialization; release_serve_caches frees exactly it
    assert "InMemoryTableScan" in chunked._jdf.queryExecution().executedPlan().toString()
    assert similarity.release_serve_caches() == 1
    assert similarity.release_serve_caches() == 0
    empty = similarity.ivf_topk_batch_gemm(
        e, queries.limit(0), "embedding", "vec_id", "qid", cents, k=5, n_probe=3,
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["qid", "rk", "vec_id", "cosine_sim"]


def test_ivf_topk_batch_gemm_near_tie_flood_beyond_soft_cap(spark):
    """ADVICE r6 #2 regression: >band_cap DISTINCT raw cosines inside
    one rounding quantum (all round to 1.0), with the winning LOWEST id
    deliberately holding the WORST raw score in the band — the old
    cap-before-quantum-filter truncation dropped it and broke parity
    with the join scorer; the full-band path must keep it."""
    n = 200  # > band_cap = max(8*k, 128) at k=1
    # id 0 gets the largest eps (worst raw cosine); all cosines are
    # distinct doubles within ~2e-8 of each other (one 1e-6 quantum)
    rows = [(i, [1.0, (n - 1 - i) * 1e-6]) for i in range(n)]
    idx = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0], [-1.0, 0.0]]
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0])], "qid long, embedding array<double>"
    )
    join_out = similarity.ivf_topk_batch(
        idx, queries, "embedding", "vec_id", "qid", cents, k=1, n_probe=1,
    )
    gemm_out = similarity.ivf_topk_batch_gemm(
        idx, queries, "embedding", "vec_id", "qid", cents, k=1, n_probe=1,
    )
    assert _rows_set(join_out) == _rows_set(gemm_out)
    # and the winner is the id tie-break winner, not the best-raw row
    assert gemm_out.collect()[0].vec_id == 0


def test_ivf_topk_batch_gemm_uses_precomputed_cell_and_no_index_shuffle(spark):
    """cell_col mode (the run_ann_index serving shape): results match
    the join scorer, and the plan has no Exchange before the
    mapInArrow scorer (the index is consumed in place; the only
    shuffle is the per-query window)."""
    e = _emb(spark)
    cents = similarity.train_ivf_centroids_distributed(
        e, "embedding", "vec_id", k=8, iters=1
    )
    indexed = e.select(
        "vec_id", "embedding",
        similarity.ivf_assign(F.col("embedding"), cents).alias("cell"),
    )
    queries = e.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    join_out = similarity.ivf_topk_batch(
        indexed, queries, "embedding", "vec_id", "qid", cents,
        k=5, n_probe=3, cell_col="cell",
    )
    gemm_out = similarity.ivf_topk_batch_gemm(
        indexed, queries, "embedding", "vec_id", "qid", cents,
        k=5, n_probe=3, cell_col="cell",
    )
    assert _rows_set(join_out) == _rows_set(gemm_out)
    plan = gemm_out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    # the tree prints top-down, so the text AFTER MapInArrow is the
    # subtree below it (the index side): scan-only, no Exchange
    assert "Exchange" not in plan.split("MapInArrow")[-1]


def test_ivf_topk_batch_null_query_vector_yields_no_rows(spark):
    """A NULL query vector has NULL distances to every centroid (its
    probe order would be engine-defined) — it must contribute zero
    result rows, not arbitrary neighbors; non-null queries unaffected."""
    e = _emb(spark)
    cents = similarity.train_ivf_centroids_distributed(
        e, "embedding", "vec_id", k=8, iters=1
    )
    good = e.orderBy("vec_id").limit(2).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    nullq = spark.createDataFrame(
        [(999999, None)], "qid long, embedding array<double>"
    )
    out = similarity.ivf_topk_batch(
        e, good.unionByName(nullq), "embedding", "vec_id", "qid", cents,
        k=5, n_probe=3,
    ).collect()
    qids = {r.qid for r in out}
    assert 999999 not in qids
    assert qids == {r.qid for r in good.collect()}
    assert len(out) == 10
