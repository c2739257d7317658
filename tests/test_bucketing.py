"""Hot-bucket hardening for the LSH family (operators/bucketing.py):
a degenerate corpus (thousands of identical docs -> one band bucket)
must complete with bounded bucket arrays, the overflow must be COUNTED
(never silent), and on a normal corpus the cap must not change results.
Plan contract: the window rank + bucket groupBy share one Exchange."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_pkg_spider_spark.operators import dedup, similarity
from go_pkg_spider_spark.operators.bucketing import capped_buckets


def _degenerate_corpus(spark, n=2000):
    boiler = (
        "breaking news syndicated boilerplate article body repeated verbatim "
        "across every mirror site word word word content content content"
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(boiler).alias("text")
    )


def test_minhash_hot_bucket_capped(spark):
    cap = 64
    pairs = dedup.minhash_lsh_candidates(
        _degenerate_corpus(spark), "text", "doc_id", max_bucket_size=cap
    ).collect()
    # identical docs -> identical signatures -> every band is ONE bucket;
    # only the cap smallest ids survive, so exactly C(cap,2) pairs
    assert len(pairs) == cap * (cap - 1) // 2
    assert all(r.id_a < cap and r.id_b < cap for r in pairs)
    assert all(r.jaccard == 1.0 for r in pairs)


def test_embedding_neardup_hot_bucket_capped(spark):
    cap = 16
    df = spark.range(500).select(
        F.col("id").alias("emb_id"),
        F.array(*[F.lit(float(v)) for v in (0.3, -0.2, 0.9, 0.1)]).alias("v"),
    )
    pairs = similarity.embedding_neardup_pairs(
        df, "v", "emb_id", dim=4, threshold=0.9, max_bucket_size=cap
    ).collect()
    assert len(pairs) == cap * (cap - 1) // 2
    assert all(r.cosine_sim == 1.0 for r in pairs)


def test_drop_accounting_not_silent(spark):
    """Overflow is counted per bucket: n_dropped = members - cap."""
    exploded = spark.range(100).select(
        F.lit(0).alias("b"), F.lit(7).alias("bits"), F.col("id").alias("m0")
    )
    b = capped_buckets(exploded, ["b", "bits"], F.col("m0"), max_bucket_size=10)
    row = b.collect()[0]
    assert row.n_members == 100 and row.n_dropped == 90 and len(row.ms) == 10
    assert row.ms == list(range(10))  # deterministic smallest-first


def test_cap_noop_on_normal_corpus(spark, corpus=None):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    small = set(
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_lsh_candidates(
            docs, "text", "doc_id", max_bucket_size=1024
        ).collect()
    )
    huge = set(
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_lsh_candidates(
            docs, "text", "doc_id", max_bucket_size=10_000_000
        ).collect()
    )
    assert small == huge and small


def test_capped_bucket_plan_one_exchange_for_window_and_agg(spark):
    """The row_number window and the bucket groupBy hash-partition on the
    same keys: ONE Exchange serves both (the cap adds no shuffle)."""
    exploded = spark.range(100).select(
        (F.col("id") % 5).alias("b"), (F.col("id") % 3).alias("bits"),
        F.col("id").alias("m0"),
    )
    b = capped_buckets(exploded, ["b", "bits"], F.col("m0"), max_bucket_size=8)
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_min_cap_rejected():
    with pytest.raises(ValueError):
        capped_buckets(None, ["b"], F.col("x"), max_bucket_size=1)


def test_drop_metrics_observable(spark):
    """The no-silent-caps contract end-to-end: a caller-held Observation
    surfaces total dropped members / max bucket size after one action."""
    from pyspark.sql import Observation

    obs = Observation("cap_obs")
    exploded = spark.range(40).select(
        (F.col("id") % 2).alias("b"), F.lit(0).alias("bits"), F.col("id").alias("m0")
    )
    b = capped_buckets(
        exploded, ["b", "bits"], F.col("m0"), max_bucket_size=5, observation=obs
    )
    b.collect()
    got = obs.get
    assert got["dropped_members"] == 2 * (20 - 5)
    assert got["max_bucket_members"] == 20 and got["n_buckets"] == 2


def test_no_observation_no_collect_metrics(spark):
    """Without a caller-held Observation nothing reads the cap metrics,
    so the plan carries no CollectMetrics node; with one, it does."""
    from pyspark.sql import Observation

    docs = _degenerate_corpus(spark, 20)
    plain = dedup.minhash_lsh_candidates(docs, "text", "doc_id")
    plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "CollectMetrics" not in plan
    observed = dedup.minhash_lsh_candidates(
        docs, "text", "doc_id", observation=Observation()
    )
    assert "CollectMetrics" in observed._jdf.queryExecution().executedPlan().toString()


def test_gate_scale_buckets_never_hit_cap(spark, monkeypatch):
    """The DuckDB oracles for minhash_lsh_docs / embedding_neardup_pairs
    do NOT model the max_bucket_size cap, so hash parity silently
    depends on every gate-scale bucket staying under it (round-3
    advice). Assert the headroom directly via the observed metric at
    both gate tiers: max bucket membership must stay well below 1024.
    embedding_neardup_pairs takes no Observation, so the test hands
    one to the capped_buckets call inside it."""
    from pyspark.sql import Observation, functions as F

    from go_pkg_spider_spark.operators import dedup, similarity

    observed = []
    capped = similarity.capped_buckets

    def observing(*a, **k):
        observed.append(Observation())
        return capped(*a, **k, observation=observed[-1])

    monkeypatch.setattr(similarity, "capped_buckets", observing)

    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        obs_m = Observation()
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        dedup.minhash_lsh_candidates(
            d, "text", "doc_id", observation=obs_m
        ).write.format("noop").mode("overwrite").save()
        assert obs_m.get["max_bucket_members"] < 1024, sf_dir

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
            "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
        )
        similarity.embedding_neardup_pairs(
            e, "embedding", "vec_id", dim=64, threshold=0.25, round_digits=4
        ).write.format("noop").mode("overwrite").save()
        assert observed[-1].get["max_bucket_members"] < 1024, sf_dir
