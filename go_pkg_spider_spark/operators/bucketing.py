"""Bounded bucket-collect pair generation — the shared scale-hardening
for every LSH-family operator (minhash bands, simhash blocks, hyperplane
bands).

The r2 design collected every bucket member into ONE array in ONE task
(`collect_list` per (bucket) group) and exploded O(m^2) pairs from it.
Near-uniform hashes keep buckets tiny, but a degenerate corpus (viral
boilerplate, all-identical band hash) makes a single hot bucket collect
the whole partition and blow task memory — the one place the design
could fall over at 10^12 rows.

This module bounds it: members are ranked per bucket with a window
(`row_number` over the bucket key, deterministic smallest-member-first
order), only the first `max_bucket_size` survive the collect, and the
overflow is counted per bucket (`n_dropped`) — never silently discarded:
the count rides on the bucket row, and a caller that passes an
`Observation` reads the drop totals from it after the first action, at
no extra pass.

Plan/shuffle profile (pinned in tests/test_plans.py): the window and the
groupBy share the bucket-key hash partitioning, so this is still ONE
Exchange; the window's sort spills to disk, and the collected array is
<= max_bucket_size members — task memory is bounded regardless of
skew. Recall note: a capped bucket loses pairs among dropped members;
run exact_dedup first (identical docs are the usual degenerate mass) or
raise the cap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def capped_buckets(
    exploded: DataFrame,
    bucket_cols: list[str],
    member: Column,
    max_bucket_size: int = 1024,
    observation=None,
) -> DataFrame:
    """(bucket_cols..., ms: array<member>, n_members, n_dropped) with
    len(ms) <= max_bucket_size, members the smallest by natural order
    (structs compare field-by-field, so put the id first), singleton
    buckets dropped BEFORE the collect (they can't form pairs)."""
    if max_bucket_size < 2:
        raise ValueError("max_bucket_size must allow at least one pair")
    w_rank = Window.partitionBy(*bucket_cols).orderBy(member)
    w_all = Window.partitionBy(*bucket_cols)
    ranked = exploded.select(
        *bucket_cols,
        member.alias("m"),
        F.row_number().over(w_rank).alias("_rn"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
    )
    buckets = (
        ranked.filter((F.col("_n") > 1) & (F.col("_rn") <= max_bucket_size))
        .groupBy(*bucket_cols)
        .agg(
            F.array_sort(F.collect_list("m")).alias("ms"),
            F.first("_n").alias("n_members"),
        )
        .withColumn(
            "n_dropped",
            F.greatest(F.col("n_members") - F.lit(max_bucket_size), F.lit(0)),
        )
    )
    if observation is None:
        return buckets
    # caller-held pyspark.sql.Observation: metrics readable as
    # observation.get after the first action
    return buckets.observe(
        observation,
        F.sum("n_dropped").alias("dropped_members"),
        F.max("n_members").alias("max_bucket_members"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


def pair_array(ms: Column) -> Column:
    """All i<j member pairs of a (small, capped) bucket array as
    array<struct<a, b>> via array combinatorics — the no-self-join pair
    generator shared by the LSH family."""
    return F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, F.size(ms)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def pair_apply(ms: Column, fn) -> Column:
    """All i<j member pairs of a (small, capped) bucket array, SCORED IN
    PLACE: `fn(a, b)` receives the two member structs and returns the
    per-pair result (usually struct<id_a, id_b, score>).

    Round-9 rationale (guide §2.3 "shuffle keys and metadata instead of
    payloads", applied to in-task materialization): `pair_array` slices
    the member array per element and materializes array<struct<member,
    member>> — for members carrying payloads (64-double vectors, 32-long
    signatures) that is O(m^2) deep copies of the payload per bucket
    (~1 KB/pair at dim 64) just to feed a projection that reduces each
    pair to ~24 bytes. Scoring inside the lambda reads members in place
    via element_at and materializes only fn's output (measured: the
    hyperplane near-dup entry 5.6s -> ~2s at sf1.0, identical rows).

    Index arithmetic note: the inner sequence is guarded (i+2 <= n)
    because Spark's `sequence(start, stop)` with start > stop yields a
    DESCENDING range, not an empty one."""
    n = F.size(ms)
    empty = F.array().cast("array<int>")
    return F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.when(i + 2 <= n, F.sequence(i + 2, n)).otherwise(empty),
                lambda j: fn(x, F.element_at(ms, j)),
            ),
        )
    )
