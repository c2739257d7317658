"""Similarity search over embedding columns (array<float>).

- cosine / dot products via zip_with + aggregate (JVM-side, codegen).
- brute_force_topk: exact cosine top-k vs a query vector (baseline).
- lsh_bucketed_topk: random-hyperplane LSH (Charikar 2002) pre-filter —
  the scale path: candidates share >= min_matching_bits sign-bits with
  the query, so the scan prunes to a bucket before exact scoring.
- embedding_neardup_pairs: pairwise cosine near-dups within buckets.

Scale notes: brute force is one narrow map + a single top-k reduce
(`orderBy(...).limit(k)` -> TakeOrderedAndProject, no full sort
shuffle). The LSH variant turns the 100 TB scan into a bucket-pruned
scan when the hyperplane bits are precomputed+partitioned; here they
are computed on the fly (deterministic seeded planes).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from ..session import vector_matrix
from .bucketing import capped_buckets

# Rows lsh_bucketed_topk returns; oracle_sql_gen.ann_lsh_topk_sql ranks
# the same number.
LSH_TOPK = 10


def lit_double_array(vec) -> Column:
    """Literal array<double> in ONE py4j call (round 9): the per-element
    F.array(*[F.lit(x) ...]) form costs one JVM round-trip per element —
    measured 0.84 s of pure plan-BUILD time for the 32x64 hyperplane
    set, paid on every query construction (every bench pass). repr() is
    the shortest round-trip decimal, which Spark's parser reads back to
    the exact same double (verified over the full plane set plus
    denormal/extreme values)."""
    if not vec:
        return F.array().cast("array<double>")
    return F.expr("array(" + ",".join(repr(float(x)) + "D" for x in vec) + ")")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def brute_force_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k: one projection + TakeOrderedAndProject (each
    partition keeps k, driver merges k*P rows — no global sort).
    round_digits=4 for oracle-twinned entries (cross-engine double sums
    agree to >=4 digits; ordering is on the rounded value + id so the
    top-k SET is deterministic)."""
    q = lit_double_array(query)
    return (
        df.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), round_digits).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def _seeded_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG; no numpy needed at
    plan-build time — these fold into literals)."""
    state = seed * 6364136223846793005 + 1442695040888963407
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append((state / float(1 << 63)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def hyperplane_bits(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature as an int (one bit per plane)."""
    bit_terms = []
    for i, p in enumerate(planes):
        pc = lit_double_array(p)
        bit_terms.append(
            F.when(dot(vec, pc) >= 0, F.shiftleft(F.lit(1), i)).otherwise(F.lit(0))
        )
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out.bitwiseOR(t)
    return out


def lsh_bucketed_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    n_planes: int = 8,
    max_hamming_bits: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """ANN: prune to vectors whose hyperplane signature is within
    `max_hamming_bits` of the query's, then exact-cosine top-LSH_TOPK on
    the survivors. Recall/probe tradeoff via n_planes/max_hamming_bits."""
    dim = len(query)
    planes = _seeded_planes(dim, n_planes)
    qbits = 0
    for i, p in enumerate(planes):
        if sum(px * qx for px, qx in zip(p, query)) >= 0:
            qbits |= 1 << i
    sig = hyperplane_bits(F.col(vec_col), planes)
    pruned = df.filter(F.bit_count(sig.bitwiseXOR(F.lit(qbits))) <= max_hamming_bits)
    return brute_force_topk(pruned, vec_col, id_col, query, LSH_TOPK, round_digits)


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.95,
    bands: int = 4,
    planes_per_band: int = 8,
    round_digits: int = 6,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Near-duplicate vector pairs via MULTI-BAND hyperplane LSH: bands
    of planes_per_band sign bits each; a pair is a candidate when it
    agrees on ALL bits of at least one band (recall grows with bands,
    precision with planes_per_band — the banded-LSH tradeoff, MMDS ch.3).
    Exact cosine verifies candidates.

    Plan shape: NO driver action at build time (dim is a parameter — the
    array length is not in the schema), NO self-join: bucket-collect pair
    generation (one explode rows x bands, one groupBy on (band, bits)),
    the same pattern as dedup.minhash_lsh_candidates. Vectors ride
    through the bucket collect_list and verification happens in-bucket:
    one shuffle total.

    max_bucket_size bounds hot buckets (bounded task memory; overflow
    counted per bucket — operators/bucketing.py)."""
    all_planes = _seeded_planes(dim, bands * planes_per_band)
    band_sigs = F.array(
        *[
            hyperplane_bits(
                F.col(vec_col), all_planes[b * planes_per_band : (b + 1) * planes_per_band]
            )
            for b in range(bands)
        ]
    )
    # norms ride the member struct: computed ONCE per (row, band)
    # below the bucket collect, instead of once per PAIR (a member
    # of an m-bucket appears in m-1 pairs — per-pair norms were
    # ~35% of this entry's cost). Same doubles: the norm expression
    # is unchanged, only where it evaluates.
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.posexplode(band_sigs).alias("b", "bits"),
    ).withColumn("nv", norm(F.col("v")))
    buckets = capped_buckets(base, ["b", "bits"], F.struct("id", "v", "nv"), max_bucket_size)

    # Round 9 (guide §4.2 "hand whole batches to vectorized native
    # libraries"): per-bucket pairwise cosine via ONE numpy pass per
    # bucket inside mapInArrow, replacing ~15us/pair of interpreted
    # zip_with+aggregate HOF per candidate pair (3.9M pairs at
    # sf1.0). Bit-exactness is engineered, not assumed:
    # - the pairwise dot accumulates as a LEFT FOLD over the dim
    #   axis (acc += V[:,k] outer V[:,k], k ascending, acc from
    #   0.0), the exact IEEE sequence of the old
    #   aggregate(zip_with(..)) fold — np.dot/BLAS would reorder
    #   the sum and flip rounded knife-edge values;
    # - norms stay JVM-computed (they ride the member struct);
    # - rounding stays Spark-side (F.round is HALF_UP; np.round is
    #   half-even) — Python emits the RAW cosine and only prunes
    #   pairs below threshold - 10^-round_digits, a margin twice
    #   the worst rounding step, so every pair the rounded filter
    #   could keep survives to the exact Spark-side filter.
    # NULL vectors zero out (d=0 -> cosine 0.0), matching the old
    # when(d > 0, ...).otherwise(0.0) branch.
    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine_sim", DoubleType()),
        ]
    )
    thr_floor = float(threshold) - (10.0 ** -round_digits)

    arrow_schema = to_arrow_schema(out_schema)

    def score_buckets(batches):
        for batch in batches:
            # every member of the batch's buckets as one matrix; a
            # bucket is a run of rows [s, e) of it
            ms = batch.column(0)
            member = dict(zip((f.name for f in ms.type.value_type), ms.flatten().flatten()))
            V, live = vector_matrix(member["v"])
            live &= member["nv"].is_valid().to_numpy(zero_copy_only=False)
            V[~live] = 0.0
            nv = np.where(live, member["nv"].to_numpy(zero_copy_only=False), 0.0)
            ends = np.cumsum(pc.list_value_length(ms).fill_null(0).to_numpy())
            ia, ib, cs = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)], [np.zeros(0)]
            for s, e in zip([0, *ends[:-1].tolist()], ends.tolist()):
                m = e - s
                if m < 2:
                    continue
                Vb, nb = V[s:e], nv[s:e]
                acc = np.zeros((m, m), dtype=np.float64)
                for k in range(V.shape[1]):  # left fold, ascending k
                    col = Vb[:, k]
                    acc += col[:, None] * col[None, :]
                d = nb[:, None] * nb[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(d > 0, acc / d, 0.0)
                iu, ju = np.triu_indices(m, 1)
                c = cos[iu, ju]
                keep = c >= thr_floor
                ia.append(s + iu[keep])
                ib.append(s + ju[keep])
                cs.append(c[keep])
            ids = member["id"]
            a, b = ids.take(np.concatenate(ia)), ids.take(np.concatenate(ib))
            yield pa.RecordBatch.from_arrays(
                [a, b, pa.array(np.concatenate(cs))], schema=arrow_schema
            )

    return (
        buckets.select("ms")
        .mapInArrow(score_buckets, out_schema)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("cosine_sim"), round_digits).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def train_ivf_centroids_distributed(
    df: DataFrame, vec_col: str, id_col: str, k: int = 8, iters: int = 1
) -> list[list[float]]:
    """SQL-reproducible IVF trainer, fully distributed: seeds are the
    k vectors first in md5(id) order (a deterministic pseudo-random
    spread — no sampling, no RNG state), then `iters` Lloyd steps where
    assignment is a column expression and the new centroids come from a
    (cell, pos) partial-agg groupBy — only k x dim ROUNDED doubles ever
    reach the driver per step (the same bounded-collect budget as
    broadcasting any dim table).

    Seeding by md5 order, not first-k ids: production corpora are
    routinely SORTED by the very structure the quantizer must discover
    (ids assigned per shard/source/near-dup family), and first-k seeds
    then all land in one cluster — measured at 500k vectors built as
    2,000 micro-clusters of 250 consecutive ids: first-k seeding
    collapsed k=64 to 30 effective cells with 174x row imbalance
    (BENCH/BASELINE.md). md5 order is invariant to input order and
    reproduced verbatim by the DuckDB oracle.

    Component means are rounded to 6 BEFORE use so the DuckDB oracle
    (oracle_sql_gen.ann_ivf_topk_sql) reproduces them despite
    order-dependent double summation. Centroid list is ordered by cell
    id, so positional assignment ties break identically to the oracle's
    ORDER BY dist, cell.

    NULL vectors are dropped HERE (ADVICE r6 #4): the oracle's e CTE
    filters them before md5-order seeding, so a NULL row landing in the
    first k by md5 order must not displace a seed (it would also crash
    the Lloyd step's cell sort)."""
    df = df.filter(F.col(vec_col).isNotNull())
    seeds = [
        [float(x) for x in r.v]
        for r in df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("i").cast("string")), "i")
        .limit(k)
        .collect()
    ]
    if not seeds:
        return []
    dim = len(seeds[0])
    cents = seeds
    for _ in range(iters):
        cell = ivf_assign(F.col(vec_col), cents)
        # one avg column per dimension, NO posexplode: exploding after
        # computing `cell` re-evaluates the assignment expression once
        # per array element (Generate inlining — measured 7.9s vs 1.0s
        # at 2k x 32 right here), and the wide agg ships the same
        # (cell, dim) partial sums through the shuffle.
        rows = (
            df.select(cell.alias("cell"), F.col(vec_col).alias("_v"))
            .groupBy("cell")
            .agg(
                *[
                    F.round(F.avg(F.col("_v")[p]), 6).alias(f"m{p}")
                    for p in range(dim)
                ]
            )
            .collect()
        )
        cents = [
            [float(r[f"m{p}"]) for p in range(dim)]
            for r in sorted(rows, key=lambda r: r.cell)
        ]
    return cents


def ivf_assign(
    vec: Column, centroids: list[list[float]], max_literal_k: int = 64
) -> Column:
    """Nearest-centroid id (at 100TB this is the bucket column the
    table is partitioned by). Ties break to the lowest cell id in both
    forms. The literal form computes the per-pair squared-distance sum
    exactly as the oracle does (ORDER BY dist, cell parity); the Arrow
    form's expanded GEMM can round a within-float-epsilon NEAR-tie the
    other way — callers needing bit-stable assignments across the k
    threshold should pin one form via max_literal_k.

    Two forms, auto-selected on k (round-3 verdict: the literal form's
    plan is O(k x dim) expression nodes — fine at k=8, the plan ITSELF
    becomes the bottleneck at a production coarse quantizer's k):

    - k <= max_literal_k: pure-column argmin. Distances land in ONE
      array, bound once via let_col, winner = array_position(min) —
      zero Python, whole-stage codegen. (The old sequential when-chain
      nested best_d into itself — exponential expression tree, 177s vs
      <1s at k=8/dim=32 sf0.1; the CLAUDE.md when-chain landmine.)
    - k > max_literal_k: Arrow UDF argmin. The centroid
      matrix rides the UDF closure (shipped once per worker, like a
      broadcast var — k=4096 x dim=64 is 2 MB), distances are one
      (batch x k) GEMM per Arrow batch, and the plan stays O(1) size
      regardless of k."""
    if len(centroids) <= max_literal_k:
        from ..functions.expr_utils import let_col

        darr = F.array(*[_sq_dist(vec, c) for c in centroids])
        return let_col(
            darr, lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int")
        )
    return _ivf_assign_arrow(vec, centroids)


def _ivf_assign_arrow(vec: Column, centroids: list[list[float]]) -> Column:
    """Large-k nearest-centroid assignment: ||x-c||^2 expanded to
    ||x||^2 - 2xC^T + ||c||^2 so each Arrow batch costs one (n x dim) x
    (dim x k) matmul instead of n*k*dim elementwise temporaries.
    np.argmin keeps the FIRST minimum — ties to the lowest cell id,
    like the literal form (though the expanded GEMM can round a
    within-epsilon near-tie the other way — see ivf_assign). NULL
    vectors yield NULL cells, matching the literal form (np.stack over
    a batch containing None would otherwise kill the task)."""
    C = np.asarray(centroids, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)

    @F.arrow_udf(IntegerType())
    def assign(batch: pa.Array) -> pa.Array:
        X, live = vector_matrix(batch)
        cells = np.zeros(len(batch), dtype=np.int32)
        if live.any():
            X = X[live]
            d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c_sq[None, :]
            cells[live] = np.argmin(d, axis=1)
        return pa.array(cells, mask=~live)

    return assign(vec)


def _sq_dist(vec: Column, centroid: list[float]) -> Column:
    """Squared distance to a LITERAL centroid via zip_with+aggregate.
    Measured round 5 (sf0.1, k=8, dim=64): this HOF form runs the
    8-distance assign subplan in ~1.7s / 5k rows; a "codegen-friendly"
    flat expansion (8 x 64 x 2 GetArrayItem + adds) measured 3-7x
    SLOWER because the whole tree sits inside ivf_assign's let_col
    lambda — lambda bodies are interpreted node-by-node, and the HOF's
    per-array loop beats a 1024-node interpreted tree. Keep the HOF
    form; the Arrow GEMM path (k > max_literal_k) is the real escape
    hatch when assign cost matters."""
    c = lit_double_array(centroid)
    return F.aggregate(
        F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    centroids: list[list[float]],
    k: int,
    n_probe: int,
    round_digits: int = 6,
) -> DataFrame:
    """IVF search: score only rows whose coarse cell is among the
    query's n_probe nearest cells, then exact cosine top-k. The cell
    filter prunes at the scan when the table is partitioned by cell id
    (Iceberg partition transform on the assignment column)."""
    q = query
    dists = [
        (j, sum((a - b) ** 2 for a, b in zip(q, c))) for j, c in enumerate(centroids)
    ]
    probe = [j for j, _ in sorted(dists, key=lambda t: t[1])[:n_probe]]
    cell = ivf_assign(F.col(vec_col), centroids)
    pruned = df.filter(cell.isin(*probe))
    return brute_force_topk(pruned, vec_col, id_col, query, k, round_digits)


def _probe_cells(
    queries_df: DataFrame,
    vec_col: str,
    qid_col: str,
    centroids: list[list[float]],
    n_probe: int,
) -> DataFrame:
    """(qid, _qv, _qn, cell) — one row per (query, probed cell), the
    query side shared by BOTH serving scorers so probe selection is
    bit-identical between them. Ties break to the LOWEST cell id
    (struct array_sort on (dist, cell)); NULL query vectors are dropped
    (their centroid distances are NULL — probe order would be
    engine-defined)."""
    from ..functions.expr_utils import let_col

    n_probe = min(n_probe, len(centroids))
    queries_df = queries_df.filter(F.col(vec_col).isNotNull())
    dist_structs = F.array(
        *[
            F.struct(_sq_dist(F.col(vec_col), c).alias("d"), F.lit(j).alias("cell"))
            for j, c in enumerate(centroids)
        ]
    )
    return queries_df.select(
        F.col(qid_col),
        F.col(vec_col).alias("_qv"),
        norm(F.col(vec_col)).alias("_qn"),
        let_col(dist_structs, lambda d: F.slice(F.array_sort(d), 1, n_probe)).alias(
            "_pr"
        ),
    ).select(
        qid_col,
        "_qv",
        "_qn",
        F.explode(F.transform(F.col("_pr"), lambda t: t["cell"])).alias("cell"),
    )


def ivf_topk_batch(
    index_df: DataFrame,
    queries_df: DataFrame,
    vec_col: str,
    id_col: str,
    qid_col: str,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    round_digits: int = 6,
    cell_col: str | None = None,
) -> DataFrame:
    """Multi-query IVF ANN as ONE equi-join plan — the serving shape of
    jobs/run_ann_index.py (a query BATCH against a trained index, vs
    ivf_topk's single driver-side query vector).

    Scale story (100 TB index, thousands of queries):
    - the index side is assigned to its coarse cell and, in production,
      read from the table run_ann_index materializes partitioned by
      `cell` — the cell equi-join then prunes at the scan (partition
      pruning), exactly like ivf_topk's single-cell filter;
    - the query side explodes to n_probe rows per query and BROADCASTS
      onto the index: no shuffle of the index ever happens;
    - per-pair cosine reuses pre-join norms (`_vn`/`_qn` computed once
      per row per side — the embedding_neardup norm-hoist lesson, round
      4), so the join adds only the O(dim) dot product;
    - per-query top-k is a row_number window over the scored candidate
      subset (bounded by n_queries x probed-cell sizes), partitioned by
      query id — the only data-dependent shuffle in the plan.

    Probe selection ties break to the LOWEST cell id (struct array_sort
    on (dist, cell)), and result ties to the lowest candidate id after
    rounding — both mirrored bit-for-bit by the DuckDB oracle
    (oracle_sql_gen.ann_ivf_batch_topk_sql). Callers cast vec columns
    to double first (like every oracle-twinned ANN entry).

    cell_col: name of a PRECOMPUTED assignment column on index_df (the
    table jobs/run_ann_index.py materializes — at scale, partitioned by
    it so the probe join prunes whole partitions). Default None
    recomputes the assignment inline with ivf_assign."""
    from pyspark.sql import Window

    probes = _probe_cells(queries_df, vec_col, qid_col, centroids, n_probe)
    cell = (
        F.col(cell_col).cast("int")
        if cell_col is not None
        else ivf_assign(F.col(vec_col), centroids)
    )
    idx = index_df.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        norm(F.col(vec_col)).alias("_vn"),
        cell.alias("cell"),
    )
    joined = idx.join(F.broadcast(probes), "cell")
    den = F.col("_vn") * F.col("_qn")
    cos = F.when(den > 0, dot(F.col("_v"), F.col("_qv")) / den).otherwise(F.lit(0.0))
    scored = joined.select(
        F.col(qid_col),
        F.col(id_col),
        F.round(cos, round_digits).alias("cosine_sim"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine_sim"), F.col(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(qid_col, "rk", id_col, "cosine_sim")
    )


# chunk-persisted index projections awaiting release (see
# ivf_topk_batch_gemm's multi-chunk index reuse note)
_SERVE_CACHES: list = []


def release_serve_caches() -> int:
    """Unpersist every index projection ivf_topk_batch_gemm cached for
    a multi-chunk serve. Call AFTER materializing the returned frame
    (the serve stage and the streaming foreachBatch do); returns the
    number of caches released. SCOPE CONTRACT: the registry is
    session-global and this releases ALL pending caches — build and
    materialize multi-chunk serves serially (every current caller
    does); a second frame built before the first is released would
    lose its cache and fall back to per-chunk re-scans (correct,
    slower)."""
    n = len(_SERVE_CACHES)
    while _SERVE_CACHES:
        _SERVE_CACHES.pop().unpersist()
    return n


def ivf_topk_batch_gemm(
    index_df: DataFrame,
    queries_df: DataFrame,
    vec_col: str,
    id_col: str,
    qid_col: str,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    round_digits: int = 6,
    cell_col: str | None = None,
    max_probe_rows_per_chunk: int = 100_000,
) -> DataFrame:
    """ivf_topk_batch's GEMM scorer: same probe selection (bit-identical
    — the shared _probe_cells plan collected to the driver; the query
    batch is broadcast-small BY CONTRACT, it is broadcast whole in the
    join path too), but candidate scoring runs as one numpy matmul per
    (partition, cell) inside mapInArrow with a LOCAL top-k — so the
    per-query window shuffles ~partitions x queries x k rows instead of
    every scored pair (500k-index / 2k-query / n_probe=8 measurement:
    ~125M scored pairs -> ~600k local winners, BENCH/BASELINE.md).

    Parity contract vs the join path (asserted on real corpora in
    tests/test_ivf): identical (qid, rk, id, cosine_sim) rows. The only
    theoretical divergence is double accumulation order (GEMM pairwise
    vs HOF sequential) surfacing through the round_digits rounding; the
    local top-k therefore keeps a FULL SLACK BAND — every candidate
    within one rounding quantum (10^-round_digits) of the local kth
    best — so no row that could round into the global top-k is dropped
    before the exact Spark-side round + window. Exact score ties (e.g.
    a zero-norm flood scoring 0.0) are resolved by id inside the band,
    identically to the window's tie-break. Index rows with NULL vectors
    or NULL cells are skipped (the join path drops them at the join).

    The index side still never shuffles: mapInArrow consumes scan
    partitions in place (at scale, the cell-partitioned table), and the
    same small-split lesson applies (run_ann_index.py session conf).

    Driver-memory bound (round-7, VERDICT r6 #4): the probe batch is
    streamed to the driver via toLocalIterator and broadcast in chunks
    of <= max_probe_rows_per_chunk probe rows; each chunk scores
    against the index independently and the global per-query window
    runs over the UNION of all chunk bands, so chunk boundaries are
    invisible to the result (each probe row is scored exactly once
    wherever it lands) and a 10M-query serving frame costs multiple
    index passes instead of an unbounded driver collect.

    Multi-chunk index reuse (round 8, VERDICT r7 #4): each chunk is a
    separate mapInArrow branch over the cell-assigned index
    projection, so a C-chunk serve re-scans (and, when cell_col is
    None, re-computes the cell assignment of) the index C times. When
    more than one chunk exists, the projection is persisted
    MEMORY_AND_DISK before the job runs — the first branch
    materializes it, the rest read the cache
    (measured: BENCH/BASELINE.md round-8 section). The cache is scoped
    to the returned plan: callers that materialize once (every oracled
    entry, the serve stage) should release it afterwards via
    release_serve_caches(spark) — jobs/run_ann_index.py does. At an
    index far larger than cluster storage-memory the cache degrades to
    disk-spill reads, which is the same order as the repeated columnar
    scan it replaces."""
    from pyspark.sql import Window

    probes = _probe_cells(queries_df, vec_col, qid_col, centroids, n_probe)
    quantum = 10.0 ** (-round_digits)
    band_cap = max(8 * k, 128)

    cell = (
        F.col(cell_col).cast("int")
        if cell_col is not None
        else ivf_assign(F.col(vec_col), centroids)
    )
    idx = index_df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        cell.alias("_cell"),
    )
    sc = index_df.sparkSession.sparkContext

    def make_scorer(bc):
        def score_partition(batches):
            groups: dict[int, list] = {}
            for batch in batches:
                batch = batch.filter(
                    pc.and_(batch.column("_cell").is_valid(), batch.column("_v").is_valid())
                )
                cells = batch.column("_cell").to_numpy()
                for c in np.unique(cells).tolist():
                    if c in bc.value:
                        groups.setdefault(c, []).append(batch.filter(pa.array(cells == c)))
            qids, q_of, ids_of, cos_of = [], [], [], []
            for c, parts in groups.items():
                grp = pa.Table.from_batches(parts).combine_chunks()
                id_col = grp.column("_id").chunk(0)
                ids = id_col.to_numpy(zero_copy_only=False)
                V = vector_matrix(grp.column("_v").chunk(0))[0]
                vn = np.sqrt((V * V).sum(axis=1))
                for qid, qv in bc.value[c]:
                    qn = float(np.sqrt((qv * qv).sum()))
                    den = vn * qn
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = np.where(den > 0, V @ qv / den, 0.0)
                    # local top-k under (-cos, id), widened to the FULL
                    # slack band (every candidate within one rounding
                    # quantum of the local kth) so post-round reordering
                    # can't lose a winner. ADVICE r6 #2: the quantum
                    # filter runs on the WHOLE order array — no cap is
                    # applied before it.
                    order = np.lexsort((ids, -cos))
                    kth = cos[order[min(k, len(order)) - 1]] if len(order) else 0.0
                    band = order[cos[order] >= kth - quantum]
                    if len(band) > k:
                        # safe compression of EXACT raw ties: within one
                        # raw cosine value both engines rank by id only,
                        # and lexsort already leads with the lowest ids —
                        # if a group's j-th lowest id makes the global
                        # top-k, the j-1 lower ids rank strictly above
                        # it, so j <= k and keeping k rows per distinct
                        # raw value is provably lossless. This bounds
                        # the exact-tie flood (e.g. zero-norm cos==0.0)
                        # at k rows instead of the old band_cap.
                        bc_cos = cos[band]
                        new_grp = np.empty(len(band), dtype=bool)
                        new_grp[0] = True
                        np.not_equal(bc_cos[1:], bc_cos[:-1], out=new_grp[1:])
                        grp_start = np.maximum.accumulate(
                            np.where(new_grp, np.arange(len(band)), 0)
                        )
                        band = band[np.arange(len(band)) - grp_start < k]
                    if len(band) > band_cap:
                        # distinct-raw near-tie flood: parity wins over
                        # the soft shuffle bound — keep the full band,
                        # but surface the event (executor stderr) so the
                        # silent-parity-hole class is detectable
                        import sys as _sys

                        print(
                            f"ivf_topk_batch_gemm: slack band {len(band)} "
                            f"rows exceeds soft cap {band_cap} "
                            f"(qid={qid!r}, cell={c}) — near-tie flood, "
                            "keeping all in-band rows for parity",
                            file=_sys.stderr,
                        )
                    q_of.append(np.full(len(band), len(qids)))
                    qids.append(qid)
                    ids_of.append(id_col.take(band))
                    cos_of.append(cos[band])
            if qids:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(qids, arrow_schema.field("qid").type).take(np.concatenate(q_of)),
                        pa.concat_arrays(ids_of),
                        pa.array(np.concatenate(cos_of)),
                    ],
                    schema=arrow_schema,
                )

        return score_partition

    out_schema = StructType(
        [
            StructField("qid", probes.schema[qid_col].dataType),
            StructField("_id", idx.schema["_id"].dataType),
            StructField("_cos", DoubleType()),
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)

    # (cell -> queries probing it) to every scan task, one CHUNK of the
    # probe batch at a time. qn recomputed in numpy from the SAME
    # collected vector the join path would use; norms only gate the
    # zero-denominator case (exact 0 either way).
    chunk_dfs = []
    per_cell: dict[int, list] = {}
    n_chunk_rows = 0

    def flush():
        nonlocal per_cell, n_chunk_rows
        if not per_cell:
            return
        bc = sc.broadcast(per_cell)
        chunk_dfs.append(idx.mapInArrow(make_scorer(bc), out_schema))
        per_cell = {}
        n_chunk_rows = 0

    for r in probes.toLocalIterator():
        per_cell.setdefault(int(r.cell), []).append(
            (r[qid_col], np.asarray(r._qv, dtype=np.float64))
        )
        n_chunk_rows += 1
        if n_chunk_rows >= max_probe_rows_per_chunk:
            flush()
    flush()
    if not chunk_dfs:  # empty query batch: empty frame, full schema
        chunk_dfs.append(idx.limit(0).mapInArrow(make_scorer(sc.broadcast({})), out_schema))

    if len(chunk_dfs) > 1:
        # one cache fill beats C-1 extra index scans (and C-1 repeated
        # ivf_assign computations when cell_col is None); released by
        # the caller via release_serve_caches once materialized
        from pyspark import StorageLevel

        idx.persist(StorageLevel.MEMORY_AND_DISK)
        _SERVE_CACHES.append(idx)

    scored_raw = chunk_dfs[0]
    for extra in chunk_dfs[1:]:
        scored_raw = scored_raw.unionAll(extra)
    scored = scored_raw.select(
        F.col("qid").alias(qid_col),
        F.col("_id").alias(id_col),
        F.round(F.col("_cos"), round_digits).alias("cosine_sim"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine_sim"), F.col(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(qid_col, "rk", id_col, "cosine_sim")
    )


def centroid_per_label_long(df: DataFrame, vec_col: str, label_col: str) -> DataFrame:
    """Element-wise mean embedding per label in LONG form — one row per
    (label, pos) with the rounded mean component. posexplode + groupBy:
    partial aggregation applies, the shuffle carries (label, pos) partial
    sums, never whole vectors. Long form is also the oracle-friendly /
    canonicalizable shape (scalar columns only)."""
    exploded = df.select(
        F.col(label_col).alias("label"), F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    return exploded.groupBy("label", "pos").agg(
        F.round(F.avg("x"), 6).alias("mean_x")
    )


def centroid_per_label(df: DataFrame, vec_col: str, label_col: str) -> DataFrame:
    """Element-wise mean embedding per label as array<double> — the
    long-form aggregate reassembled with a position-sorted collect_list
    (one extra tiny shuffle over (label, pos) rows)."""
    return (
        centroid_per_label_long(df, vec_col, label_col)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("mean_x")))),
                lambda s: s["mean_x"],
            ).alias("centroid")
        )
    )
