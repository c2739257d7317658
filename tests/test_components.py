"""Connected components (min-label propagation) + the pure-column
md5-u64 hash twin."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from go_pkg_spider_spark.functions import tokens
from go_pkg_spider_spark.operators import components


def _cc(spark, edges, nodes=None, **kw):
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    n = (
        spark.createDataFrame([(x,) for x in nodes], "id long")
        if nodes is not None
        else None
    )
    return {
        r.id: r.component
        for r in components.connected_components(e, nodes=n, **kw).collect()
    }


def test_two_components_and_singletons(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)], nodes=[1, 2, 3, 10, 11, 99])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_chain_needs_multiple_rounds(spark):
    """A length-6 path: the min label must walk the whole diameter
    (several propagation rounds + the convergence early-exit).
    driver_edge_threshold=0 pins the ITERATIVE path (round 9 added a
    size-guarded driver union-find fast path for small edge lists)."""
    edges = [(i, i + 1) for i in range(1, 7)]
    got = _cc(spark, edges, driver_edge_threshold=0)
    assert got == {i: 1 for i in range(1, 8)}


def test_driver_fast_path_matches_iterative(spark):
    """Round 9: the small-graph driver union-find must label exactly
    like the iterative min-label path — mixed components, singletons
    from the nodes frame, direction-agnostic edges, self-loops."""
    edges = [(1, 2), (2, 3), (9, 4), (4, 4), (7, 6), (11, 11)]
    nodes = list(range(1, 13))
    fast = _cc(spark, edges, nodes=nodes)  # default threshold: driver path
    slow = _cc(spark, edges, nodes=nodes, driver_edge_threshold=0)
    assert fast == slow == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 6, 7: 6, 8: 8, 9: 4,
        10: 10, 11: 11, 12: 12,
    }


def test_driver_fast_path_collects_the_edges_once(spark, jobs_of):
    """The small-graph path sizes the edge list with the same collect
    that fetches it. Over a 4-partition edge list the call starts at
    most the checkpoint's jobs plus the 2 of that limited collect (it
    scans one partition, then the rest); a count (2 jobs) followed by
    a collect of the mirrored edges (1) would make one more."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 4), (4, 4), (7, 6), (11, 11)], "id_a long, id_b long"
    ).repartition(4)
    labels, call_jobs = jobs_of(lambda: components.connected_components(e))
    _, checkpoint_jobs = jobs_of(lambda: e.select("id_a", "id_b").localCheckpoint())
    assert 0 < call_jobs <= checkpoint_jobs + 2
    assert {r.id: r.component for r in labels.collect()} == {
        1: 1, 2: 1, 3: 1, 4: 4, 9: 4, 6: 6, 7: 6, 11: 11,
    }


def test_edge_direction_irrelevant(spark):
    assert _cc(spark, [(5, 2), (2, 9)]) == {2: 2, 5: 2, 9: 2}


def test_max_iter_bounds_work(spark):
    # a triangle converges in one round even with max_iter=1
    got = _cc(spark, [(1, 2), (2, 3), (1, 3)], max_iter=2, driver_edge_threshold=0)
    assert got == {1: 1, 2: 1, 3: 1}


def test_long_chain_beyond_max_iter_falls_back_to_star(spark):
    """Path graph with diameter > max_iter: min-label alone would stop
    with WRONG partial labels — the guard must hand off to the star
    algorithm and still return exact components (round-3 verdict #4)."""
    import warnings as _w

    edges = [(i, i + 1) for i in range(1, 60)]
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        got = _cc(spark, edges, max_iter=3, driver_edge_threshold=0)
    assert got == {i: 1 for i in range(1, 61)}


def test_star_exact_and_olog_rounds(spark, monkeypatch):
    """large-star/small-star on a 128-node path: exact labels in
    O(log n) rounds (Kiveris et al.) — round count asserted, counted
    as calls of the per-round small-star step."""
    n = 128
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    rounds = []
    small_star = components._small_star
    monkeypatch.setattr(
        components, "_small_star", lambda e: rounds.append(1) or small_star(e)
    )
    got = {
        r.id: r.component
        for r in components.connected_components_star(e).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}
    # diameter 127; min-label would need 127 rounds — star needs ~log n
    assert 0 < len(rounds) <= 12


def test_star_matches_minlabel_on_mixed_graph(spark):
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 1)]
    nodes = list(range(1, 4)) + [10, 11, 20, 21, 22, 99]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    nd = spark.createDataFrame([(x,) for x in nodes], "id long")
    a = {
        r.id: r.component
        for r in components.connected_components(e, nodes=nd).collect()
    }
    b = {
        r.id: r.component
        for r in components.connected_components_star(e, nodes=nd).collect()
    }
    assert a == b == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 99: 99}


def test_md5_u64_le_matches_hashlib(spark):
    df = spark.range(50).select(tokens.md5_u64_le(F.col("id")).alias("h"), "id")
    for r in df.collect():
        want = int.from_bytes(
            hashlib.md5(str(r.id).encode()).digest()[:8], "little"
        )
        assert int(r.h) == want


def test_star_keeps_self_loop_only_nodes(spark):
    """A node appearing only in a self-loop must still get a singleton
    label from the star path (parity with the min-label path)."""
    e = spark.createDataFrame([(5, 5), (1, 2)], "id_a long, id_b long")
    a = {
        r.id: r.component
        for r in components.connected_components(e, max_iter=5).collect()
    }
    b = {
        r.id: r.component
        for r in components.connected_components_star(e).collect()
    }
    assert a == b == {1: 1, 2: 1, 5: 5}


def test_star_matches_minlabel_on_random_graphs(spark):
    """Seeded random graphs (mixed cliques, chains, isolated nodes,
    self-loops): large-star/small-star must produce EXACTLY the
    min-label labeling — the two algorithms cross-validate each other."""
    import random

    rng = random.Random(42)
    for trial in range(6):
        n = rng.randint(5, 40)
        m = rng.randint(0, n * 2)
        edges = [
            (rng.randint(1, n), rng.randint(1, n)) for _ in range(m)
        ] or [(1, 1)]
        nodes = list(range(1, n + 1))
        e = spark.createDataFrame(edges, "id_a long, id_b long")
        nd = spark.createDataFrame([(x,) for x in nodes], "id long")
        # max_iter=50 is above the diameter of any graph here (n <= 40),
        # so connected_components never falls back to star: without
        # that bound a fallback would compare star against itself
        a = {
            r.id: r.component
            for r in components.connected_components(e, nodes=nd, max_iter=50).collect()
        }
        b = {
            r.id: r.component
            for r in components.connected_components_star(e, nodes=nd).collect()
        }
        assert a == b, (trial, edges)
