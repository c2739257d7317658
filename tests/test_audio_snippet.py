"""Snippet containment search: find corpus clips CONTAINING a query
cut (the H&K retrieval case). Kernel hand-pins, frozen-truth drift,
the Spark path vs brute force, and the blocking evidence floor.
"""

from __future__ import annotations

import numpy as np
import pytest

from go_pkg_spider_spark.fixtures.audio_fp_fixtures import (
    SNIPPET_EXPECTED,
    build_snippet_index_rows,
    build_snippet_query_rows,
)
from go_pkg_spider_spark.operators import audio_fp as afp

_SCHEMA = "clip_id string, bytes binary, codec string, sr_hz int"


def derive_snippet_expected() -> list[tuple]:
    """Brute-force snippet truth: every eligible query scored against
    every eligible index clip with the production predicate (shared
    distinct shingle keys >= FP_SNIPPET_MIN_SHARED, best-window
    Jaccard >= FP_SNIPPET_JACCARD) — independent of the Spark
    blocking/join path, so the gate cross-checks candidate recall."""
    from go_pkg_spider_spark.operators.audio_fp import (
        FP_SNIPPET_JACCARD,
        FP_SNIPPET_MIN_SHARED,
        _fp_row_full,
        snippet_shingle_keys,
        subfp_best_window,
        unpack_subfps,
    )

    idx = {
        cid: r
        for cid, r in (
            (cid, _fp_row_full(cid, b, c, s))
            for cid, b, c, s in build_snippet_index_rows()
        )
    }
    qs = {
        cid: r
        for cid, r in (
            (cid, _fp_row_full(cid, b, c, s))
            for cid, b, c, s in build_snippet_query_rows()
        )
    }

    def elig(rows):
        return sorted(c for c, r in rows.items() if r[1] is None and not r[4])

    out = []
    for qid in elig(qs):
        qkeys = set(
            int(k) for k in snippet_shingle_keys(unpack_subfps(qs[qid][5]))
        )
        for cid in elig(idx):
            hkeys = set(
                int(k)
                for k in snippet_shingle_keys(unpack_subfps(idx[cid][5]))
            )
            if len(qkeys & hkeys) < FP_SNIPPET_MIN_SHARED:
                continue
            jac, pos = subfp_best_window(idx[cid][5], qs[qid][5])
            if jac >= FP_SNIPPET_JACCARD:
                out.append((qid, cid, round(jac, 6), pos))
    return sorted(out)


def test_best_window_hand_pin():
    """Sliding bit-set Jaccard by hand: hay (0001,0011,1100,1111),
    needle (0011,1100) -> windows score 3/5 (pos0: inter 1+2=3, union
    3+2=5... recomputed below), exact 1.0 at pos 1, 2/6 at pos 2."""
    hay = afp.pack_subfps(
        np.array([0b0001, 0b0011, 0b1100, 0b1111], dtype=np.uint16)
    )
    needle = afp.pack_subfps(np.array([0b0011, 0b1100], dtype=np.uint16))
    jac, pos = afp.subfp_best_window(hay, needle)
    assert (jac, pos) == (pytest.approx(1.0), 1)
    # pos 0: inter |0001&0011|+|0011&1100| = 1+0, union |0011|+|1111|
    # = 2+4 -> 1/6; pos 2: inter |1100&0011|+|1111&1100| = 0+2, union
    # 4+4 -> 2/8 — the argmax is unambiguous
    # needle longer than hay / empty needle -> no window
    assert afp.subfp_best_window(needle, hay) == (0.0, -1)
    assert afp.subfp_best_window(hay, b"") == (0.0, -1)
    # zero-activity window scores 0 (no evidence is not a match)
    z = afp.pack_subfps(np.zeros(4, dtype=np.uint16))
    assert afp.subfp_best_window(z, afp.pack_subfps(np.zeros(2, dtype=np.uint16)))[0] == 0.0


def test_shingle_keys_hand_pin():
    """Only adjacent NONZERO pairs key: [0,3,5,0,7] has exactly one
    ((3 << 16) | 5); duplicates dedupe; short/empty streams key
    nothing."""
    keys = afp.snippet_shingle_keys(np.array([0, 3, 5, 0, 7], dtype=np.uint16))
    assert keys.tolist() == [(3 << 16) | 5]
    dup = afp.snippet_shingle_keys(np.array([3, 5, 3, 5], dtype=np.uint16))
    assert dup.tolist() == [(3 << 16) | 5, (5 << 16) | 3]  # deduped, sorted
    assert afp.snippet_shingle_keys(np.array([7], dtype=np.uint16)).size == 0
    assert afp.snippet_shingle_keys(np.empty(0, dtype=np.uint16)).size == 0


def test_snippet_frozen_truth_matches_live_derivation():
    assert derive_snippet_expected() == SNIPPET_EXPECTED


def test_snippet_search_matches_brute_force(spark):
    """The Spark path (shingle-key join + rank cap + best-window
    verify) must reproduce the brute-force frozen truth exactly —
    including the containment POSITIONS, which are by construction
    the cut offsets in hops (156 = the 5 s integer-hop cut, 157 = the
    sub-hop cut's nearest alignment, 194 = the 6.2 s h1 cut)."""
    idx = afp.fingerprint_clips_full(
        spark.createDataFrame(build_snippet_index_rows(), _SCHEMA)
    ).localCheckpoint()
    qs = afp.fingerprint_clips_full(
        spark.createDataFrame(build_snippet_query_rows(), _SCHEMA)
    ).localCheckpoint()

    got = sorted(
        (r.qid, r.clip_id, round(r.jaccard, 6), r.pos)
        for r in afp.audio_snippet_search(idx, qs).collect()
    )
    assert got == SNIPPET_EXPECTED

    # blocking is load-bearing: the distinct control shares < 3 keys
    # with every clip, so relaxing ONLY the Jaccard bar still returns
    # nothing for it, while relaxing the evidence floor admits it as a
    # (low-scoring) candidate
    relaxed_jac = afp.audio_snippet_search(idx, qs, min_jaccard=0.0)
    assert relaxed_jac.filter("qid = 'q_ctrl'").count() == 0
    relaxed_all = afp.audio_snippet_search(
        idx, qs, min_jaccard=0.0, min_shared=1
    )
    ctrl = relaxed_all.filter("qid = 'q_ctrl'").collect()
    assert ctrl  # blocked in, but...
    assert all(r.jaccard < afp.FP_SNIPPET_JACCARD for r in ctrl)  # ...far
    # degenerate / error queries never produce rows under any dial
    assert relaxed_all.filter("qid in ('q_deg', 'q_err')").count() == 0
