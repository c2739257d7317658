"""Dedup/similarity operator behavior on planted duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_pkg_spider_spark.operators import dedup, similarity

BASE = (
    "the quick brown fox jumps over the lazy dog while reporters gather at the "
    "scene to cover the story in detail for the local economy and the residents"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # one shingle-window changed
OTHER = (
    "completely different content about databases and distributed query engines "
    "processing large volumes of columnar data with vectorized execution kernels"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE, "s1"),
        (2, BASE, "s1"),          # exact dup of 1
        (3, NEAR, "s1"),          # near dup of 1
        (4, OTHER, "s1"),
        (5, BASE.upper(), "s2"),  # case-normalized dup of 1 (other group)
        (6, OTHER, "s2"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_exact_dedup(corpus):
    out = dedup.exact_dedup(corpus, "text", "doc_id").collect()
    by_kept = {r.kept_id: r.dup_count for r in out}
    # 1,2,5 normalize to the same text -> kept_id=1, dup_count=3
    assert by_kept[1] == 3
    assert by_kept[3] == 1 and by_kept[4] == 2  # OTHER appears twice (4,6)


def test_ngram_jaccard_pairs(corpus):
    pairs = dedup.ngram_jaccard_pairs(
        corpus, "text", "doc_id", "source", threshold=0.5
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got  # exact dup, jaccard 1.0
    assert (1, 3) in got and (2, 3) in got  # near dup
    assert not any(4 in p for p in got)  # unrelated never pairs


def test_ngram_group_cap_bounds_pairs_and_surfaces_drops(spark):
    """VERDICT r6 #3: one giant group key must NOT go quadratic — the
    runtime cap keeps the smallest max_group_size ids, the pair count
    is bounded at C(cap, 2), and the overflow is surfaced through the
    observed metric. The capped result equals running on the
    pre-truncated input (deterministic keep set)."""
    from pyspark.sql import Observation

    rows = [(i, f"unique text number {i} " + BASE, "web") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    obs = Observation()
    pairs = dedup.ngram_jaccard_pairs(
        df, "text", "doc_id", "source", threshold=0.0,
        max_group_size=10, observation=obs,
    ).collect()
    assert len(pairs) == 45  # C(10,2), not C(50,2)=1225
    assert max(max(r.id_a, r.id_b) for r in pairs) == 9  # smallest ids kept
    m = obs.get
    assert m["dropped_members"] == 40
    assert m["max_group_members"] == 50 and m["n_groups"] == 1
    manual = dedup.ngram_jaccard_pairs(
        df.filter(F.col("doc_id") < 10), "text", "doc_id", "source",
        threshold=0.0,
    ).collect()
    assert {(r.id_a, r.id_b, r.jaccard) for r in pairs} == {
        (r.id_a, r.id_b, r.jaccard) for r in manual
    }
    with pytest.raises(ValueError):
        dedup.ngram_jaccard_pairs(
            df, "text", "doc_id", "source", max_group_size=1
        )


def test_ngram_group_cap_headroom_at_gate_scale(spark):
    """The DuckDB oracle for ngram_jaccard_pairs_docs does not model the
    group cap, so hash parity silently depends on every gate-scale group
    staying under it (same posture as the LSH bucket-cap headroom
    assertion) — pin the headroom via the observed metric."""
    from pyspark.sql import Observation

    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        obs = Observation()
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        dedup.ngram_jaccard_pairs(
            d, "text", "doc_id", "source", threshold=0.3, observation=obs
        ).write.format("noop").mode("overwrite").save()
        assert obs.get["max_group_members"] < 1024, sf_dir


def test_minhash_lsh_finds_planted_dups(corpus):
    pairs = dedup.minhash_lsh_candidates(corpus, "text", "doc_id").collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert got.get((1, 2)) == 1.0
    assert (1, 5) in got  # case-normalized exact dup across groups
    near = got.get((1, 3)) or got.get((2, 3))
    assert near is not None and near > 0.5
    # LSH never surfaces the unrelated doc as a high-jaccard pair
    assert all(
        j < 0.2
        for (a, b), j in got.items()
        if (4 in (a, b) or 6 in (a, b)) and (a, b) != (4, 6)
    )
    assert got.get((4, 6)) == 1.0  # identical OTHER docs found too


def test_simhash_neardup(corpus):
    sh = {
        r.doc_id: r.sh
        for r in corpus.select("doc_id", dedup.simhash64(F.col("text")).alias("sh")).collect()
    }

    def hamming(a, b):
        return bin((sh[a] ^ sh[b]) & (2**64 - 1)).count("1")

    assert hamming(1, 2) == 0  # identical -> identical simhash
    assert hamming(4, 6) == 0
    assert hamming(1, 3) <= 6  # near dup within small hamming distance
    assert hamming(1, 4) > 6 and hamming(2, 4) > 6


def test_simhash_deterministic(corpus):
    a = corpus.select("doc_id", dedup.simhash64(F.col("text")).alias("sh")).collect()
    b = corpus.select("doc_id", dedup.simhash64(F.col("text")).alias("sh")).collect()
    assert a == b


def test_embedding_neardup_and_ann(spark):
    dim = 8
    base = [1.0, 0.5, -0.25, 0.125, 0.8, -0.4, 0.2, -0.1]
    near = [x * 1.01 + (0.001 if i == 0 else 0) for i, x in enumerate(base)]
    ortho = [0.0, 0.0, 1.0, 1.0, 0.0, 0.0, -1.0, 1.0]
    rows = [(1, base), (2, near), (3, ortho)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pairs = similarity.embedding_neardup_pairs(
        df, "embedding", "vec_id", dim=dim, threshold=0.99
    ).collect()
    got = {(r.id_a, r.id_b): r.cosine_sim for r in pairs}
    assert (1, 2) in got and got[(1, 2)] > 0.999
    assert (1, 3) not in got

    topk = similarity.brute_force_topk(df, "embedding", "vec_id", base, k=2).collect()
    assert [r.vec_id for r in topk] == [1, 2]

    lsh = similarity.lsh_bucketed_topk(df, "embedding", "vec_id", base).collect()
    assert lsh[0].vec_id == 1  # nearest survives the pruning


def test_lsh_recall_vs_brute_force(spark):
    """On the real embeddings table, LSH top-10 must recover most of the
    exact top-10 (recall >= 0.5 at these settings)."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    q = [((-1.0) ** i) * (1.0 / (1 + i)) for i in range(64)]
    exact = {r.vec_id for r in similarity.brute_force_topk(e, "embedding", "vec_id", q, 10).collect()}
    approx = {r.vec_id for r in similarity.lsh_bucketed_topk(e, "embedding", "vec_id", q).collect()}
    assert len(exact & approx) >= 5


def test_hash64_matches_duckdb_md5_number_upper():
    """The 64-bit base hash must equal DuckDB's md5_number_upper so the
    minhash/simhash oracles replay signatures bit-identically."""
    import duckdb

    samples = ["", "a", "the quick brown fox", "中文 字符", "naïve café"]
    con = duckdb.connect()
    for s in samples:
        want = con.execute("select md5_number_upper(?)", [s]).fetchone()[0]
        assert dedup._hash64_bytes(s.encode("utf-8")) == want


def test_neardup_multiband_recall(spark):
    """Planted near-dup recall: 40 random unit-ish vectors, each with a
    small-perturbation twin (cosine >= ~0.99). With 4 bands x 8 planes
    P(pair shares a full band) ~= 0.97 at this cosine, so recall over 40
    planted pairs must be high; random cross pairs (cosine ~ 0) must not
    flood in."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 16))
    twin = base + 0.05 * rng.standard_normal((40, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)] + [
        (100 + i, [float(x) for x in twin[i]]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = similarity.embedding_neardup_pairs(
        df, "embedding", "vec_id", dim=16, threshold=0.95
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    hits = sum((i, 100 + i) in got for i in range(40))
    assert hits >= 30  # multi-band recall
    assert len(got) <= 80  # precision: no all-pairs flood


def test_range_join_counts_and_zero_rows(spark):
    """within_range_count: inclusive +/-window matches, and left rows
    with NO match survive with count 0 (the left-join rejoin)."""
    import datetime as dt

    from go_pkg_spider_spark.operators import rangejoin

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    left = spark.createDataFrame(
        [(1, t0, 7, "click"), (2, t0 + dt.timedelta(hours=3), 7, "click"),
         (3, t0, 8, "click")],
        schema,
    )
    right = spark.createDataFrame(
        [(10, t0 + dt.timedelta(seconds=300), 7, "view"),   # exactly +300s: inclusive
         (11, t0 - dt.timedelta(seconds=301), 7, "view"),   # 1s outside
         (12, t0, 9, "view")],                               # other user
        schema,
    )
    got = {
        r.event_id: r.n_in_range
        for r in rangejoin.within_range_count(
            left, right, "user_id", "ts", "event_id", window_seconds=300
        ).collect()
    }
    assert got == {1: 1, 2: 0, 3: 0}


def test_python_shingling_matches_word_shingles(spark):
    """Round 9: minhash shingling moved inside the UDF (lambda-free
    argument). The Python gram SET over the JVM-normalized text must
    equal word_shingles' output set for every row, including unicode
    spaces, tabs, repeated separators and <n-word shorties."""
    rows = [
        (1, "a b c d e"),
        (2, "  a\t b   c  "),
        (3, "one two"),                      # < n words -> empty
        (4, "x Y z x y Z x y z"),            # case + repeats
        (5, "word nbsp stays one-token here"),  # \s in Java excludes NBSP
        (6, None),
        (7, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    jvm = {
        r.doc_id: set(r.sh)
        for r in df.select(
            "doc_id", dedup.word_shingles(F.col("text"), 3).alias("sh")
        ).collect()
    }
    norm = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", dedup.normalized_text(F.col("text")).alias("s")
        ).collect()
    }
    for doc_id, s in norm.items():
        toks = [t for t in s.split(" ") if t] if s is not None else []
        grams = (
            {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
            if len(toks) >= 3
            else set()
        )
        assert grams == jvm[doc_id], doc_id
